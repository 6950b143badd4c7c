"""Physical-plan audits: assert the plans we designed are the plans Spark
actually runs (SURVEY §4). These are executable versions of the
`.explain("formatted")` checks — they fail if a future change silently
degrades a plan (regex re-evaluation, broadcast falling back to shuffle,
top-N becoming a global sort, filters not reaching the scan).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webalizer_spark.operators.enrich import (
    enrich_role_class,
    enrich_size_class,
)
from webalizer_spark.operators.parse import parse_transcripts
from webalizer_spark.operators.topn import top_n


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_parse_runs_regex_once(spark, transcripts):
    """The grok regex must appear exactly once in the parse plan (plus the
    sanitize regexp_replace) — the single-evaluation guarantee."""
    parsed = parse_transcripts(transcripts)
    # force all columns so pruning doesn't hide re-evaluation
    full = parsed.select(*parsed.columns)
    n = _plan(full).count("regexp_replace")
    assert n <= 2, f"grok regex duplicated in plan ({n} occurrences)"


def test_enrichment_joins_are_broadcast(spark, transcripts, dims):
    parsed = parse_transcripts(transcripts)
    j1 = enrich_role_class(parsed, dims["role_class"])
    p1 = _plan(j1.select("actor_class"))
    assert "BroadcastHashJoin" in p1, "role_class join must broadcast"
    assert "SortMergeJoin" not in p1
    j3 = enrich_size_class(parsed, dims["byte_ranges"])
    p3 = _plan(j3.select("size_class"))
    assert "BroadcastNestedLoopJoin" in p3, "range join must broadcast"


def test_topn_is_take_ordered_not_global_sort(spark, dims):
    agg = dims["tool_family"].groupBy("tool_family").count()
    plan = _plan(top_n(agg, "count", "tool_family", 5))
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_scan(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    q = df.filter(F.col("role") == "assistant").select("conv_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,assistant)]" in plan
    # column pruning: the scan must not read the fat text column
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_session_window_single_shuffle(spark, transcripts):
    from webalizer_spark.operators.sessionize import sessionize
    plan = _plan(sessionize(transcripts).select("session_seq"))
    # one Exchange for the conv_id window; the running-sum window reuses it
    assert plan.count("Exchange hashpartitioning(conv_id") == 1


def test_errors_sink_reads_parse_cache_no_rescan(spark, transcripts, dims):
    """Round 7: the errors sink is a narrow filter of the parse cache
    (bad rows keep their raw text in `_bad_text`) — no join, no second
    scan of the transcripts source. Rows must equal the old
    transcripts >< bad-keys join derivation exactly."""
    from pyspark.sql import functions as F

    from webalizer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts, dims)
    try:
        plan = _plan(res.errors)
        assert "Join" not in plan, plan
        assert "InMemoryTableScan" in plan, \
            "errors sink must read the parse cache (a FileScan may " \
            "appear only as the cached relation's lineage)"
        got = {tuple(r) for r in res.errors.collect()}
        bad_keys = (res.parsed.filter(~F.col("parse_ok"))
                    .select("conv_id", "turn_idx"))
        expected = {tuple(r) for r in
                    transcripts.join(bad_keys, ["conv_id", "turn_idx"],
                                     "inner").collect()}
        assert res.errors.columns == transcripts.columns
        assert got == expected and len(got) > 0
    finally:
        res.unpersist()


def _chain_to_spine(node) -> list[str]:
    """Class names of the executed nodes from ``node`` down to the scan
    of the cached spine (the cached relation holding ``turn_idx``),
    following first children through AQE wrappers, query stages and
    the cached aggregates in between."""
    names = []
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif cls.endswith("QueryStageExec"):
            node = node.plan()
        elif cls == "InMemoryTableScanExec":
            names.append(cls)
            if "turn_idx" in node.relation().output().toString():
                return names
            node = node.relation().cachedPlan()
        else:
            names.append(cls)
            node = node.children().apply(0)


def test_cached_spine_is_coalesced(spark, transcripts, dims):
    """AQE sizes the cached spine from its shuffle bytes instead of
    keeping spark.sql.shuffle.partitions partitions (session.py:
    canChangeCachedPlanOutputPartitioning), and coalescing whole hash
    partitions keeps the spine clustered by conv_id: the per-site
    aggregate reads the cache with no Exchange in between."""
    from webalizer_spark.operators import aggregates as A
    from webalizer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts, dims)
    try:
        res.enriched.count()
        nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert res.enriched.rdd.getNumPartitions() < nshuf
        per_site = A.per_site(res.enriched)
        per_site.collect()
        chain = _chain_to_spine(
            per_site._jdf.queryExecution().executedPlan())  # noqa: SLF001
        below = chain[chain.index("HashAggregateExec"):]
        assert "ShuffleExchangeExec" not in below, chain
    finally:
        res.unpersist()


def test_simhash_pairs_no_cartesian(spark):
    """The pigeonhole-blocked candidate join must plan as an equi-join on
    (block, value) — never a cartesian/all-pairs product."""
    from webalizer_spark.operators.dedup import shingles, simhash, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = simhash_pairs(simhash(shingles(docs), bits=16))
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan


def test_ann_candidates_equi_join_no_cartesian(spark):
    """ANN candidate generation is a (table, signature) equi-join with the
    query side broadcast; corpus-vs-query must never cross-join."""
    from webalizer_spark.operators.similarity import ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ann_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                   num_planes=4, num_tables=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_probe_join_no_cartesian(spark):
    """IVF probing joins corpus cells to query probes on cell_id (query
    side broadcast); only the tiny centroid dim may nested-loop."""
    from webalizer_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                   n_cells=4, n_probe=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_ivf_no_exchange_carries_vector_payloads(spark):
    """No Exchange may shuffle the qv/cv vector payloads before ranking:
    corpus vectors live in exactly one cell (n_probe=1 assignment), so
    candidate pairs are already unique and the old payload .distinct()
    was pure waste (round-2 verdict). Ranking shuffles only
    (query_id, neighbor_id, cos)."""
    from webalizer_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=3,
                   n_cells=4, n_probe=2)
    for line in _plan(out).splitlines():
        if "Exchange" in line:
            assert "qv#" not in line and "cv#" not in line, line


def test_lifecycle_chain_single_shuffle(spark):
    """tr2_sessions (parse -> sessionize -> entry_exit) runs on exactly
    ONE hash Exchange: the sessionize window shuffles by actor and the
    downstream groupBy(actor, session_seq) REUSES that partitioning
    (HashPartitioning(actor) satisfies the clustered distribution on a
    superset key) — no second shuffle for entry/exit."""
    import re

    from webalizer_spark.queries import QUERIES

    df = QUERIES["tr2_sessions"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    n = len(re.findall(
        r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)",
        plan))
    assert n == 1, f"lifecycle chain should shuffle once, saw {n}:\n{plan}"


def test_report_ranking_is_window_free(spark):
    """The report ranking path (with_share -> with_rank) contains no
    WindowExec anywhere — rank comes from the bounded broadcast
    self-join, share from a scalar aggregate (round-4 de-pinch)."""
    from webalizer_spark.queries import QUERIES

    df = QUERIES["tr2_top_tools"](spark, "/root/testdata/sf0.001")
    assert "Window" not in _plan(df)


def test_semantic_dedup_cell_equi_join_no_cartesian(spark):
    """SemDeDup's candidate generation must plan as a cell_id equi-join
    (centroids broadcast into the assignment; the corpus never
    cross-joins itself — only the tiny centroid dim may nested-loop)."""
    from webalizer_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, threshold=0.45))
    assert "CartesianProduct" not in plan


def test_materialize_mixture_is_narrow(spark):
    """Mixture execution is narrow over the corpus: the plan table
    arrives via broadcast joins and duplication is explode(sequence) —
    the only Exchanges are broadcast/scalar-aggregate sides; the corpus
    rows themselves never hash-repartition."""
    from webalizer_spark.operators.sampling import materialize_mixture

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = spark.createDataFrame(
        [(f"src{i}", 1.5) for i in range(20)],
        "source string, epochs double")
    plan = _plan(materialize_mixture(d.select("doc_id", "source"), w))
    assert "Generate" in plan                  # explode(sequence)
    assert "BroadcastHashJoin" in plan         # plan table broadcast
    # corpus side: no hash Exchange between its scan and the output —
    # every Exchange in the plan is a broadcast one (the plan-table
    # aggregation sits on the broadcast side)
    import re
    for line in plan.splitlines():
        if re.search(r"Exchange hashpartitioning", line):
            raise AssertionError(f"corpus hash shuffle in plan: {line}")


def test_dedup_keep_anti_join_broadcasts_small_drop_set(spark):
    """The shared keep anti-join (drop_non_min_members) broadcasts the
    drop set when it is small: the CC tail's localCheckpoint hides
    stats from AQE, which used to leave a SortMergeJoin LeftAnti
    (double Exchange+Sort) on an ids-only join (round-5 verdict nit)."""
    import re

    from webalizer_spark.operators.dedup import drop_non_min_members

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long")
    kept = drop_non_min_members(df, edges)
    assert kept.count() == 97
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_driver_table_read_widens_only_an_unsplittable_file(spark, tmp_path):
    """queries._t restores scan parallelism for a single-file fixture
    with fewer row groups than defaultParallelism: sf0.01 lineitem
    (1.04 MB, one row group) is round-robin repartitioned right after
    the read. The same rows as a multi-file directory already scan
    wide, so that read plans no Exchange at all."""
    import pyarrow.parquet as pq

    from webalizer_spark.queries import _t

    sf = "/root/testdata/sf0.01"
    single = _plan(_t(spark, sf, "lineitem"))
    wide = spark.sparkContext.defaultParallelism > 1
    assert ("RoundRobinPartitioning" in single) == wide, single

    table = pq.read_table(f"{sf}/lineitem.parquet")
    out = tmp_path / "lineitem.parquet"
    out.mkdir()
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), out / "part-0.parquet")
    pq.write_table(table.slice(half), out / "part-1.parquet")
    multi = _t(spark, str(tmp_path), "lineitem")
    assert "Exchange" not in _plan(multi), _plan(multi)
    assert multi.count() == table.num_rows
