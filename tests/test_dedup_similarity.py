from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webalizer_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_remove,
    shingles,
    simhash,
)
from webalizer_spark.operators.similarity import ann_topk, brute_force_topk

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # add exact + near duplicates with known ids
    d7 = base.filter("doc_id = 7").select(
        F.lit(100007).alias("doc_id"), "text", "lang", "source", "n_chars")
    d9 = base.filter("doc_id = 9").select(
        F.lit(100009).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
        "lang", "source", "n_chars")
    return base.unionByName(d7).unionByName(d9).cache()


def test_minhash_lsh_finds_planted_dups(spark, docs):
    sh = shingles(docs)
    cand = lsh_candidate_pairs(minhash_signatures(sh))
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (7, 100007) in pairs                     # exact dup always collides
    verified = jaccard_pairs(sh, 0.95, candidates=cand)
    got = {(r["doc_a"], r["doc_b"]) for r in verified.collect()}
    assert (7, 100007) in got
    assert (9, 100009) in got                       # near dup (one extra token)


def test_lsh_verified_subset_of_allpairs(spark, docs):
    """LSH+verify finds a SUBSET of the exact all-pairs result (candidate
    generation may miss, never invent)."""
    sh = shingles(docs).cache()
    exact = {(r["doc_a"], r["doc_b"])
             for r in jaccard_pairs(sh, 0.98).collect()}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in jaccard_pairs(
               sh, 0.98,
               candidates=lsh_candidate_pairs(minhash_signatures(sh))).collect()}
    assert lsh <= exact
    assert len(lsh) >= 0.8 * len(exact)             # recall on this corpus


def test_simhash_identical_docs_same_fingerprint(spark, docs):
    sh = shingles(docs)
    fp = {r["doc_id"]: r["simhash"] for r in simhash(sh).collect()}
    assert fp[7] == fp[100007]


def test_near_dup_remove_end_to_end(spark, docs):
    out = near_dup_remove(docs, threshold=0.95)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 100007 not in ids and 7 in ids
    assert 100009 not in ids and 9 in ids


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ann_topk(emb, queries, k=5, num_planes=4, num_tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        hit += r["neighbor_id"] in exact_sets[r["query_id"]]
    # 8-table 4-plane LSH: per-table collision ~0.13 for random pairs,
    # much higher for true neighbors; union recall should be solid
    assert total > 0
    assert hit / total > 0.5


def test_ivf_exhaustive_probe_equals_brute_force(spark):
    from webalizer_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    exact = sorted(map(tuple, brute_force_topk(emb, queries, k=5).collect()))
    ivf_all = sorted(map(tuple, ivf_topk(emb, queries, k=5, n_cells=8,
                                         n_probe=8).collect()))
    assert ivf_all == exact          # probing every cell == exhaustive


def test_ivf_partial_probe_recall_curve(spark):
    """recall@5 vs n_probe is deterministic (seeded k-means + md5
    sample): strictly improving with probes, >= 0.75 at n_probe=4 and
    exactly 1.0 at exhaustive probe. The fixture vectors are near-
    uniform random — the WORST case for IVF (no cluster structure to
    exploit), so these bounds are the honest floor; clustered real
    embeddings do better (curve recorded in BENCH.md)."""
    from webalizer_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = brute_force_topk(emb, queries, k=5).collect()
    es = {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(n_probe: int) -> float:
        approx = ivf_topk(emb, queries, k=5, n_cells=8,
                          n_probe=n_probe).collect()
        return sum(r["neighbor_id"] in es[r["query_id"]]
                   for r in approx) / len(approx)

    curve = {p: recall(p) for p in (1, 2, 4, 8)}
    assert curve[1] < curve[2] < curve[4] < curve[8]
    assert curve[4] >= 0.75
    assert curve[8] == 1.0


def test_shingles_short_doc_yields_no_shingles(spark):
    """Regression (round-1 advice): docs shorter than n tokens must yield
    zero shingles, not a runtime slice error."""
    from webalizer_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, "x")], "doc_id long, text string")
    out = shingles(df, n=3).toPandas()
    assert set(out.loc[out["doc_id"] == 1, "shingle"]) == \
        {"a b c", "b c d", "c d e"}
    assert (out["doc_id"] != 2).all() and (out["doc_id"] != 3).all()


def test_connected_components_chain_keeps_min_id(spark):
    """A~B~C chains dedup transitively: exactly the min id survives."""
    from webalizer_spark.operators.dedup import (
        connected_min_label,
        near_dup_remove,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long")
    labels = {r["v"]: r["label"]
              for r in connected_min_label(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    base = "tok%02d " * 30
    words = (base % tuple(range(30))).split()
    mk = lambda i, j: " ".join(  # noqa: E731
        w if k not in (i, j) else f"chg{k}_{i}" for k, w in enumerate(words))
    docs = spark.createDataFrame(
        [(1, mk(-1, -1)), (2, mk(0, -1)), (3, mk(0, 1)),
         (50, "completely different text with other tokens entirely here")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"]
                  for r in near_dup_remove(docs, threshold=0.8).collect())
    assert kept == [1, 50]


def test_all_pairs_guards_trip(spark, monkeypatch):
    """Quadratic baselines refuse oversized inputs, pointing at LSH."""
    import webalizer_spark.operators.dedup as D
    import webalizer_spark.operators.similarity as S

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(5)],
        "doc_id long, text string")
    sh = D.shingles(docs)
    monkeypatch.setattr(D, "ALL_PAIRS_MAX_DOCS", 3)
    with pytest.raises(ValueError, match="LSH"):
        D.jaccard_pairs(sh)
    # candidate-restricted path is exempt from the guard
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    D.jaccard_pairs(sh, candidates=cand).collect()

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(S, "ALL_PAIRS_MAX_VECS", 3)
    with pytest.raises(ValueError, match="lsh_signatures"):
        S.near_dup_cosine(emb)


def test_jaccard_candidates_first_matches_all_pairs(spark):
    """The candidates-first join (no post-hoc semi-join) returns the same
    pairs/values as the all-pairs baseline restricted to candidates."""
    from webalizer_spark.operators.dedup import jaccard_pairs, shingles

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "a x y z"), (4, "a b c d")],
        "doc_id long, text string")
    sh = shingles(docs)
    allp = jaccard_pairs(sh, threshold=0.1)
    cand = spark.createDataFrame(
        [(1, 2), (1, 4), (2, 3)], "doc_a long, doc_b long")
    got = sorted(map(tuple, jaccard_pairs(
        sh, threshold=0.1, candidates=cand).collect()))
    ref = sorted(map(tuple,
                     allp.join(cand, ["doc_a", "doc_b"], "left_semi")
                     .collect()))
    assert got == ref and len(got) == 3
    # exact all-pairs value for an excerpt: a 5-token excerpt of a
    # 20-token doc shares 5 of 20 distinct tokens, so Jaccard is 0.25
    # however contained the excerpt is; unrelated docs pair with nothing
    full = " ".join(f"w{i}" for i in range(20))
    ex = spark.createDataFrame(
        [(1, full), (2, "w0 w1 w2 w3 w4"), (3, "x1 x2 x3 x4 x5 x6")],
        "doc_id long, text string")
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_pairs(shingles(ex), threshold=0.1).collect()}
    assert jac == {(1, 2): 0.25}


def test_simhash_pairs_blocking_is_lossless(spark, docs):
    """Pigeonhole blocking (4 blocks, max_hamming 2 < 4) must return
    exactly the all-pairs Hamming result — candidates may be a superset,
    never a lossy subset."""
    from webalizer_spark.operators.dedup import simhash_pairs

    sig = simhash(shingles(docs), bits=16).cache()
    blocked = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in simhash_pairs(sig, max_hamming=2).collect()}
    a = sig.select(F.col("doc_id").alias("doc_a"),
                   F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"),
                   F.col("simhash").alias("sb"))
    naive = {(r["doc_a"], r["doc_b"], r["h"]) for r in
             a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
             .withColumn("h", F.bit_count(F.expr("sa ^ sb")).cast("int"))
             .filter(F.col("h") <= 2)
             .select("doc_a", "doc_b", "h").collect()}
    assert blocked == naive and (7, 100007, 0) in blocked
    sig.unpersist()


def test_simhash_pairs_param_validation(spark):
    from webalizer_spark.operators.dedup import simhash_pairs

    sig = spark.createDataFrame([(1, 3)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(sig, max_hamming=4, n_blocks=4)
    with pytest.raises(ValueError, match="evenly"):
        simhash_pairs(sig, bits=10, n_blocks=4)
    # bits=64 is VALID (block values mask to their low bits, discarding
    # the bigint sign extension, so a full-width fingerprint joins);
    # past 64 still refuses
    simhash_pairs(sig, bits=64, n_blocks=4)  # must not raise
    with pytest.raises(ValueError, match=r"\[1, 64\]"):
        simhash_pairs(sig, bits=65, n_blocks=5)


@pytest.fixture(scope="module")
def boilerplate(spark):
    """1000 byte-identical docs (degenerate LSH/winnow/simhash buckets)
    plus a handful of unrelated unique docs."""
    rows = [(i, "the same boilerplate text repeated in every document "
                "of this batch word for word") for i in range(1000)]
    rows += [(2000 + i,
              f"unique document number {i} with tokens a{i} b{i} c{i} "
              f"d{i} e{i} f{i} g{i}") for i in range(4)]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


def test_hot_bucket_cap_lsh(spark, boilerplate, caplog):
    """1000 identical docs share every band key -> ~500k candidate pairs
    uncapped; the cap drops those buckets (logged) and the join stays
    bounded. Unique docs are unaffected."""
    import logging

    sig = minhash_signatures(shingles(boilerplate), 8)
    with caplog.at_level(logging.WARNING, logger="webalizer_spark.dedup"):
        capped = lsh_candidate_pairs(sig, 2, max_bucket_size=50).count()
    # boilerplate buckets dropped; only the 4 unique docs may still
    # collide (they share a few common words), i.e. <= C(4,2) pairs
    assert capped <= 6
    assert any("hot bucket" in r.getMessage() for r in caplog.records)
    # sanity: with a cap that nothing exceeds, exact semantics persist
    assert lsh_candidate_pairs(sig, 2, max_bucket_size=10_000).count() \
        == lsh_candidate_pairs(sig, 2).count()


def test_hot_bucket_cap_simhash(spark, boilerplate, caplog):
    import logging

    from webalizer_spark.operators.dedup import simhash, simhash_pairs

    sig = simhash(shingles(boilerplate), bits=16)
    with caplog.at_level(logging.WARNING, logger="webalizer_spark.dedup"):
        n = simhash_pairs(sig, max_hamming=2, max_block_freq=50).count()
    assert n < 1000 * 999 / 2
    assert any("simhash_pairs" in r.getMessage() for r in caplog.records)


def test_hot_fingerprint_cap_winnow(spark, boilerplate, caplog):
    """MOSS's over-common-fingerprint rule: fingerprints shared by the
    whole batch carry no copy signal and are dropped before the join."""
    import logging

    from webalizer_spark.operators.dedup import (winnow_copy_pairs,
                                                 winnow_fingerprints)

    fp = winnow_fingerprints(boilerplate, k=3, window=4)
    with caplog.at_level(logging.WARNING, logger="webalizer_spark.dedup"):
        capped = winnow_copy_pairs(fp, min_shared=1, max_fp_freq=50).count()
    assert capped == 0
    assert any("winnow_copy_pairs" in r.getMessage() for r in caplog.records)
    # uncapped, the identical docs all pair up
    assert winnow_copy_pairs(fp, min_shared=1).count() == 1000 * 999 / 2


def test_emb_near_dup_lsh_drops_subset_of_allpairs(spark):
    """Every id the LSH-path removal drops must belong to some all-pairs
    near-dup pair (candidates may miss pairs, never invent them), and
    kept + dropped partitions the corpus."""
    from webalizer_spark.operators.similarity import (
        near_dup_cosine,
        near_dup_remove_lsh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    kept = {r["vec_id"]
            for r in near_dup_remove_lsh(emb, 0.45).select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    dropped = all_ids - kept
    pairs = near_dup_cosine(emb, 0.45).collect()
    in_some_pair = ({r["vec_a"] for r in pairs}
                    | {r["vec_b"] for r in pairs})
    assert dropped <= in_some_pair
    # min-id rule: the smallest id of any verified pair is never dropped
    assert min(in_some_pair, default=0) in kept or not pairs


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing's defining property: two docs sharing a token run of
    length >= window + k - 1 (= 6 here) must share at least one
    fingerprint, wherever the run sits in either doc."""
    from webalizer_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token run
    docs = spark.createDataFrame(
        [(1, f"x y z {shared} p q"),
         (2, f"{shared} r s t u v w"),
         (3, "totally different tokens here none common at all")],
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=3, window=4)
    by_doc = {d: {r["fingerprint"] for r in rows} for d, rows in
              ((i, fp.filter(F.col("doc_id") == i).collect()) for i in (1, 2, 3))}
    assert by_doc[1] & by_doc[2], "shared 6-token run must collide"
    assert not (by_doc[1] & by_doc[3])
    # a doc shorter than window+k-1 grams yields no fingerprints, not an error
    short = spark.createDataFrame([(9, "just four tokens here")],
                                  "doc_id long, text string")
    assert winnow_fingerprints(short, k=3, window=4).count() == 0


def test_lsh_signature_paths_agree_on_short_vectors(spark):
    """Vectors shorter than dim (or with NULL elements) sign the terms
    they have: the fold skips missing terms like SQL SUM skips NULLs
    (the DuckDB oracle's _LSH_SIG_CTE arithmetic) — a NULL-poisoned fold
    would silently zero every plane. The reference is exact decimal
    arithmetic over the same md5 weights."""
    from decimal import ROUND_HALF_UP, Decimal

    from webalizer_spark.operators.similarity import (
        _lsh_weight,
        lsh_signatures,
    )

    rows = [(1, [0.5] * 64), (2, [0.25] * 32), (3, [1.0] * 8),
            (4, [0.5, None] * 16)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = Decimal("1e-12")
    exp = []
    for vid, vec in rows:
        for t in range(2):
            sig = 0
            for j in range(4):
                # CAST(x * w AS DECIMAL(18,12)) per term, then SUM
                p = sum(Decimal(x * _lsh_weight(t, j, i)).quantize(
                            q, ROUND_HALF_UP)
                        for i, x in enumerate(vec) if x is not None)
                sig += 2 ** j if p >= 0 else 0
            exp.append((vid, t, sig))
    lit = sorted(map(tuple, lsh_signatures(
        emb, 4, 64, num_tables=2).collect()))
    assert lit == sorted(exp)
    assert all(sig != 0 for _, _, sig in lit)   # not NULL-poisoned


def test_semantic_dedup_cluster_path(spark):
    """SemDeDup (cluster-then-prune): ids dropped by the cell-bucketed
    path are a subset of the all-pairs near-dup vertex set (cluster
    candidates may miss cross-cell pairs, never invent edges), the
    min-id member of any verified pair survives, and a hot-cell cap
    logs and drops rather than letting one degenerate cell go
    quadratic. Both centroid sources run: the deterministic
    fixed_centroids (the oracle twin's pin) and the sampled-k-means
    production path."""
    from webalizer_spark.operators.similarity import (
        fixed_centroids,
        near_dup_cosine,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    pairs = near_dup_cosine(emb, 0.45).collect()
    in_some_pair = ({r["vec_a"] for r in pairs}
                    | {r["vec_b"] for r in pairs})
    for cents in (fixed_centroids(emb, 4), None):
        kept = {r["vec_id"]
                for r in semantic_dedup(emb, 0.45, centroids=cents)
                .select("vec_id").collect()}
        dropped = all_ids - kept
        assert dropped <= in_some_pair
        assert min(in_some_pair, default=0) in kept or not pairs

    # hot-cell cap: capping every cell to 1 member leaves no pairs at
    # all -> nothing is dropped (and the drop is logged, not silent)
    kept_capped = semantic_dedup(emb, 0.45, max_cell_size=1).count()
    assert kept_capped == len(all_ids)
