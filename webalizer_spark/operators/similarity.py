"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (broadcast the query set,
never shuffle the corpus); random-hyperplane LSH bucketing is the scale
path (signature equi-join restricts the candidate set). All arithmetic
is built-in expressions (zip_with/aggregate folds) — no Python. Every
operator reads vectors as (vec_id, embedding) rows, the shape of the
embeddings table. Oracle-checked through the queries.py rows that
call these operators (emb_cosine_topk, emb_ann_topk, emb_ivf_topk,
emb_near_dup_cosine, emb_near_dup_keep, emb_semdedup_keep).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D,"
        " (acc, v) -> acc + v)")
_NORM = "sqrt(aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v))"


def cosine(a: str, b: str) -> F.Column:
    return (F.expr(_DOT.format(a=a, b=b))
            / (F.expr(_NORM.format(a=a)) * F.expr(_NORM.format(a=b))))


def _norm_col(vec_col: str) -> F.Column:
    return F.expr(_NORM.format(a=vec_col))


def _pair_cos(a: str, b: str, na: str, nb: str) -> F.Column:
    """Cosine from a per-pair dot product and PRE-computed per-row norms.

    cosine() folds three O(d) aggregates per candidate pair (dot + both
    norms); every ranking/verify path below instead computes each row's
    norm ONCE before the join and carries it as a scalar column, so the
    per-pair work drops to one fold. Bit-identical to cosine(): the same
    IEEE operations on the same inputs, just not repeated per pair.
    """
    return F.expr(_DOT.format(a=a, b=b)) / (F.col(na) * F.col(nb))


def _normed(df: DataFrame, id_as: str, vec_as: str,
            norm_as: str) -> DataFrame:
    """(id, vector, L2 norm) under the given names: each row's norm is
    computed once, before any pair join, for _pair_cos."""
    return df.select(F.col("vec_id").alias(id_as),
                     F.col("embedding").alias(vec_as),
                     _norm_col("embedding").alias(norm_as))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Each query's k best (query_id, neighbor_id, cos) pairs: rank by
    cos descending, then neighbor_id ascending, with a per-query
    row_number window (the query_id key space is small)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("cos", 6).alias("cos")))


def brute_force_topk(corpus: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """Exact top-k: broadcast(queries) x corpus, per-query size-k window.

    At scale the corpus never moves: each executor streams its corpus
    partition against the broadcast queries; ranking is per-query
    row_number (size-k heap semantics via TakeOrdered per partition would
    need an agg — the window over query_id keys is small)."""
    q = _normed(queries, "query_id", "qv", "qn")
    c = _normed(corpus, "neighbor_id", "cv", "cn")
    pairs = (F.broadcast(q).crossJoin(c)
             .filter(F.col("query_id") != F.col("neighbor_id"))
             .withColumn("cos", _pair_cos("qv", "cv", "qn", "cn")))
    return _top_k(pairs, k)


def lsh_signatures(emb: DataFrame, num_planes: int = 8, dim: int = 64,
                   num_tables: int = 1) -> DataFrame:
    """Deterministic random-hyperplane signatures: md5-seeded +-1 weights,
    exact-decimal projections (sign is order-independent).

    With num_tables > 1 emits one signature row per (id, table) — the
    multi-table LSH layout (recall compounds across tables: a true
    neighbor is a candidate if it collides in ANY table).

    Physical plan (round 3): the weights are a DETERMINISTIC function of
    (t, j, i), so they are materialized as literal arrays on the driver
    and every signature is computed PER ROW — one narrow projection +
    inline, ZERO shuffle (the previous explode x weights crossJoin +
    two groupBys shuffled num_tables*num_planes*dim rows per vector;
    2x faster already at 2 000 vectors and strictly better at scale).
    Decimal-fold accumulation keeps projections bit-identical to the
    old groupBy-decimal-sum and to the DuckDB oracle (_LSH_SIG_CTE).
    The expression tree holds planes*tables*dim literal weights; every
    caller stays at or below 8*8*64.
    """
    structs = [F.struct(F.lit(t).alias("t"),
                        _lsh_sig("embedding", partial(_lsh_weight, t),
                                 num_planes, dim).alias("sig"))
               for t in range(num_tables)]
    out = emb.select("vec_id", F.inline(F.array(*structs)))
    return out.select("vec_id", F.col("t").cast("int").alias("t"),
                      F.col("sig").cast("bigint").alias("sig"))


def _lsh_sig(vec_col: str, weight: Callable[[int, int], float],
             num_planes: int, dim: int) -> F.Column:
    """One signature column: bit j is set when the projection on plane j
    (weights ``weight(j, i)`` for i < dim) is >= 0. The weight function
    carries the seeding, so lsh_signatures' md5(t|j|i) tables and the
    single-table md5(j|i) layout of queries.emb_lsh_signatures share
    this fold."""
    sig = None
    for j in range(num_planes):
        proj = _lsh_proj_fold(vec_col, [weight(j, i) for i in range(dim)])
        bit = F.when(proj >= 0, F.lit(2 ** j).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig + bit
    return sig


def _lsh_weight(t: int, j: int, i: int) -> float:
    """md5(t|j|i) seeding of the +-1 hyperplane weights — MUST stay
    bit-identical to queries.py's _LSH_SIG_CTE wt (the DuckDB oracle)."""
    import hashlib

    h = int(hashlib.md5(f"{t}|{j}|{i}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def _lsh_proj_fold(vec_col: str, weights: list[float]) -> F.Column:
    """Exact-decimal +-1-weighted projection of a vector column against
    a literal weight array, as a zip_with/aggregate fold (ONE F.expr —
    a Column-API lambda build was tried in round 7 and measured ~20x
    slower to CONSTRUCT via py4j round-trips; the single parsed string
    is the cheaper driver path). coalesce(v, 0) skips missing terms
    the way SQL SUM skips NULLs, so short/NULL-element vectors produce
    the signature of their present terms (as the oracle's SUM does)
    instead of a NULL-poisoned all-zero signature."""
    arr = "array(" + ",".join(f"{w:.1f}D" for w in weights) + ")"
    return F.expr(
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, y) -> CAST(CAST(x AS DOUBLE) * y AS DECIMAL(18,12))), "
        f"CAST(0 AS DECIMAL(18,12)), "
        f"(acc, v) -> CAST(acc + coalesce(v, CAST(0 AS DECIMAL(18,12)))"
        f" AS DECIMAL(18,12)))")


def ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             num_planes: int = 4, num_tables: int = 8,
             dim: int = 64) -> DataFrame:
    """ANN top-k: exact ranking restricted to LSH-bucket candidates,
    unioned across num_tables independent tables (standard multi-table
    random-hyperplane LSH: per-table collision prob ~ (1 - theta/pi)^b,
    recall 1-(1-p)^L). The (table, signature) equi-join + distinct
    replaces the full cross join; recall vs the exact baseline is
    asserted in tests/test_dedup_similarity.py."""
    sig_c = lsh_signatures(corpus, num_planes, dim, num_tables)
    sig_q = lsh_signatures(queries, num_planes, dim, num_tables)
    q = (queries.join(sig_q, "vec_id")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv"),
                 F.col("t").alias("qt"), F.col("sig").alias("qsig")))
    c = (corpus.join(sig_c, "vec_id")
         .select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("cv"),
                 F.col("t").alias("ct"), F.col("sig").alias("csig")))
    # distinct on ids only (cheap), vectors joined back after — never
    # dedupe on array payloads
    cand_ids = (F.broadcast(q.drop("qv")).join(
        c.drop("cv"), (F.col("qt") == F.col("ct"))
        & (F.col("qsig") == F.col("csig")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct())
    qv = _normed(queries, "query_id", "qv", "qn")
    cv = _normed(corpus, "neighbor_id", "cv", "cn")
    pairs = (cand_ids.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
             .withColumn("cos", _pair_cos("qv", "cv", "qn", "cn")))
    return _top_k(pairs, k)


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               n_probe: int) -> DataFrame:
    """Assign each vector to its n_probe nearest centroids by cosine.

    centroids is tiny (n_cells rows) -> broadcast cross join + per-vector
    top-n_probe window; the corpus never shuffles on the payload.
    """
    c = centroids.select(F.col("cell_id"), F.col("centroid"))
    scored = (corpus.select("vec_id", "embedding")
              .crossJoin(F.broadcast(c))
              .withColumn("csim", cosine("embedding", "centroid")))
    if n_probe == 1:
        # the common case is a pure argmax: max_by over a
        # (csim, -cell_id) struct is a hash aggregate with map-side
        # partials — no Exchange+sort of the scored corpus, which the
        # row_number window below pays (round 7, guide §2.4). The
        # struct ordering reproduces the window's tie-break exactly
        # (csim desc, then cell_id asc), so the assignment is
        # identical row for row.
        return (scored.groupBy("vec_id")
                .agg(F.max_by("cell_id",
                              F.struct(F.col("csim"),
                                       (-F.col("cell_id")).alias("nc")))
                     .alias("cell_id")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cell_id").asc())
    return (scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= n_probe)
            .select("vec_id", "cell_id"))


# Standalone all-pairs baselines refuse inputs past this many vectors —
# past it the O(n^2) cross join is a plan bug; use ann_topk / the LSH
# bucket path instead.
ALL_PAIRS_MAX_VECS = 100_000


def near_dup_cosine(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs — the EXACT all-pairs baseline of
    semantic dedup (size-guarded). The scale path is the LSH twin:
    lsh_signatures bucket join, then this cosine only on candidates."""
    n = emb.select("vec_id").distinct().count()
    if n > ALL_PAIRS_MAX_VECS:
        raise ValueError(
            f"near_dup_cosine: {n} vectors exceeds the all-pairs baseline "
            f"bound ({ALL_PAIRS_MAX_VECS}); use lsh_signatures/ann_topk "
            "bucket candidates instead")
    a = _normed(emb, "vec_a", "ea", "_na")
    b = _normed(emb, "vec_b", "eb", "_nb")
    return (a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("_c", _pair_cos("ea", "eb", "_na", "_nb"))
            .filter(F.col("_c") >= threshold)
            .select("vec_a", "vec_b", F.round("_c", 6).alias("cos")))


def _keep_min_of_verified(emb: DataFrame, cand: DataFrame,
                          threshold: float) -> DataFrame:
    """The tail of both embedding-dedup operators: exact cosine on the
    candidate (va, vb) id pairs only — vectors and norms join back by
    id after candidate pruning — then keep the minimum-id member of
    each component of the >= threshold edges."""
    from webalizer_spark.operators.dedup import drop_non_min_members

    ea = _normed(emb, "va", "_ea", "_na")
    eb = _normed(emb, "vb", "_eb", "_nb")
    edges = (cand.join(ea, "va").join(eb, "vb")
             .filter(_pair_cos("_ea", "_eb", "_na", "_nb") >= threshold)
             .select(F.col("va").alias("doc_a"), F.col("vb").alias("doc_b")))
    return drop_non_min_members(emb, edges, "vec_id")


def near_dup_remove_lsh(emb: DataFrame, threshold: float = 0.45,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Semantic near-dup removal END-TO-END at scale: multi-table
    hyperplane-LSH bucket candidates (8 tables x 4 planes over 64
    dimensions) -> exact cosine verify (only on
    candidate pairs) -> connected components (min-label, pointer-jump)
    -> keep exactly the minimum-id member of each dup component. The
    scale twin of near_dup_cosine (the size-guarded all-pairs
    baseline): the corpus never self-cross-joins — candidates come
    from the (table, signature) equi-join, so the quadratic term is
    bounded by bucket sizes. Oracle-checked bit-exact in queries.py
    (emb_near_dup_keep, vs a recursive-CTE closure)."""
    from webalizer_spark.operators.dedup import _cap_hot_keys

    sig = lsh_signatures(emb, num_planes=4, dim=64, num_tables=8)
    # hot-bucket cap (same hazard as text LSH: near-constant embeddings
    # — e.g. zero vectors — collapse into one (t, sig) bucket)
    sig = _cap_hot_keys(sig, ["t", "sig"], max_bucket_size,
                        "near_dup_remove_lsh")
    a = sig.select(F.col("vec_id").alias("va"), F.col("t").alias("ta"),
                   F.col("sig").alias("sa"))
    b = sig.select(F.col("vec_id").alias("vb"), F.col("t").alias("tb"),
                   F.col("sig").alias("sb"))
    cand = (a.join(b, (F.col("ta") == F.col("tb"))
                   & (F.col("sa") == F.col("sb"))
                   & (F.col("va") < F.col("vb")))
            .select("va", "vb").distinct())
    return _keep_min_of_verified(emb, cand, threshold)


def ivf_centroids(corpus: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic sampled spherical k-means centroids.

    Production IVF shape [inverted-file ANN]: train on a bounded sample,
    not the corpus. Here the sample is the 1024 vectors with the
    LOWEST md5(id) — a seeded, engine-portable pseudo-random pick that is
    one distributed TakeOrdered, never a full sort. 10 Lloyd iterations
    run on the driver over <= 1024 points (numpy, fixed init = first
    n_cells of the hash order), so the result is bit-deterministic and
    the cluster never iterates. cell_id is the centroid's position in
    the init order (no monotonically_increasing_id / limit-coalesce
    fragility).
    """
    import numpy as np

    rows = (corpus.select("vec_id", "embedding")
            .orderBy(F.md5(F.concat(F.lit("ivf|"),
                                    F.col("vec_id").cast("string"))).asc(),
                     F.col("vec_id").asc())
            .limit(1024).collect())
    pts = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(pts, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    unit = pts / norms
    k = min(n_cells, len(unit))
    cents = unit[:k].copy()
    for _ in range(10):
        assign = np.argmax(unit @ cents.T, axis=1)
        for j in range(k):
            members = unit[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    cents[j] = m / nm
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(j, [float(x) for x in cents[j]]) for j in range(k)],
        "cell_id int, centroid array<double>")


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 2) -> DataFrame:
    """IVF ANN top-k: inverted-file search. Corpus vectors live in their
    1 nearest cell; each query probes its n_probe nearest cells and ranks
    exactly within the probed candidates. n_probe == n_cells degenerates
    to exhaustive search (asserted equal to brute force in tests)."""
    cents = ivf_centroids(corpus, n_cells)
    corpus_cells = ivf_assign(corpus, cents, 1) \
        .withColumnRenamed("vec_id", "neighbor_id")
    query_probes = ivf_assign(queries, cents, n_probe) \
        .withColumnRenamed("vec_id", "query_id")
    cv = _normed(corpus, "neighbor_id", "cv", "cn") \
        .join(corpus_cells, "neighbor_id")
    qv = _normed(queries, "query_id", "qv", "qn") \
        .join(query_probes, "query_id")
    # no dedupe needed: corpus vectors are assigned to exactly ONE cell
    # (n_probe=1 above), so a (query, neighbor) pair can match in at most
    # one probed cell — a .distinct() here would shuffle full vector
    # payloads for nothing (if corpus-side multi-assignment is ever
    # added, dedupe on ids only, then join vectors back)
    pairs = (F.broadcast(qv).join(cv, "cell_id")
             .filter(F.col("query_id") != F.col("neighbor_id"))
             .withColumn("cos", _pair_cos("qv", "cv", "qn", "cn")))
    return _top_k(pairs, k)


def fixed_centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic no-training centroids: the embeddings of the
    n_cells smallest ids, cell_id = position in id order. Exists so
    cluster-bucketed operators have an engine-portable oracle twin
    (DuckDB re-derives the same centroids with ORDER BY + LIMIT); the
    production path is ivf_centroids' sampled spherical k-means."""
    return (emb.orderBy(F.col("vec_id").asc()).limit(n_cells)
            .select("vec_id", F.col("embedding").alias("centroid"))
            .withColumn("cell_id", (F.row_number().over(
                Window.orderBy(F.col("vec_id").asc())) - 1).cast("int"))
            .select("cell_id", "centroid"))


def semantic_dedup(emb: DataFrame, threshold: float = 0.45,
                   centroids: DataFrame | None = None,
                   max_cell_size: int | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster-then-prune, per the
    published SemDeDup recipe): k-means-cluster the embeddings (16
    cells unless `centroids` are given), compare
    pairs ONLY within a cluster (near-dups land in the same cell
    because they are near the same centroid), exact cosine on the
    within-cell candidates, connected components over the >= threshold
    edges, keep the minimum-id member of each component.

    The third member of the embedding-dedup family, with a genuinely
    different candidate generator: near_dup_cosine = exact all-pairs
    (size-guarded baseline), near_dup_remove_lsh = hyperplane-LSH
    buckets (recall from multi-table OR), semantic_dedup = centroid
    cells (recall from cluster locality — cheaper than LSH when a good
    clustering exists, the standard choice for web-scale embedding
    curation). 100 TB shape: centroids broadcast (tiny), the corpus
    shuffles ONCE on cell_id for the self-join, pair work is bounded
    by cell sizes (max_cell_size caps pathological cells exactly like
    LSH's hot-bucket cap), and only (id, cell) pairs plus candidate
    ids cross the wire beyond that one partition pass — vector
    payloads join back by id AFTER candidate pruning.
    """
    from webalizer_spark.operators.dedup import _cap_hot_keys

    if centroids is None:
        centroids = ivf_centroids(emb, 16)
    assign = ivf_assign(emb, centroids, 1)
    assign = _cap_hot_keys(assign, ["cell_id"], max_cell_size,
                           "semantic_dedup")
    a = assign.select(F.col("vec_id").alias("va"),
                      F.col("cell_id").alias("ca"))
    b = assign.select(F.col("vec_id").alias("vb"),
                      F.col("cell_id").alias("cb"))
    cand = (a.join(b, (F.col("ca") == F.col("cb"))
                   & (F.col("va") < F.col("vb")))
            .select("va", "vb"))
    return _keep_min_of_verified(emb, cand, threshold)
