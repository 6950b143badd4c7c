"""Deduplication operators for training-data pipelines.

Near-dup families, all pure DataFrame plans (no Python in the hot
path). The all-pairs variants are exact baselines; the LSH variants are
the 100 TB paths (candidate generation via bucket join instead of a
quadratic self-join). Hash functions are md5-keyed and deterministic, so
results are reproducible across runs/engines (oracle-checked through
the queries.py rows that call them: doc_ngram_jaccard,
doc_minhash_signatures, doc_minhash_lsh_pairs, doc_simhash,
doc_simhash_pairs, doc_near_dup_keep, ...).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger("webalizer_spark.dedup")

# drop sets (ids only, ~16 bytes/row) up to this many rows are broadcast
# into the keep anti-join; matches the default 10MB-ish autoBroadcast
# budget with generous headroom
_BROADCAST_DROP_MAX = 500_000


def _cap_hot_keys(keys: DataFrame, key_cols: list[str], cap: int | None,
                  op: str) -> DataFrame:
    """Drop join keys shared by more than `cap` rows before a candidate
    self-join — MOSS's over-common-fingerprint rule / the standard LSH
    bucket-size cap. A key shared by k rows yields k^2 candidate pairs,
    and at corpus scale boilerplate (empty docs, templates) makes k huge;
    capping bounds the join output at cap^2 per bucket. cap=None disables
    (the exact, oracle-checked configuration). Never silent: the number
    of dropped keys is counted and logged (one cheap aggregate over the
    key table — tiny next to the join it protects).

    Either way the returned table sits behind a checkpoint, so the
    caller's self-join reads it twice without re-running the lineage
    that built it (signatures, band aggregation, winnowing windows,
    centroid scoring)."""
    if cap is None:
        # lazy barrier: the key table is ids x keys rows, tiny next to
        # the pipeline it summarizes
        return keys.localCheckpoint(eager=False)
    # materialize the key table ONCE (it may sit on an expensive plan —
    # e.g. the full LSH signature projection): the count, the anti-join
    # left side, and the hot-key derivation all read the checkpoint
    # instead of re-running the lineage three times
    keys = keys.localCheckpoint(eager=True)
    hot = (keys.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > cap)
           .select(*key_cols))
    n_hot = hot.count()
    if n_hot == 0:
        return keys
    _LOG.warning("%s: dropping %d hot bucket key(s) with > %d members "
                 "before the candidate join", op, n_hot, cap)
    return keys.join(hot, key_cols, "left_anti")


def _hash64(col: F.Column, seed: F.Column | None = None) -> F.Column:
    """Deterministic 60-bit int from md5 (engine-portable, unlike
    xxhash64/murmur which DuckDB lacks)."""
    src = col if seed is None else F.concat_ws("|", seed.cast("string"), col)
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("bigint")


def shingles(df: DataFrame, content_col: str = "text", n: int = 1,
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram set per document (explode-based)."""
    toks = F.split(F.col(content_col), " ")
    if n == 1:
        sh = toks
    else:
        # sliding window over the token array, JVM-side. Docs shorter
        # than n tokens yield NO shingles (guarded: an unguarded
        # sequence(0, size-n) turns DESCENDING when size < n and the
        # resulting slice(toks, 0, n) throws at runtime).
        idx = F.when(F.size(toks) >= n,
                     F.sequence(F.lit(0), F.size(toks) - n)
                     ).otherwise(F.array().cast("array<int>"))
        sh = F.transform(idx, lambda i: F.array_join(
            F.slice(toks, i + 1, n), " "))
    return df.select(id_col, F.explode(F.array_distinct(sh)).alias("shingle"))


def minhash_signatures(sh: DataFrame, num_hashes: int = 8,
                       id_col: str = "doc_id") -> DataFrame:
    """MinHash: min over md5-keyed hash per seed; ONE groupBy(doc, seed)
    with map-side partial min — the explode fan-out never shuffles raw."""
    spark = sh.sparkSession
    seeds = spark.range(num_hashes).select(F.col("id").cast("int").alias("seed"))
    h = _hash64(F.col("shingle"), F.col("seed"))
    return (sh.crossJoin(F.broadcast(seeds))
            .groupBy(id_col, "seed").agg(F.min(h).alias("minhash")))


def lsh_candidate_pairs(sig: DataFrame, rows_per_band: int = 2,
                        id_col: str = "doc_id",
                        max_bucket_size: int | None = None) -> DataFrame:
    """LSH banding: docs agreeing on ALL minhashes within a band become
    candidates (bucket equi-join — the scale path replacing all-pairs).

    max_bucket_size caps band-bucket membership: a band key shared by k
    docs emits k^2/2 pairs, so degenerate buckets (boilerplate/empty
    docs) are dropped — with a logged count — rather than detonating the
    join. None (default) keeps exact LSH semantics (oracle-checked)."""
    banded = sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    keys = (banded.groupBy(id_col, "band")
            .agg(F.array_join(F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                lambda s: s["minhash"].cast("string")), ",").alias("band_key")))
    keys = _cap_hot_keys(keys, ["band", "band_key"], max_bucket_size,
                         "lsh_candidate_pairs")
    a, b = keys.alias("a"), keys.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"))
            .distinct())


# Standalone all-pairs baselines refuse inputs past this many documents:
# past it the quadratic shape is a plan bug, not a slow query — use the
# LSH candidate path instead.
ALL_PAIRS_MAX_DOCS = 100_000


def jaccard_pairs(sh: DataFrame, threshold: float = 0.8,
                  id_col: str = "doc_id",
                  candidates: DataFrame | None = None) -> DataFrame:
    """Exact token-set Jaccard. With `candidates` (doc_a, doc_b) from
    LSH, intersection counting runs ONLY over candidate pairs: a's
    shingles fan out to its candidate partners first (equi-join on
    doc_a), then one equi-join on (doc_b, shingle) counts matches — the
    shingle fan-out goes through the candidate edge list BEFORE any pair
    aggregation, so the hot-token quadratic blowup never materializes.
    Without candidates it is the exact all-pairs self-join baseline
    (size-guarded; small inputs only)."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        fan = (sh.withColumnRenamed(id_col, "doc_a")
               .withColumnRenamed("shingle", "_sh")
               .join(candidates, "doc_a"))
        b = (sh.withColumnRenamed(id_col, "doc_b")
             .withColumnRenamed("shingle", "_sh"))
        inter = (fan.join(b, ["doc_b", "_sh"])
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count(F.lit(1)).alias("i")))
    else:
        n = sh.select(id_col).distinct().count()
        if n > ALL_PAIRS_MAX_DOCS:
            raise ValueError(
                f"jaccard_pairs: {n} docs exceeds the all-pairs baseline "
                f"bound ({ALL_PAIRS_MAX_DOCS}); use the LSH candidate path "
                "(lsh_candidate_pairs -> jaccard_pairs(candidates=...))")
        a, b = sh.alias("a"), sh.alias("b")
        inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                 .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                          F.col(f"b.{id_col}").alias("doc_b"))
                 .agg(F.count(F.lit(1)).alias("i")))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("szb"))
    pairs = inter.join(sa, "doc_a").join(sb, "doc_b")
    jac = F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
    return (pairs.filter(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


def simhash(sh: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: integer-exact bitwise majority vote."""
    spark = sh.sparkSession
    bits_df = spark.range(bits).select(F.col("id").cast("int").alias("j"))
    per_bit = (sh.withColumn("th", _hash64(F.col("shingle")))
               .crossJoin(F.broadcast(bits_df))
               .groupBy("doc_id", "j")
               .agg(F.sum(F.expr("2 * (shiftright(th, j) & 1) - 1")).alias("w")))
    bit = F.when(F.col("w") >= 0,
                 F.pow(F.lit(2), F.col("j")).cast("bigint")).otherwise(F.lit(0))
    return per_bit.groupBy("doc_id").agg(
        F.sum(bit).cast("bigint").alias("simhash"))


def simhash_pairs(sig: DataFrame, max_hamming: int = 2, bits: int = 16,
                  n_blocks: int = 4,
                  max_block_freq: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Scale shape: pigeonhole blocking — split the fingerprint into
    n_blocks equal bit-blocks; any pair within Hamming distance
    max_hamming <= n_blocks - 1 must agree on at least one whole block,
    so candidates come from an equi-join on (block_idx, block_value)
    instead of an all-pairs cross join, and the exact bit_count(xor)
    predicate verifies each candidate. Lossless for max_hamming <
    n_blocks (pigeonhole), so results equal the all-pairs definition —
    which is exactly what the DuckDB oracle computes (doc_simhash_pairs).

    max_block_freq caps (block, value) bucket membership (logged drop,
    see _cap_hot_keys) — the hot-bucket guard for boilerplate-heavy
    corpora where thousands of near-identical fingerprints share every
    block. None (default) keeps the lossless exact semantics.
    """
    if max_hamming >= n_blocks:
        raise ValueError("pigeonhole blocking needs max_hamming < n_blocks")
    if bits % n_blocks:
        raise ValueError("bits must divide evenly into n_blocks")
    if not 0 < bits <= 64:
        # 64 is safe even though bigint shiftright sign-extends: every
        # block value is masked to its low bw bits, which discards the
        # extended sign bits, and bit_count(xor) is sign-correct — so a
        # full-width 64-bit fingerprint works
        raise ValueError("bits must be in [1, 64]")
    bw = bits // n_blocks
    mask = (1 << bw) - 1
    spark = sig.sparkSession
    blk = spark.range(n_blocks).select(F.col("id").cast("int").alias("blk"))
    keys = (sig.crossJoin(F.broadcast(blk))
            .withColumn("bval",
                        F.expr(f"shiftright(simhash, blk * {bw}) & {mask}"))
            .select("doc_id", "simhash", "blk", "bval"))
    keys = _cap_hot_keys(keys, ["blk", "bval"], max_block_freq,
                         "simhash_pairs")
    a, b = keys.alias("a"), keys.alias("b")
    cand = (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.bval") == F.col("b.bval"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.expr("sh_a ^ sh_b")).cast("int")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def winnow_fingerprints(df: DataFrame, k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints [Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm] of (doc_id, text) rows: hash every
    k-gram at its position,
    slide a window of `window` consecutive k-gram hashes, select each
    window's minimum (rightmost on ties, per the paper), dedupe. Any
    shared substring of length >= window + k - 1 tokens is guaranteed
    to contribute at least one common fingerprint — the local-copy
    detection property plain content hashing lacks.

    Spark shape: posexplode(k-grams) -> per-doc ordered window min
    (rowsBetween 0..window-1) -> distinct. The per-doc window sorts by
    position WITHIN doc partitions (one shuffle on doc_id, bounded by
    doc length, never global). Deterministic md5-derived hashes ->
    engine-portable; oracle-checked vs DuckDB window functions
    (doc_winnow_fingerprints).
    """
    toks = F.split(F.col("text"), " ")
    n_grams = F.size(toks) - k + 1
    idx = F.when(n_grams > 0, F.sequence(F.lit(0), n_grams - 1)) \
        .otherwise(F.array().cast("array<int>"))
    grams = df.select(
        "doc_id",
        F.posexplode(F.transform(idx, lambda i: F.array_join(
            F.slice(toks, i + 1, k), " "))).alias("pos", "gram"))
    hashed = grams.select("doc_id", "pos", _hash64(F.col("gram")).alias("h"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(0, window - 1))
    # rightmost-min tie-break: min over (h, -pos) structs picks the
    # LARGEST pos among equal hashes — standard winnowing's rightmost-min
    # rule (the paper's "robust winnowing" variant instead prefers
    # re-selecting the previous window's hash; not implemented here)
    sel = hashed.withColumn(
        "win_min", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))
                         ).over(w))
    # only full windows select (positions 0 .. n_grams - window).
    # max_pos (= n_grams - 1) is computed straight from the doc table —
    # the old groupBy(max(pos)) over `hashed` re-ran the whole k-gram
    # explosion + md5 a second time just to learn each doc's gram count
    # (round 7, guide §2.4); the per-doc table joins broadcast-style and
    # the gram-stream Exchange stays at its original 3 columns.
    counts = (df.select("doc_id", (n_grams - 1).alias("max_pos"))
              .where(n_grams > 0))
    return (sel.join(counts, "doc_id")
            .filter(F.col("pos") <= F.col("max_pos") - window + 1)
            .select("doc_id", F.col("win_min.h").alias("fingerprint"),
                    (-F.col("win_min.np")).cast("int").alias("at_pos"))
            .distinct())


def winnow_copy_pairs(fp: DataFrame, min_shared: int = 3,
                      max_fp_freq: int | None = None) -> DataFrame:
    """Copy detection over winnowing fingerprints — the MOSS match step:
    pairs of docs sharing >= min_shared selected fingerprints, via a
    fingerprint equi-join over the winnowed ~1/window subsample.

    max_fp_freq is MOSS's over-common-fingerprint rule: a fingerprint
    shared by k docs contributes k^2/2 pairs, and fingerprints present
    in a large fraction of the corpus (boilerplate, licenses) carry no
    copy signal — drop them (logged) before the join. None (default)
    keeps the exact join semantics (oracle-checked, doc_winnow_pairs).
    """
    keys = fp.select("doc_id", "fingerprint").distinct()
    keys = _cap_hot_keys(keys, ["fingerprint"], max_fp_freq,
                         "winnow_copy_pairs")
    a, b = keys.alias("a"), keys.alias("b")
    return (a.join(b, (F.col("a.fingerprint") == F.col("b.fingerprint"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def connected_min_label(edges: DataFrame) -> DataFrame:
    """Connected components over (doc_a, doc_b) edges via iterative
    min-label propagation with pointer jumping: each round propagates
    labels across edges (join + groupBy) AND short-circuits each label
    to its label's label, so remaining chain depth HALVES per round —
    O(log diameter) rounds, not O(diameter). Long dup chains at corpus
    scale converge in a handful of shuffles; the loop stops after 20
    rounds whatever the labels. Returns (v, label) where
    label = min doc id of v's component. Deterministic; oracle-checked
    against a DuckDB recursive-CTE closure (doc_dup_components).

    localCheckpoint each round truncates lineage so the plan does not
    grow exponentially; only the (tiny) dup-subgraph vertices iterate —
    the corpus itself never enters the loop.
    """
    # lazy barrier on the edge list FIRST: the union below references
    # edges twice (v->u and u->v), and edges may be an expensive plan
    # (for near_dup_remove_lsh it is the whole LSH candidate join +
    # cosine verify) — without this, materializing sym executed that
    # plan twice (round 7)
    edges = edges.select("doc_a", "doc_b").localCheckpoint(eager=False)
    # materialize the symmetrized edge list ONCE: every round reads sym
    sym = (edges.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("u"))
           .unionByName(
               edges.select(F.col("doc_b").alias("v"),
                            F.col("doc_a").alias("u")))
           .localCheckpoint(eager=True))
    # seed labels at min(v, min neighbor) instead of v: same one-job
    # init cost as the old distinct(), but shallow components (the
    # overwhelmingly common dup shape) start one propagation round
    # closer to the fixpoint — measured one full round saved (round
    # 7). Labels stay vertex ids, so the jump join still resolves.
    labels = (sym.groupBy("v")
              .agg(F.least(F.col("v"), F.min("u")).alias("label"))
              .localCheckpoint(eager=True))
    for _ in range(20):
        neigh = (sym.join(labels.select(F.col("v").alias("u"),
                                        F.col("label").alias("ulabel")), "u")
                 .groupBy("v").agg(F.min("ulabel").alias("nlabel")))
        # pointer jumping via the PREVIOUS round's mapping (classic
        # pointer doubling): label <- label(label) resolves against
        # `labels`, which is already checkpointed, so propagation and
        # jump fuse into ONE materialized job per round — the old
        # prop-then-jump form paid two checkpoint jobs per round for
        # the same O(log diameter) contraction (round 7, guide §1.2:
        # fewer passes). Every label is itself a vertex id, so the
        # jump join always resolves; left join guards fixpoint rows.
        jump = labels.select(F.col("v").alias("label"),
                             F.col("label").alias("label2"))
        # carry the round-start label ("old") through so convergence is
        # a filter over the checkpointed result — no extra join job
        new_labels = (labels.join(neigh, "v", "left")
                      .join(jump, "label", "left")
                      .select("v", F.col("label").alias("old"), F.least(
                          "label", F.coalesce("nlabel", F.col("label")),
                          F.coalesce("label2", F.col("label"))
                      ).alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.filter(F.col("label") != F.col("old"))
                   .limit(1).count())
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    return labels


def drop_non_min_members(df: DataFrame, edges: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Shared dedup tail (used by near_dup_remove here and
    similarity.near_dup_remove_lsh): connected components over the
    verified (doc_a, doc_b) edges, then drop every row whose vertex is
    not its component's minimum id.

    The drop set comes out of the components loop's local checkpoint,
    whose unknown stats stop AQE from broadcasting it itself — the
    anti-join would plan as a SortMergeJoin (double Exchange+Sort on
    ids). So it is broadcast here when it has at most
    _BROADCAST_DROP_MAX rows; the count is cheap (already materialized),
    and above the gate SMJ stays — at 100 TB a giant drop set must not
    be forced driver-side."""
    comp = connected_min_label(edges)
    drop = (comp.filter(F.col("label") != F.col("v"))
            .select(F.col("v").alias(id_col)))
    if drop.limit(_BROADCAST_DROP_MAX + 1).count() <= _BROADCAST_DROP_MAX:
        drop = F.broadcast(drop)
    return df.join(drop, id_col, "left_anti")


def near_dup_remove(df: DataFrame, content_col: str = "text",
                    id_col: str = "doc_id", threshold: float = 0.9,
                    num_hashes: int = 8, rows_per_band: int = 2,
                    max_bucket_size: int | None = None) -> DataFrame:
    """End-to-end near-dup removal: MinHash -> LSH candidates -> exact
    Jaccard verify -> connected components over the verified pairs ->
    keep exactly the minimum-id member of each dup component. Transitive
    chains (A~B~C where A~C was never a pair) dedup deterministically —
    the greedy pairwise drop they replace could over/under-drop those.
    max_bucket_size passes through to the LSH candidate join (hot-bucket
    cap for boilerplate-heavy corpora; capped buckets keep ALL members,
    i.e. over-common content is left undeduped rather than exploded)."""
    sh = shingles(df, content_col, 1, id_col)
    cand = lsh_candidate_pairs(
        minhash_signatures(sh, num_hashes, id_col), rows_per_band, id_col,
        max_bucket_size=max_bucket_size)
    dup = jaccard_pairs(sh, threshold, id_col, candidates=cand)
    return drop_non_min_members(df, dup.select("doc_a", "doc_b"), id_col)
