"""Deterministic mixture execution — the training-data-pipeline step
downstream of dedup/quality filtering that turns a mixture plan into
rows.

The per-row draw is md5-bucket arithmetic (no RNG state): the same key
maps to the same decision on any cluster, any partitioning, any run —
the property `df.sample()` (seeded per partition) cannot give under
repartitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000


def _bucket(col: Column, salt: str) -> Column:
    """Deterministic uniform bucket in [0, 1e6) from md5(salt|key) —
    engine-portable (same convention as dedup._hash64)."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(salt), col.cast("string"))), 1, 15), 16, 10)
    return h.cast("bigint") % _BUCKETS


def materialize_mixture(df: DataFrame, weights: DataFrame) -> DataFrame:
    """Execute a mixture plan (the downstream half of
    quality.mixing_weights) over (doc_id, source) rows: weights is a
    (source, epochs) table; every row
    is emitted floor(epochs) times plus one more when its deterministic
    hash fraction falls below frac(epochs) — so a source at epochs=2.3
    repeats every doc twice and an unbiased, reproducible 30% of docs
    a third time. Adds `copy` (1..n); epochs 0 rows drop.

    The source is md5'd into the key so each source draws an
    independent fractional subset (hashing the key alone would select
    the same keys in every source).
    100 TB shape: the plan table is tiny -> broadcast join; duplication
    is explode(sequence(..)) — a NARROW op, no corpus shuffle.
    """
    w = weights.select("source", F.col("epochs").cast("double"))
    b = _bucket(F.concat_ws("|", F.md5(F.col("source").cast("string")),
                            F.col("doc_id").cast("string")), "mix")
    frac_thresh = F.round((F.col("epochs") - F.floor("epochs"))
                          * _BUCKETS).cast("bigint")
    n = (F.floor("epochs").cast("int")
         + F.when(b < frac_thresh, 1).otherwise(0))
    return (df.join(F.broadcast(w), "source", "inner")
            .withColumn("_n", n)
            .filter(F.col("_n") > 0)
            .withColumn("copy",
                        F.explode(F.sequence(F.lit(1), F.col("_n"))))
            .drop("_n", "epochs"))
