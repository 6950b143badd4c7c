"""SparkSession factory with the engine's scale-oriented defaults.

The reference is a single process with hand-rolled hash tables
[webalizer.c ƒmain; hashtab.c]; its only tuning knob is string truncation.
Here the equivalents are conf: AQE (runtime re-plan + skew splitting),
Arrow (vectorized Python boundary for the grok UDF), and shuffle-partition
sizing. On a real cluster these same confs apply unchanged; local[N] is
used in the sandbox to evidence the two-parallelism scaling criterion
(BASELINE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs chosen for 100 TB-scale behavior, not just local tests:
#  - AQE coalesces post-shuffle partitions and splits skewed join/agg
#    partitions at runtime; spark.sql.shuffle.partitions only sets the
#    initial partition count it coalesces from.
#  - canChangeCachedPlanOutputPartitioning lets AQE coalesce the LAST
#    shuffle of a persisted plan too (Spark's default pins a cached
#    plan's output at shuffle.partitions). Without it the cached spine, its three cached aggregates
#    and every job over them run shuffle.partitions tasks whatever the
#    data size. Coalescing merges whole hash partitions, so each conv_id
#    still sits in one partition and a conv_id groupBy over the cache
#    plans no extra Exchange; by-number repartitions (the skew path's
#    repartitionByRange(n)) are never coalesced. Measured on the
#    48k-turn perfbench batch on a 4-core host (local[4], 32 initial
#    partitions): spine 32 -> 2 partitions, sink tasks 884 -> 68,
#    batch wall median 31.4 -> 19.4 s over 10 interleaved seeds.
#  - advisoryPartitionSizeInBytes=64m keeps reduce tasks memory-safe.
#  - Arrow on: the grok pandas_udf moves columns in Arrow batches, never rows.
#  - maxRecordsPerBatch bounds Python-worker memory for wide text columns.
#  - session TZ pinned UTC so timestamp semantics match the oracle (DuckDB).
_ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # local sandbox reads single-file fixtures: small split size keeps all
    # cores busy on the scan; on a real cluster (many files) override to
    # 128m+ via SPARK_GRAFT_MAX_PARTITION_BYTES
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
    # zstd beats snappy on BOTH axes for this engine's sinks (measured on
    # the 10M-turn spine write, round 3: 3.0 s / 480 MB vs 4.1 s / 675 MB
    # — smaller bytes mean less I/O, which outweighs the extra CPU here);
    # at the 100 TB tier the ~30% sink-byte saving compounds into every
    # downstream scan. Override via SPARK_GRAFT_PARQUET_CODEC.
    "spark.sql.parquet.compression.codec": os.environ.get(
        "SPARK_GRAFT_PARQUET_CODEC", "zstd"),
    # shuffle/spill block codec (NOT parquet): zstd moves ~fewer bytes
    # through the shuffle at more CPU — measured A/B on the 2->8 scaling
    # protocol (round 5, same session): raw median efficiency 0.865
    # (pass_0_8 TRUE, first time) vs 0.759 for lz4, AND higher absolute
    # throughput at both parallelism levels (local[8]: 146-152k vs
    # 105-140k turns/s) — on a memory-bandwidth-ceilinged box, shrinking
    # shuffle bytes buys both. BENCH_scaling_2to8_r5{base,zstd}.json
    # carry the full A/B; override via SPARK_GRAFT_IO_CODEC.
    "spark.io.compression.codec": os.environ.get(
        "SPARK_GRAFT_IO_CODEC", "zstd"),
}


def get_spark(
    app_name: str = "webalizer_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox and is
    left unset under spark-submit (cluster manager decides).
    extra_confs are applied last, so they override the engine defaults
    (e.g. ``spark.sql.shuffle.partitions``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in _ENGINE_CONFS.items():
        builder = builder.config(k, v)
    # Local mode: one JVM; shuffle partitions should track cores, not 200.
    nshuf = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(nshuf))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
