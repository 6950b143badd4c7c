"""webalizer_spark — a from-scratch PySpark-native analytics engine with the
query and data-processing capabilities of hyc/webalizer (The Webalizer,
a C web-server log analyzer), recast onto tables of multi-turn
conversation/agent transcripts.

This is NOT a port. The reference (see /root/reference, surveyed in
SURVEY.md) is a single-threaded C program folding log lines into in-memory
hash tables [webalizer.c main loop; hashtab.c put_*]. This engine declares
the same semantics as Catalyst logical plans over columnar Parquet/Iceberg
scans and lets Spark pick physical strategy: vectorized scans, whole-stage
codegen, partial+final hash aggregation, broadcast joins, AQE skew handling.

Layout:
  session.py            SparkSession factory (AQE + Arrow confs)
  config.py             EngineConfig (visit timeout, top-N sizes, lists)
  datagen.py            deterministic synthetic transcript generator (FIXTURES.md)
  sources/              table-format shim (Iceberg on cluster, parquet locally)
  functions/            grok parser + scalar function library
  operators/            sessionize, enrich, filters, aggregates, topn,
                        dedup, similarity, quality, sampling, equality
  plans/                end-to-end pipeline + checkpoint/resume
"""

from webalizer_spark.config import EngineConfig
from webalizer_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark"]
__version__ = "0.1.0"
