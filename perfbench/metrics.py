"""Catalogue of the benchmark's workloads and metrics.

One place names every metric, its unit and direction, and — for the
per-layer metrics of the traced run — the end-to-end metric and the
workload it should move. ``run.py`` reports exactly these names and
``BENCHMARK.json`` lists the same ones; the tests keep the three in step.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = ("batch", "incremental", "queries")

# the 19 headline query leaves, in bench.py's order (bench.HEADLINE);
# copied so this module imports nothing from the program under test
LEAVES = (
    "tr2_sessions", "evt_sessions_per_user", "evt_daily_totals",
    "evt_rollup", "tpch_pricing_summary", "tpch_join_agg",
    "doc_minhash_signatures", "emb_cosine_topk", "emb_lsh_buckets",
    "emb_ann_topk", "doc_winnow_fingerprints", "doc_span_dedup",
    "doc_substring_dedup", "doc_lm_ppl", "emb_semdedup_keep",
    "doc_mixture_rows", "doc_lm_ppl2", "evt_profile", "doc_pii_stats",
)


@dataclass(frozen=True)
class EndToEnd:
    name: str
    unit: str
    better: str
    bound: float
    meaning: str


@dataclass(frozen=True)
class PerLayer:
    name: str
    unit: str
    better: str
    layer: str
    moves: tuple[tuple[str, str], ...]   # (end-to-end metric, workload)


END_TO_END = (
    EndToEnd("setup_s", "s", "lower", 0.25,
             "process start to a ready SparkSession (JVM launch plus "
             "get_spark), less input generation and host probes"),
    EndToEnd("wall_s", "s", "lower", 0.25,
             "one complete run: input to every output committed, or all "
             "19 leaves collected; median over the timed runs"),
    EndToEnd("records_per_s", "1/s", "higher", 0.25,
             "input records processed / wall_s (the reference's "
             "records/sec): turns for batch and incremental, rows of the "
             "five query tables for queries"),
    EndToEnd("step_geomean_s", "s", "lower", 0.25,
             "geometric mean of the timed steps of one run: the 19 leaves "
             "for queries, the lifecycle steps for batch and incremental"),
    EndToEnd("output_bytes", "bytes", "lower", 0.1,
             "bytes one run outputs: sink, checkpoint and history files "
             "written for batch and incremental, the leaves' collected "
             "result frames (pandas deep size) for queries"),
)

_B, _I, _Q = "batch", "incremental", "queries"


def _pl(name, unit, better, layer, *moves):
    return PerLayer(name, unit, better, layer, tuple(moves))


_PIPE = (
    _pl("session.start_s", "s", "lower", "session",
        ("setup_s", _B), ("setup_s", _I), ("setup_s", _Q)),
    _pl("pipeline.plan_s", "s", "lower", "plans.pipeline",
        ("wall_s", _I), ("step_geomean_s", _B)),
    _pl("parse.wall_s", "s", "lower", "operators.parse",
        ("records_per_s", _B)),
    _pl("parse.cpu_s", "s", "lower", "operators.parse",
        ("records_per_s", _B)),
    _pl("parse.input_bytes", "bytes", "lower", "operators.parse",
        ("records_per_s", _B), ("wall_s", _I)),
    _pl("parse.rows_in", "count", "lower", "operators.parse",
        ("wall_s", _I)),
    _pl("parse.kept_frac", "ratio", "higher", "operators.parse",
        ("wall_s", _I)),
    _pl("parse.bad_frac", "ratio", "lower", "operators.parse",
        ("records_per_s", _B)),
    _pl("parse.cache_bytes", "bytes", "lower", "operators.parse",
        ("records_per_s", _B)),
    _pl("spine.wall_s", "s", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("spine.cpu_s", "s", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("spine.gc_s", "s", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("spine.shuffle_write_bytes", "bytes", "lower",
        "operators.sessionize", ("records_per_s", _B)),
    _pl("spine.spill_bytes", "bytes", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("spine.cache_bytes", "bytes", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("spine.task_skew", "ratio", "lower", "operators.sessionize",
        ("records_per_s", _B)),
    _pl("sinks.wall_s", "s", "lower", "plans.pipeline.write_sinks",
        ("wall_s", _I), ("records_per_s", _B)),
    _pl("sinks.jobs", "count", "lower", "plans.pipeline.write_sinks",
        ("wall_s", _I), ("wall_s", _B)),
    _pl("sinks.tasks", "count", "lower", "plans.pipeline.write_sinks",
        ("wall_s", _I), ("wall_s", _B)),
    _pl("sinks.cpu_s", "s", "lower", "plans.pipeline.write_sinks",
        ("records_per_s", _B)),
    _pl("sinks.core_busy_frac", "ratio", "higher",
        "plans.pipeline.write_sinks", ("wall_s", _I), ("wall_s", _B)),
    _pl("sinks.shuffle_write_bytes", "bytes", "lower",
        "plans.pipeline.write_sinks", ("records_per_s", _B)),
    _pl("sinks.bytes_written", "bytes", "lower",
        "plans.pipeline.write_sinks", ("output_bytes", _B)),
    _pl("sinks.by_role.cpu_s", "s", "lower", "plans.pipeline.write_sinks",
        ("records_per_s", _B)),
    _pl("sinks.by_role.bytes_written", "bytes", "lower",
        "plans.pipeline.write_sinks", ("output_bytes", _B)),
    _pl("sinks.tool_calls.cpu_s", "s", "lower",
        "plans.pipeline.write_sinks", ("records_per_s", _B)),
    _pl("sinks.errors.cpu_s", "s", "lower", "plans.pipeline.write_sinks",
        ("records_per_s", _B)),
    _pl("sinks.reports.jobs", "count", "lower",
        "operators.aggregates", ("wall_s", _I), ("wall_s", _B)),
    _pl("sinks.reports.cpu_s", "s", "lower", "operators.aggregates",
        ("wall_s", _I), ("records_per_s", _B)),
    _pl("sinks.reports.shuffle_write_bytes", "bytes", "lower",
        "operators.aggregates", ("records_per_s", _B)),
    _pl("sinks.manifest.wall_s", "s", "lower", "plans.pipeline.write_sinks",
        ("wall_s", _I), ("wall_s", _B)),
    _pl("checkpoint.save_s", "s", "lower", "plans.checkpoint.save_state",
        ("wall_s", _I), ("step_geomean_s", _B)),
    _pl("checkpoint.jobs", "count", "lower", "plans.checkpoint.save_state",
        ("wall_s", _I), ("step_geomean_s", _B)),
    _pl("checkpoint.bytes_written", "bytes", "lower",
        "plans.checkpoint.save_state", ("output_bytes", _I),
        ("output_bytes", _B)),
    _pl("history.merge_s", "s", "lower", "sources.tables.TableIO.merge",
        ("wall_s", _I), ("step_geomean_s", _B)),
)

_QUERY = tuple(
    m for leaf in LEAVES for m in (
        _pl(f"query.{leaf}.s", "s", "lower", "queries",
            ("step_geomean_s", _Q), ("wall_s", _Q)),
        _pl(f"query.{leaf}.cpu_s", "s", "lower", "queries",
            ("step_geomean_s", _Q)),
    ))

_TRACE = (
    _pl("trace.span_gap_frac", "ratio", "lower", "benchmark",
        ("wall_s", _B), ("wall_s", _I), ("wall_s", _Q)),
    _pl("trace.overhead", "ratio", "lower", "benchmark",
        ("wall_s", _B), ("wall_s", _I), ("wall_s", _Q)),
    # memory pressure shows as GC time inside the timed steps
    _pl("peak_rss_mb", "MB", "lower", "session",
        ("wall_s", _B), ("wall_s", _I), ("wall_s", _Q)),
)

PER_LAYER = _PIPE + _QUERY + _TRACE
