"""spark-submit entry point (SURVEY §7 M9).

Usage:
  python jobs/run_pipeline.py --input _gen/sf_test \
      --output out --checkpoint ckpt

--input/--dims name a directory of parquet tables (transcripts plus the
five dimension tables); the job writes parquet and JSON under --output
and --checkpoint. The job also opens these paths with Python's os
module, so on a cluster they sit on a shared mount.

The job is the reference's EP1/EP2 lifecycle [webalizer.c ƒmain;
preserve.c]: read -> parse -> enrich -> sessionize -> fan-out sinks +
report tables -> save checkpoint state + manifest. --checkpoint is the
incremental switch, like the reference's 'Incremental yes', which both
restores and saves webalizer.current: a checkpoint with a committed
manifest is resumed (only records past its watermark are processed and
session numbering continues the saved state); one without a manifest
starts a new one. Prints the end-of-run summary line (records, seconds,
records/sec) like the reference does at the end of ƒmain.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def resolve_config(conf_path: str | None, visit_timeout: int | None):
    """Conf file + CLI override resolution: an explicit --visit-timeout
    overrides the conf file (0 is honored, not treated as unset).
    Returns (cfg, unknown_keywords)."""
    from dataclasses import replace

    from webalizer_spark import EngineConfig

    unknown: list[str] = []
    if conf_path:
        from webalizer_spark.config import load_conf
        cfg, unknown = load_conf(conf_path)
    else:
        cfg = EngineConfig()
    if visit_timeout is not None:
        cfg = replace(cfg, visit_timeout_s=visit_timeout)
    return cfg, unknown


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet directory holding transcripts.parquet")
    ap.add_argument("--dims", default=None,
                    help="dimension tables location (default: same as input)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="checkpoint directory: resumed when it holds a "
                         "committed manifest, started otherwise")
    ap.add_argument("--keep-checkpoints", type=int, default=None,
                    metavar="N",
                    help="after saving state, GC checkpoint versions "
                         "older than the newest N (the live snapshot "
                         "always survives); default: keep all")
    ap.add_argument("--grok", default="split",
                    choices=["split", "pandas", "multi"],
                    help="field-extraction strategy; 'multi' dispatches "
                         "per-row on log format (combined/squid/xferlog/w3c)")
    ap.add_argument("--visit-timeout", type=int, default=None,
                    help="seconds of inactivity ending a visit "
                         "(default 1800; overrides --conf)")
    ap.add_argument("--conf", default=None,
                    help="webalizer.conf-style config file (VisitTimeout, "
                         "Top*, Ignore*/Include*/Hide*/Group*, Dump*, "
                         "MangleAgents) — a reference user's "
                         "existing conf drives this engine unchanged")
    args = ap.parse_args()
    if args.keep_checkpoints is not None:
        if args.keep_checkpoints < 1:
            ap.error("--keep-checkpoints must be >= 1")
        if args.checkpoint is None:
            ap.error("--keep-checkpoints requires --checkpoint")

    from webalizer_spark import get_spark
    from webalizer_spark.plans.checkpoint import (
        DAILY_COLS,
        CheckpointPaths,
        compact,
        resume_filter,
        resume_sessionize,
        save_state,
    )
    from webalizer_spark.plans.pipeline import run_pipeline, write_sinks
    from webalizer_spark.sources.tables import TableIO

    spark = get_spark(app_name="webalizer_spark_pipeline", master="")
    cfg, unknown = resolve_config(args.conf, args.visit_timeout)
    if unknown:
        print(f"conf: ignoring {len(unknown)} non-engine keyword(s): "
              + " ".join(sorted(set(unknown))))

    io_in = TableIO(spark, base_path=args.input)
    tr = io_in.read("transcripts")
    dims_io = TableIO(spark, base_path=args.dims or args.input)
    dims = {n: dims_io.read(n) for n in
            ["role_class", "tool_family", "byte_ranges", "engine_params",
             "name_groups"]}

    t0 = time.time()
    ckpt = CheckpointPaths(args.checkpoint) if args.checkpoint else None
    resumed = ckpt is not None and os.path.exists(ckpt.manifest)
    sessionizer = None
    if resumed:
        # multi-format mode: W3C #Fields: directive rows must survive the
        # watermark filter so the resumed batch can parse its W3C records
        tr = resume_filter(tr, ckpt, keep_directives=(args.grok == "multi"))
        # session numbering continues the saved per-conv state
        sessionizer = lambda df: resume_sessionize(  # noqa: E731
            df, ckpt, cfg.visit_timeout_s)

    res = run_pipeline(spark, tr, dims, cfg=cfg, grok_strategy=args.grok,
                       sessionizer=sessionizer)
    if resumed and res.parsed.isEmpty():
        # nothing past the watermark (e.g. a repeated run of a committed
        # batch): the output still holds that batch's sinks — keep them
        # rather than overwrite them with empty tables
        counts = {}
        print("no records past the checkpoint watermark; "
              "sinks left as committed")
    else:
        counts = write_sinks(res, args.output)
    if ckpt is not None:
        save_state(res.enriched, ckpt)
        # S9 history table (webalizer.hist analog): month rows
        # re-aggregated from the CUMULATIVE daily state (correct even
        # when a month spans several incremental runs), upserted by
        # month key (TableIO.merge: read-merge-swap of the parquet
        # directory). No manifest means no batch has had a good row yet,
        # so there is no daily state to build it from.
        if os.path.exists(ckpt.manifest):
            from pyspark.sql import functions as F

            io_out = TableIO(spark, base_path=args.output)
            hist = (spark.read.parquet(ckpt.daily_state)
                    .groupBy(F.date_trunc("month", "day_ts")
                             .alias("month_ts"))
                    .agg(*[F.sum(c).alias(c) for c in DAILY_COLS]))
            io_out.merge(hist, "history", ["month_ts"])
        if args.keep_checkpoints is not None:
            gone = compact(ckpt, keep_last=args.keep_checkpoints)
            if gone:
                print(f"checkpoint GC: removed versions {gone}")
    sec = time.time() - t0
    total = sum(v for k, v in counts.items()
                if k in ("errors", "by_role"))
    # end-of-run summary [webalizer.c prints N records in S seconds, R/sec]
    print(f"{int(total)} records in {sec:.1f} seconds, "
          f"{total / sec:.0f} records/sec")
    for k, v in sorted(counts.items()):
        print(f"  sink {k}: {int(v)} rows")
    res.unpersist()


if __name__ == "__main__":
    main()
