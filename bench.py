"""Benchmark harness (driver contract + BASELINE.md graded metric).

Runs (1) the flagship end-to-end transcript pipeline — parse -> enrich ->
route -> aggregate with all sinks materialized — on a cached deterministic
bench fixture, reporting turns/sec (the north_rule metric), and (2) a set
of headline operator queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1).

ADJUDICABLE PROTOCOL (round-4 verdict item 1): a single cold sample on a
co-tenant box cannot be told apart from host noise (r4: the driver read
63.2 s where a quiet-box sample read 47.2 s). The default run therefore
takes BENCH_SAMPLES (default 3) fresh-JVM samples (one subprocess each,
nothing warm-shared — the tools/bench_scaling.py discipline), reports the
per-query MEDIAN, and records load context so any two artifacts can be
compared: 1-min loadavg before/after every sample plus a pure-CPU probe
(probe_host._burn_cpu work units at SPARK_GRAFT_CPUS threads — the box's
deliverable cycles at that moment; reference analog: webalizer's own
records/sec self-report [webalizer.c end of ƒmain]).

Prints ONE JSON line:
  {"metric": "...", "value": <median total sec>, "unit": "sec",
   "queries": {name: median sec, ...}, "sf": ...,
   "pipeline": {"turns": N, "sec": median S, "turns_per_sec": R},
   "samples": [per-sample records], "load": {...}, "cpu_probe": {...}}

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (local[N]),
BENCH_CONVS (fixture size), BENCH_WHALE=1 (one-whale fixture, which the
pipeline's own hottest-conv estimate sends down the skew-safe path),
BENCH_SAMPLES (fresh-JVM samples, default 3; 1 = old single-pass).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
BENCH_BASE = os.path.join(REPO, "_bench_data")

HEADLINE = [
    "tr2_sessions",
    "evt_sessions_per_user",
    "evt_daily_totals",
    "evt_rollup",
    "tpch_pricing_summary",
    "tpch_join_agg",
    "doc_minhash_signatures",
    "emb_cosine_topk",
    "emb_lsh_buckets",
    "emb_ann_topk",
    "doc_winnow_fingerprints",
    "doc_span_dedup",
    # NEW round 6 — no r5 comparison line (noted in BENCH.md)
    "doc_substring_dedup",
    "doc_lm_ppl",
    "emb_semdedup_keep",
    "doc_mixture_rows",
    # NEW late round 6 — no earlier comparison line (noted in BENCH.md)
    "doc_lm_ppl2",
    "evt_profile",
    "doc_pii_stats",
]


def bench_fixture() -> str:
    from webalizer_spark.datagen import GenParams, ensure_fixture

    # 200k convs ~ 10M turns: big enough that per-core work dominates the
    # ~10 s fixed cost (see BENCH.md scaling curve); generated once and
    # cached under _bench_data/
    n_convs = int(os.environ.get("BENCH_CONVS", "200000"))
    if os.environ.get("BENCH_WHALE") == "1":
        # single-whale skew fixture: ONE conv holds ~1M turns (capped at
        # max_turns*hot_mult) — wall-clock must stay flat on the
        # skew-safe path regardless of the whale's share
        params = GenParams(n_convs=n_convs, hot_convs=1, hot_mult=5000)
        return ensure_fixture(BENCH_BASE, params, tag=f"whale_{n_convs}")
    # two hot convs (the hotter ~71k turns: below HOT_CONV_ROWS, so the
    # pipeline keeps the window path)
    params = GenParams(n_convs=n_convs, hot_convs=2, hot_mult=500)
    return ensure_fixture(BENCH_BASE, params, tag=f"bench_{n_convs}")


def run_pipeline_bench(spark, fixture: str) -> dict:
    from webalizer_spark.plans.pipeline import run_pipeline, write_sinks

    tr = spark.read.parquet(f"{fixture}/transcripts.parquet")
    dims = {n: spark.read.parquet(f"{fixture}/{n}.parquet")
            for n in ["role_class", "tool_family", "byte_ranges",
                      "engine_params", "name_groups"]}
    out = os.path.join(BENCH_BASE, "_out")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    res = run_pipeline(spark, tr, dims)
    counts = write_sinks(res, out)
    sec = time.time() - t0
    res.unpersist()
    turns = int(counts["errors"] + counts["by_role"])
    return {"turns": turns, "sec": round(sec, 3),
            "turns_per_sec": round(turns / sec, 1)}


def _cpu_probe(seconds: float = 4.0) -> dict:
    """Deliverable-cycles probe: _burn_cpu work units at the bench's
    thread count. Comparable across artifacts on the same host; a run
    whose probe reads 30% lower ran on a 30%-stolen box."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from probe_host import _burn_cpu, run as probe_run

    nt = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    t0 = time.time()
    work = probe_run(_burn_cpu, nt, seconds)
    return {"threads": nt, "seconds": round(time.time() - t0, 2),
            "work": work, "work_per_thread_sec": round(work / nt / seconds, 1)}


def _median_merge(samples: list[dict]) -> dict:
    """ONE driver-contract JSON from N child samples: per-query medians,
    median pipeline, every raw sample + load context preserved."""
    qnames = samples[0]["queries"].keys()
    queries = {n: round(statistics.median(s["queries"][n] for s in samples), 3)
               for n in qnames}
    pipe_secs = [s["pipeline"]["sec"] for s in samples]
    med_pipe_sec = statistics.median(pipe_secs)
    turns = samples[0]["pipeline"]["turns"]
    merged = {k: v for k, v in samples[0].items()
              if k not in ("loadavg_before", "loadavg_after")}
    merged.update({
        "value": round(statistics.median(s["value"] for s in samples), 3),
        "queries": queries,
        "pipeline": {"turns": turns, "sec": round(med_pipe_sec, 3),
                     "turns_per_sec": round(turns / med_pipe_sec, 1),
                     "sec_samples": pipe_secs},
        "protocol": f"median of {len(samples)} fresh-JVM samples "
                    "(subprocess per sample, nothing warm-shared; raw "
                    "samples on earlier '# raw_sample' stdout lines)",
    })
    return merged


def _parent() -> None:
    """Default mode: orchestrate BENCH_SAMPLES fresh-JVM children and
    print the median-merged driver-contract line."""
    n = int(os.environ.get("BENCH_SAMPLES", "3"))
    probe_before = _cpu_probe()
    samples = []
    for i in range(n):
        env = dict(os.environ)
        env["BENCH_CHILD"] = "1"
        load_before = round(os.getloadavg()[0], 2)
        out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                             env=env, capture_output=True, text=True,
                             check=True)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        rec = json.loads(line)
        rec["loadavg_before"] = load_before
        rec["loadavg_after"] = round(os.getloadavg()[0], 2)
        samples.append(rec)
        print(f"# sample {i}: pipeline {rec['pipeline']['sec']:.1f}s "
              f"({rec['pipeline']['turns_per_sec']:.0f} turns/s), "
              f"total {rec['value']:.1f}s, load "
              f"{load_before}->{rec['loadavg_after']}",
              file=sys.stderr, flush=True)
    probe_after = _cpu_probe()
    # raw per-sample records go to stdout as non-final commented lines
    # (full fidelity for humans / BENCH.md), keeping the LAST stdout
    # line a compact medians-only object the driver's tail capture can
    # always parse — round 5's inline-samples line outgrew it
    # ("parsed": null in BENCH_r05.json)
    for i, s in enumerate(samples):
        print(f"# raw_sample {i}: " + json.dumps(
            {"value": s["value"], "queries": s["queries"],
             "pipeline": s["pipeline"],
             "loadavg_before": s.get("loadavg_before"),
             "loadavg_after": s.get("loadavg_after")}), flush=True)
    merged = _median_merge(samples)
    merged["load"] = {"before": samples[0]["loadavg_before"],
                      "after": samples[-1]["loadavg_after"]}
    merged["cpu_probe"] = {"before": probe_before, "after": probe_after}
    print(json.dumps(merged))


def main() -> None:
    # scaling-protocol mode (BENCH_ONLY=pipeline, driven by
    # tools/bench_scaling.py) and explicit BENCH_SAMPLES=1 stay
    # single-pass in-process; the default run orchestrates fresh-JVM
    # median-of-N children
    if (os.environ.get("BENCH_CHILD") != "1"
            and os.environ.get("BENCH_ONLY") != "pipeline"
            and int(os.environ.get("BENCH_SAMPLES", "3")) > 1):
        _parent()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    fixture = bench_fixture()

    from webalizer_spark import get_spark
    from webalizer_spark.queries import QUERIES, UNGRADED

    all_queries = {**UNGRADED, **QUERIES}

    spark = get_spark(app_name="webalizer_spark_bench",
                      extra_confs={"spark.ui.showConsoleProgress": "false"})

    t_total = time.time()
    qtimes: dict[str, float] = {}

    pipe = run_pipeline_bench(spark, fixture)
    qtimes["pipeline_e2e"] = pipe["sec"]

    if os.environ.get("BENCH_ONLY") == "pipeline":
        # scaling-protocol mode (tools/bench_scaling.py): pipeline only,
        # fresh JVM per run, no headline queries
        print(json.dumps({
            "metric": "pipeline turns/sec",
            "value": pipe["sec"], "unit": "sec", "pipeline": pipe,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        }))
        return

    for name in HEADLINE:
        t0 = time.time()
        # foreach-noop materializes every row without driver collect
        all_queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        qtimes[name] = round(time.time() - t0, 3)

    total = round(time.time() - t_total, 3)
    sf = 0.1 if "sf0.1" in sf_dir else (0.01 if "sf0.01" in sf_dir else None)
    print(json.dumps({
        "metric": "e2e parse->enrich->route->aggregate + headline queries",
        "value": total,
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "pipeline": pipe,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }))


if __name__ == "__main__":
    main()
