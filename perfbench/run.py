"""The repository benchmark: one workload per process, at local[nproc].

    python3 perfbench/run.py --workload {batch,incremental,queries} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. A run pins the environment (hostenv.py),
makes its inputs from the seed, starts its SparkSession (setup_s: process
start to a ready session, less input generation and host probes), then
runs timed iterations until S seconds of them have passed, checking each
one's outputs (gates.py).

JIT warm-up: before timing, one small generic query (hostenv.warm_jvm)
takes the JVM's one-off start-up work (SQL engine class loading, the
code generator, the first shuffle, parquet and Arrow paths) out of the
first timed step. No workload plan runs before it is timed: the first
timed iteration runs the program's own plans cold, as every
jobs/run_pipeline.py invocation does. The incremental workload's untimed
checkpoint seeding runs first in the same JVM. Both commits of an A/B
get the same treatment.

--trace 1 runs the timed phase twice, each in a fresh JVM: first with
Spark's event log on, folding the log into the per-layer metrics
(spans.py), then without it, giving the tracing overhead. Layers a
workload does not run report 0. The last stdout line is the JSON result;
the lines before it record the environment and every metric with its
unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import hostenv  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

# a run must end within 180 s: no timed iteration or phase starts that
# the last one's wall says would end past this mark (seconds after start)
DEADLINE_S = 165


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


class Phase:
    """Timed iterations of one workload in one session."""

    def __init__(self, wl, spark, tracer, traced: bool) -> None:
        self.wl, self.spark, self.tracer, self.traced = wl, spark, tracer, traced
        self.timed = []          # Outcome of every timed iteration
        self.attempted = self.failed = 0
        self.raised = False

    def _iteration(self) -> None:
        self.attempted += 1
        try:
            self.wl.reset()
            outcome = self.wl.run(self.spark, self.tracer, self.traced)
            problems = self.wl.check(outcome)
        except Exception:  # an iteration that raises is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.raised = True
            return
        if problems:
            self.failed += 1
            for p in problems:
                print(f"# check failed: {p}", file=sys.stderr)
        self.timed.append(outcome)

    def run(self, seconds: float, deadline: float) -> None:
        while True:
            self._iteration()
            last = self.timed[-1].wall_s if self.timed else 0.0
            if (self.raised or sum(o.wall_s for o in self.timed) >= seconds
                    or time.time() + last > deadline):
                break
        if not self.timed:
            raise RuntimeError("no timed iteration completed")


def end_to_end(phase: Phase, setup_s: float) -> dict[str, float]:
    runs = phase.timed
    return {
        "setup_s": setup_s,
        "wall_s": median([o.wall_s for o in runs]),
        "records_per_s": median([o.records / o.wall_s for o in runs]),
        "step_geomean_s": median([geomean(list(o.steps.values()))
                                  for o in runs]),
        "output_bytes": median([o.output_bytes for o in runs]),
    }


def per_layer(phase: Phase, fold, untraced_wall: float,
              session_start: float, rss_mb: float) -> dict[str, float]:
    """Median over the traced timed iterations of each layer metric."""
    cores = hostenv.cores()
    by_iter: list[dict[str, float]] = []
    for o in phase.timed:
        m: dict[str, float] = {}
        named = {fold.spans[i][0].name: (i, *fold.spans[i]) for i in o.spans}
        gap = o.wall_s - sum(s.wall_s for _, s, _ in named.values())
        m["trace.span_gap_frac"] = gap / o.wall_s
        for name, (i, span, tot) in named.items():
            t = tot.sums
            if name.startswith("query."):
                m[f"{name}.s"] = span.wall_s
                m[f"{name}.cpu_s"] = t["cpu_s"]
            elif name == "pipeline.plan":
                m["pipeline.plan_s"] = span.wall_s
            elif name == "parse":
                kept = o.layer["parsed_rows"]
                m.update({
                    "parse.wall_s": span.wall_s, "parse.cpu_s": t["cpu_s"],
                    "parse.input_bytes": t["input_bytes"],
                    "parse.rows_in": t["input_records"],
                    "parse.kept_frac": kept / max(t["input_records"], 1),
                    "parse.bad_frac": o.layer["errors_rows"] / max(kept, 1),
                    "parse.cache_bytes": o.layer["parse_cache_bytes"]})
            elif name == "spine":
                m.update({
                    "spine.wall_s": span.wall_s, "spine.cpu_s": t["cpu_s"],
                    "spine.gc_s": t["gc_s"],
                    "spine.shuffle_write_bytes": t["shuffle_write_bytes"],
                    "spine.spill_bytes": t["disk_spill_bytes"],
                    "spine.cache_bytes": o.layer["spine_cache_bytes"],
                    "spine.task_skew": tot.task_skew()})
            elif name == "sinks":
                sinks = fold.sinks[i]
                man = sinks.get("manifest")
                m.update({
                    "sinks.wall_s": span.wall_s, "sinks.jobs": tot.jobs,
                    "sinks.tasks": t["tasks"], "sinks.cpu_s": t["cpu_s"],
                    "sinks.core_busy_frac":
                        t["run_s"] / (span.wall_s * cores),
                    "sinks.shuffle_write_bytes": t["shuffle_write_bytes"],
                    "sinks.bytes_written": t["bytes_written"],
                    "sinks.manifest.wall_s":
                        (span.end_ms - man.first_submit_ms) / 1000.0
                        if man else 0.0})
                for sink in ("by_role", "tool_calls", "errors", "reports"):
                    st = sinks.get(sink)
                    s = st.sums if st else {}
                    m[f"sinks.{sink}.cpu_s"] = s.get("cpu_s", 0.0)
                    if sink == "by_role":
                        m["sinks.by_role.bytes_written"] = s.get(
                            "bytes_written", 0.0)
                    if sink == "reports":
                        m["sinks.reports.jobs"] = st.jobs if st else 0
                        m["sinks.reports.shuffle_write_bytes"] = s.get(
                            "shuffle_write_bytes", 0.0)
            elif name == "checkpoint":
                m.update({"checkpoint.save_s": span.wall_s,
                          "checkpoint.jobs": tot.jobs,
                          "checkpoint.bytes_written": t["bytes_written"]})
            elif name == "history":
                m["history.merge_s"] = span.wall_s
        by_iter.append(m)

    out = {}
    for spec in PER_LAYER:
        vals = [m[spec.name] for m in by_iter if spec.name in m]
        out[spec.name] = median(vals)
    out["session.start_s"] = session_start
    # 0 when the run had no time left for the untraced phase
    out["trace.overhead"] = (median([o.wall_s for o in phase.timed])
                             / untraced_wall if untraced_wall else 0.0)
    out["peak_rss_mb"] = rss_mb
    return out


def make_workload(name: str, work: str, seed: int):
    import workloads

    if name == "queries":
        return workloads.Queries(work, REPO)
    return workloads.Pipeline(name, work, seed)


def measure(args, work: str, t_start: float) -> dict:
    # input generation and host probes are left out of setup_s
    prep_t0 = time.time()
    env = hostenv.pin_env(work)
    record = {"env": env, "cores": hostenv.cores(),
              "driver_memory": hostenv.DRIVER_MEM,
              "loadavg_1m_before": os.getloadavg()[0],
              "cpu_probe_before": hostenv.cpu_probe(REPO)}
    wl = make_workload(args.workload, os.path.join(work, "data"), args.seed)
    prep_s = time.time() - prep_t0

    from webalizer_spark import get_spark

    from spans import Tracer, fold, read_events

    log_dir = os.path.join(work, "eventlog")
    event_log = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "true"}
    phases: list[Phase] = []
    rss_mb = phase_s = 0.0
    for traced in ([True, False] if args.trace else [False]):
        if time.time() + phase_s > t_start + DEADLINE_S:
            break   # the untraced phase would not fit: no overhead figure
        phase_t0 = time.time()
        os.makedirs(log_dir, exist_ok=True)
        spark = get_spark(app_name="perfbench", extra_confs={
            **hostenv.spark_confs(work), **(event_log if traced else {})})
        if not phases:
            setup_s = time.time() - t_start - prep_s
            record["versions"] = hostenv.versions(spark)
        try:
            hostenv.warm_jvm(spark, work)
            wl.prepare(spark)
            phase = Phase(wl, spark, Tracer(), traced)
            pids = [os.getpid(), hostenv.jvm_pid()]
            hostenv.reset_peak_rss(pids)
            phase.run(args.seconds, t_start + DEADLINE_S)
            if not phases:
                rss_mb = hostenv.peak_rss_mb(pids)
        finally:
            hostenv.stop_jvm(spark)
        phases.append(phase)
        phase_s = time.time() - phase_t0

    record["setup_s"] = setup_s
    record["prep_s"] = prep_s
    record["loadavg_1m_after"] = os.getloadavg()[0]
    record["cpu_probe_after"] = hostenv.cpu_probe(REPO)
    record["timed_wall_s"] = [[o.wall_s for o in p.timed] for p in phases]
    record["timed_steps_s"] = [[o.steps for o in p.timed] for p in phases]
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    record["failed_frac"] = failed / attempted

    if args.trace:
        traced = phases[0]
        spans = traced.tracer.spans
        sink_spans = {i: wl.out for i, s in enumerate(spans)
                      if s.name == "sinks"}
        folded = fold(read_events(log_dir), spans, sink_spans)
        plain_wall = (median([o.wall_s for o in phases[1].timed])
                      if len(phases) > 1 else 0.0)
        metrics = per_layer(traced, folded, plain_wall, setup_s, rss_mb)
        specs = PER_LAYER
    else:
        metrics = end_to_end(phases[0], setup_s)
        specs = END_TO_END
    return {"record": record, "attempted": attempted, "failed": failed,
            "metrics": {s.name: {"value": metrics[s.name], "unit": s.unit}
                        for s in specs}}


def main() -> int:
    t_start = hostenv.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "webalizer_spark")):
        print(f"no webalizer_spark package under {REPO}: run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".perfbench", f"{args.workload}-{os.getpid()}")
    try:
        res = measure(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# record " + json.dumps(res["record"]))
    for name, m in res["metrics"].items():
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"# {args.workload} failed_frac = {res['record']['failed_frac']} "
          f"({res['failed']} of {res['attempted']} runs)")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
