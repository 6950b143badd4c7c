"""The benchmark's three workloads: inputs made from the seed, one timed
iteration through the public API, and the iteration's correctness gate.

batch        TableIO.read -> run_pipeline -> write_sinks -> save_state ->
             history TableIO.merge, on a fresh output and checkpoint.
incremental  the same steps plus resume_filter and resume_sessionize,
             resuming a checkpoint seeded (untimed) from the turns at or
             before the 90th-percentile ts; ~10% of the turns are new.
queries      the 19 bench.HEADLINE leaves, each written to the noop sink.

The steps mirror jobs/run_pipeline.py's lifecycle; the history rows are
built there inline, so they are rebuilt here the same way.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gates
from metrics import LEAVES

DIMS = ("role_class", "tool_family", "byte_ranges", "engine_params",
        "name_groups")
HISTORY_COLS = ("hits", "files", "pages", "errors", "bytes", "visits")

# ~48k turns: the bench.py shape (Zipf conv sizes, 2 hot convs, 1%
# corrupt lines) at a size whose run fits the benchmark's time budget.
# The hot convs are capped at 200 x 5 = 1000 turns, ~2% of the turns each
# (bench.py: 200 x 500 = 100k turns, 1% of ~10M)
N_CONVS = 1000
HOT_MULT = 5

# the query fixture is fixed, like the testdata the leaves are graded on:
# the same tables, schemas and row counts as sf0.01 (tools/gen_sf1.py's
# generators, one seed)
QUERY_SEED = 42
QUERY_TABLES = ("events", "lineitem", "orders", "documents", "embeddings")
QUERY_ROWS = {"events": 10_000, "users": 150, "documents": 500,
              "embeddings": 500, "lineitem": 60_000}


@dataclass
class Outcome:
    """What one timed iteration produced."""

    wall_s: float
    spans: range              # this iteration's indices in tracer.spans
    steps: dict[str, float]   # span name -> wall seconds
    records: int
    output_bytes: int
    results: dict = field(default_factory=dict)   # sink counts or leaf frames
    layer: dict[str, float] = field(default_factory=dict)


def make_transcripts(out_dir: str, seed: int) -> str:
    from webalizer_spark.datagen import GenParams, gen_dimensions, gen_transcripts

    params = GenParams(n_convs=N_CONVS, seed=seed, hot_convs=2,
                       hot_mult=HOT_MULT)
    gen_transcripts(out_dir, params)
    gen_dimensions(out_dir)
    return out_dir


def split_at_p90(src: str, dst: str) -> None:
    """dst gets src's dimensions and the turns with ts at or before the
    90th-percentile ts."""
    os.makedirs(dst, exist_ok=True)
    tbl = pq.read_table(os.path.join(src, "transcripts.parquet"))
    ts = tbl["ts"].cast("int64").to_numpy()
    cut = np.quantile(ts, 0.9, method="lower")
    keep = pc.less_equal(tbl["ts"].cast("int64"), cut)
    pq.write_table(tbl.filter(keep), os.path.join(dst, "transcripts.parquet"),
                   row_group_size=128 * 1024)
    for d in DIMS:
        shutil.copy(os.path.join(src, f"{d}.parquet"), dst)


def make_query_tables(out_dir: str, repo: str) -> None:
    """The five tables the leaves read, by tools/gen_sf1.py's generators."""
    sys.path.insert(0, os.path.join(repo, "tools"))
    import gen_sf1

    os.makedirs(out_dir, exist_ok=True)
    gen_sf1.OUT, gen_sf1.SEED = out_dir, QUERY_SEED
    # its progress lines go to stderr: stdout ends with the JSON result
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf1.gen_events(QUERY_ROWS["events"], QUERY_ROWS["users"])
        gen_sf1.gen_documents(QUERY_ROWS["documents"])
        gen_sf1.gen_embeddings(QUERY_ROWS["embeddings"])
        gen_sf1.gen_tpch(QUERY_ROWS["lineitem"])


def files_written(roots: list[str], before: dict) -> int:
    """Bytes of files under roots that are new or changed since
    ``before`` (a snapshot() of the same roots)."""
    return sum(size for path, (size, mtime) in snapshot(roots).items()
               if before.get(path) != (size, mtime))


def snapshot(roots: list[str]) -> dict[str, tuple[int, int]]:
    files = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(d, n))
                files[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return files


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos)


class Pipeline:
    """batch, or incremental when ``resumed``."""

    def __init__(self, name: str, work: str, seed: int) -> None:
        self.name = name
        self.resumed = name == "incremental"
        self.fixture = make_transcripts(os.path.join(work, "fixture"), seed)
        self.oracle = gates.PipelineOracle(
            os.path.join(self.fixture, "transcripts.parquet"))
        self.out = os.path.join(work, "out")
        self.ckpt_dir = os.path.join(work, "ckpt")
        self.seed_dir = os.path.join(work, "seeded")
        self.first_digests: dict | None = None
        self.watermark = None

    def prepare(self, spark) -> None:
        """Untimed: seed the checkpoint the incremental runs resume."""
        if not self.resumed:
            return
        from webalizer_spark.plans.checkpoint import CheckpointPaths, load_manifest

        from spans import Tracer

        shutil.rmtree(self.seed_dir, ignore_errors=True)
        part = os.path.join(self.seed_dir, "input")
        split_at_p90(self.fixture, part)
        out, ckpt = (os.path.join(self.seed_dir, d) for d in ("out", "ckpt"))
        # the seeding run's sinks are never read: skip writing them
        self._lifecycle(spark, part, out, ckpt, False, Tracer(), False,
                        sinks=False)
        self.watermark = np.datetime64(
            load_manifest(CheckpointPaths(ckpt))["watermark"])

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        if self.resumed:
            shutil.copytree(os.path.join(self.seed_dir, "ckpt"), self.ckpt_dir)
            shutil.copytree(os.path.join(self.seed_dir, "out", "history"),
                            os.path.join(self.out, "history"))

    def run(self, spark, tracer, traced: bool) -> Outcome:
        """One timed iteration; reset() must have run first."""
        before = snapshot([self.out, self.ckpt_dir])
        n = len(tracer.spans)
        wall, counts, layer = self._lifecycle(
            spark, self.fixture, self.out, self.ckpt_dir, self.resumed,
            tracer, traced)
        return Outcome(
            wall_s=wall, spans=range(n, len(tracer.spans)),
            steps={s.name: s.wall_s for s in tracer.spans[n:]},
            records=int(counts["errors"] + counts["by_role"]),
            output_bytes=files_written([self.out, self.ckpt_dir], before),
            results=counts, layer=layer)

    def check(self, outcome: Outcome) -> list[str]:
        """Correctness of the outputs the run() of ``outcome`` left."""
        from webalizer_spark.plans.checkpoint import CheckpointPaths

        if self.resumed:
            problems = gates.check_incremental(
                self.oracle, self.out, CheckpointPaths(self.ckpt_dir),
                outcome.results, self.watermark)
        else:
            problems = gates.check_batch(self.oracle, self.out,
                                         outcome.results)
        reports = sorted(os.listdir(os.path.join(self.out, "reports")))
        digests = gates.sink_digests(self.out, reports)
        if self.first_digests is None:
            self.first_digests = digests
        return problems + gates.check_digests(self.first_digests, digests)

    @staticmethod
    def _lifecycle(spark, fixture, out, ckpt_dir, resumed, tracer, traced,
                   sinks=True):
        """read -> run_pipeline -> write_sinks -> save_state -> history
        merge, a span around each call into a layer. ``traced`` also
        materialises the parse and spine caches in spans of their own."""
        from pyspark.sql import functions as F

        from webalizer_spark.config import DEFAULT_CONFIG as cfg
        from webalizer_spark.plans.checkpoint import (
            CheckpointPaths,
            resume_filter,
            resume_sessionize,
            save_state,
        )
        from webalizer_spark.plans.pipeline import run_pipeline, write_sinks
        from webalizer_spark.sources.tables import TableIO

        layer: dict[str, float] = {}
        ckpt = CheckpointPaths(ckpt_dir)
        t0 = time.perf_counter()
        with tracer.span("pipeline.plan"):
            io_in = TableIO(spark, base_path=fixture)
            tr = io_in.read("transcripts")
            dims = {n: io_in.read(n) for n in DIMS}
            sessionizer = None
            if resumed:
                tr = resume_filter(tr, ckpt)
                sessionizer = lambda df: resume_sessionize(  # noqa: E731
                    df, ckpt, cfg.visit_timeout_s)
            res = run_pipeline(spark, tr, dims, cfg=cfg,
                               sessionizer=sessionizer)
        try:
            if traced:
                with tracer.span("parse"):
                    layer["parsed_rows"] = res.parsed.count()
                layer["parse_cache_bytes"] = cached_bytes(spark)
                with tracer.span("spine"):
                    res.enriched.count()
                layer["spine_cache_bytes"] = (cached_bytes(spark)
                                              - layer["parse_cache_bytes"])
            counts = {}
            if sinks:
                with tracer.span("sinks"):
                    counts = write_sinks(res, out)
            with tracer.span("checkpoint"):
                save_state(res.enriched, ckpt)
            with tracer.span("history"):
                hist = (spark.read.parquet(ckpt.daily_state)
                        .groupBy(F.date_trunc("month", "day_ts")
                                 .alias("month_ts"))
                        .agg(*[F.sum(c).alias(c) for c in HISTORY_COLS]))
                TableIO(spark, base_path=out).merge(hist, "history",
                                                    ["month_ts"])
            wall = time.perf_counter() - t0
        finally:
            res.unpersist()
        layer["errors_rows"] = counts.get("errors", 0)
        return wall, counts, layer


class Queries:
    """The headline leaves on the fixed query fixture."""

    name = "queries"

    def __init__(self, work: str, repo: str) -> None:
        self.sf_dir = os.path.join(work, "sf")
        make_query_tables(self.sf_dir, repo)
        self.expected = gates.duckdb_expected(self.sf_dir, LEAVES,
                                              QUERY_TABLES)
        self.records = sum(pq.ParquetFile(os.path.join(
            self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in QUERY_TABLES)

    def prepare(self, spark) -> None:
        pass

    def reset(self) -> None:
        pass

    def run(self, spark, tracer, traced: bool) -> Outcome:
        """Every leaf planned, run and collected to the driver."""
        from webalizer_spark.queries import QUERIES, UNGRADED

        registry = {**UNGRADED, **QUERIES}
        frames = {}
        n = len(tracer.spans)
        t0 = time.perf_counter()
        for name in LEAVES:
            with tracer.span(f"query.{name}"):
                frames[name] = registry[name](spark, self.sf_dir).toPandas()
        wall = time.perf_counter() - t0
        return Outcome(
            wall_s=wall, spans=range(n, len(tracer.spans)),
            steps={s.name: s.wall_s for s in tracer.spans[n:]},
            records=self.records,
            output_bytes=int(sum(f.memory_usage(deep=True).sum()
                                 for f in frames.values())),
            results=frames)

    def check(self, outcome: Outcome) -> list[str]:
        return [p for name, got in outcome.results.items()
                for p in gates.check_leaf(name, got, self.expected[name])]
