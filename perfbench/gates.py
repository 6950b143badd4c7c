"""Per-run correctness gates.

batch        errors + by_role rows equal the input turns; the errors rows,
             daily totals, status histogram, top tools, actor classes and
             entry/exit tables equal tests/oracle_pandas.py on the same
             input; every sink's row count and order-independent content
             hash equals that of the run's first checked iteration.
incremental  daily state and session numbering after the delta equal the
             oracle's one-shot batch over all rows; sink digests as above.
queries      each leaf's tools/verify_queries.canon result equals its
             DuckDB ORACLE / UNGRADED_ORACLE SQL.

Every check returns a list of problems; an empty list passes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tests import oracle_pandas as O

SINKS = ("errors", "tool_calls", "by_role")


def frame_digest(df: pd.DataFrame) -> int:
    """Order-independent content hash: the wrapping sum of per-row
    hashes over columns in name order."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.CategoricalDtype):
            df[c] = df[c].astype(str)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            # Spark's INT96 timestamps read back as ns, the fixture as us
            df[c] = df[c].astype("datetime64[ns]")
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return int(np.add.reduce(rows, dtype=np.uint64))


def read_sink(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def sink_digests(out: str, reports: list[str]) -> dict[str, tuple[int, int]]:
    """(rows, content hash) of every sink and report table under out."""
    names = list(SINKS) + [f"reports/{r}" for r in reports]
    digests = {}
    for name in names:
        df = read_sink(os.path.join(out, name))
        digests[name] = (len(df), frame_digest(df))
    return digests


def _errors_frame(df: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"conv_id": df["conv_id"].astype(str),
                         "turn_idx": df["turn_idx"].astype("int64"),
                         "text": df["text"].astype(str)})


class PipelineOracle:
    """The pandas oracle over one transcript fixture, computed once per
    run; the checks then compare each iteration's sinks to it."""

    def __init__(self, transcripts_path: str) -> None:
        raw = pd.read_parquet(transcripts_path)
        parsed = O.parse(raw)
        self.turns = len(raw)
        self.ts = raw["ts"]
        bad = parsed[~parsed["parse_ok"]]
        self.errors = (len(bad), frame_digest(_errors_frame(bad)))
        ok = parsed[parsed["parse_ok"]]
        self.sessions = O.sessionize(ok)
        self.daily = (O.daily_totals(self.sessions).sort_values("day_ts")
                      .reset_index(drop=True))
        self.status = O.status_histogram(ok)
        self.top_tools = (O.per_tool(ok).sort_values(
            ["hits", "tool"], ascending=[False, True]).head(30)
            .reset_index(drop=True))
        self.actor = (O.actor_class_totals(ok).sort_values("actor_class")
                      .reset_index(drop=True))
        entries, exits = O.entry_exit_counts(self.sessions)
        self.top_entry = entries.sort_values(
            ["entries", "page"], ascending=[False, True]).head(10)
        self.top_exit = exits.sort_values(
            ["exits", "page"], ascending=[False, True]).head(10)

    def delta_rows(self, watermark) -> int:
        return int((self.ts > watermark).sum())


def _eq(problems: list[str], what: str, got, want) -> None:
    if list(got) != list(want):
        problems.append(f"{what}: got {list(got)[:5]}... want "
                        f"{list(want)[:5]}...")


def check_batch(oracle: PipelineOracle, out: str,
                counts: dict[str, int]) -> list[str]:
    p: list[str] = []
    routed = counts["errors"] + counts["by_role"]
    if routed != oracle.turns:
        p.append(f"errors + by_role = {routed}, input turns {oracle.turns}")
    err = _errors_frame(read_sink(os.path.join(out, "errors")))
    if (len(err), frame_digest(err)) != oracle.errors:
        p.append("errors sink rows differ from the oracle's corrupt rows")

    def report(name, by):
        return (read_sink(os.path.join(out, "reports", name))
                .sort_values(by).reset_index(drop=True))

    daily = report("daily", "day_ts")
    for c in ["hits", "files", "pages", "errors", "sites", "visits"]:
        _eq(p, f"daily.{c}", daily[c].astype("int64"),
            oracle.daily[c].astype("int64"))
    if not np.allclose(daily["kbytes"], oracle.daily["kbytes"], rtol=1e-9):
        p.append("daily.kbytes differs from the oracle")
    status = report("status_codes", "status")
    _eq(p, "status_codes.status", status["status"], oracle.status["status"])
    _eq(p, "status_codes.hits", status["hits"], oracle.status["hits"])
    tools = read_sink(os.path.join(out, "reports", "top_tools"))
    tools = tools.sort_values(["hits", "tool"], ascending=[False, True])
    _eq(p, "top_tools.tool", tools["tool"], oracle.top_tools["tool"])
    _eq(p, "top_tools.hits", tools["hits"], oracle.top_tools["hits"])
    actor = report("by_actor_class", "actor_class")
    _eq(p, "by_actor_class", actor["actor_class"], oracle.actor["actor_class"])
    _eq(p, "by_actor_class.hits", actor["hits"], oracle.actor["hits"])
    for name, col, ref in [("top_entry", "entries", oracle.top_entry),
                           ("top_exit", "exits", oracle.top_exit)]:
        got = read_sink(os.path.join(out, "reports", name)).sort_values(
            [col, "page"], ascending=[False, True])
        _eq(p, f"{name}.page", got["page"], ref["page"])
        _eq(p, f"{name}.{col}", got[col], ref[col])
    return p


def check_incremental(oracle: PipelineOracle, out: str, ckpt,
                      counts: dict[str, int], watermark) -> list[str]:
    """``ckpt`` is the run's CheckpointPaths after save_state."""
    p: list[str] = []
    routed = counts["errors"] + counts["by_role"]
    want_rows = oracle.delta_rows(watermark)
    if routed != want_rows:
        p.append(f"errors + by_role = {routed}, rows past the watermark "
                 f"{want_rows}")
    daily = (read_sink(ckpt.daily_state).sort_values("day_ts")
             .reset_index(drop=True))
    ref = oracle.daily
    _eq(p, "daily_state.day_ts", daily["day_ts"], ref["day_ts"])
    for c in ["hits", "files", "pages", "errors", "visits"]:
        _eq(p, f"daily_state.{c}", daily[c].astype("int64"),
            ref[c].astype("int64"))
    if not np.allclose(daily["bytes"], ref["kbytes"] * 1024.0, rtol=1e-9):
        p.append("daily_state.bytes differs from the oracle")

    s = oracle.sessions
    conv = (s.groupby("conv_id")
            .agg(sessions=("session_seq", "max"), last_ts=("ts", "max"))
            .reset_index())
    got_conv = read_sink(ckpt.conv_state)
    if frame_digest(got_conv[["conv_id", "sessions", "last_ts"]].astype(
            {"sessions": "int64"})) != frame_digest(
            conv.astype({"sessions": "int64"})):
        p.append("conv_state differs from the oracle's one-shot batch")

    cols = ["conv_id", "turn_idx", "session_seq", "is_new_session"]
    want = s.loc[s["ts"] > watermark, cols].astype(
        {"turn_idx": "int64", "session_seq": "int64", "is_new_session": bool})
    got = read_sink(os.path.join(out, "by_role"))[cols].astype(
        {"turn_idx": "int64", "session_seq": "int64", "is_new_session": bool})
    if (len(got), frame_digest(got)) != (len(want), frame_digest(want)):
        p.append("delta session numbering differs from the oracle's "
                 "one-shot batch")
    return p


def check_digests(first: dict, now: dict) -> list[str]:
    return [f"{k}: rows/hash {now.get(k)} != first iteration {v}"
            for k, v in first.items() if now.get(k) != v]


def duckdb_expected(sf_dir: str, leaves, tables) -> dict[str, tuple]:
    """canon() of every leaf's DuckDB oracle over the fixture."""
    import duckdb

    from tools.verify_queries import canon
    from webalizer_spark.queries import ORACLE, UNGRADED_ORACLE

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
        return {n: canon(con.sql(ORACLE.get(n) or UNGRADED_ORACLE[n]).df())
                for n in leaves}
    finally:
        con.close()


def check_leaf(name: str, got: pd.DataFrame, expected: tuple) -> list[str]:
    from tools.verify_queries import canon

    cols, rows = canon(got)
    want_cols, want_rows = expected
    if cols != want_cols:
        return [f"{name}: columns {cols} != {want_cols}"]
    if rows != want_rows:
        return [f"{name}: {len(rows)} rows differ from the DuckDB oracle "
                f"({len(want_rows)} rows)"]
    return []
