"""Sessionization — Webalizer's 30-minute visit-timeout logic
(SURVEY §2.5 W1-W3; reference: [hashtab.c ƒput_hnode timeout branch ~150;
webalizer.h Visit_Timeout default 1800]).

Reference semantics, preserved exactly: within one host (here: conv_id),
a record whose gap from the previous record is >= timeout starts a new
visit; the first-ever record of a host starts visit 1. Ordering is
(ts, turn_idx) — turn_idx is the stable tie-break mandated by input_hint
(the C code gets stability implicitly from file order).

Two physical strategies, identical output (property-tested):

  sessionize()            gap-and-island via window functions. One shuffle
                          hash-partitioned by conv_id. The right default:
                          convs are small, partial aggregation downstream
                          is unaffected, AQE coalesces the shuffle.

  sessionize_skew_safe()  the hot-conv path (SURVEY §4 O9). A window
                          partition cannot be split by AQE, so a conv with
                          10^8 turns would pin one task. Instead:
                          repartitionByRange by (conv_id, ts, turn_idx)
                          (hot conv spans several consecutive partitions)
                          -> per-partition segmented scan in Arrow batches
                          (mapInPandas) emitting LOCAL session numbers +
                          one tiny boundary-summary row per partition ->
                          driver computes per-partition offsets/merges from
                          the summaries (pure prefix-sum over #partitions
                          rows) -> broadcast the corrections back and fix
                          the first spanning key of each partition.
                          Wall-clock is O(rows/partitions), independent of
                          the hottest key.

pick_sessionizer() chooses between them from a sample of the data, the
way the reference applies one timeout rule per host with no switch.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(df: DataFrame, timeout_s: int = 1800,
               key: str = "conv_id", ts_col: str = "ts",
               tiebreak: str = "turn_idx") -> DataFrame:
    """Append is_new_session (boolean) and session_seq (1-based per key).

    session_id = (key, session_seq) composite.
    """
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    # NTZ-safe epoch seconds: session tz is pinned UTC, so NTZ->LTZ->long
    # is exact; truncation matches the skew path's datetime64[s] cast.
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    prev_epoch = F.lag(epoch).over(w)
    is_new = prev_epoch.isNull() | ((epoch - prev_epoch) >= timeout_s)
    run = Window.partitionBy(key).orderBy(ts_col, tiebreak) \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.withColumn("is_new_session", is_new)
          .withColumn("session_seq",
                      F.sum(F.col("is_new_session").cast("long")).over(run))
    )


# ---------------------------------------------------------------------------
# skew-safe path
# ---------------------------------------------------------------------------

def _summary_schema(key_type: str) -> str:
    return (f"pid int, first_key {key_type}, first_ts long,"
            f" last_key {key_type}, last_ts long,"
            " first_key_sessions long, last_key_sessions long,"
            " first_key_rows long")


def _local_pass(ts_name: str, key_name: str, tiebreak: str, timeout_s: int,
                emit_summary: bool):
    """Build a mapInPandas fn computing per-partition local session seqs.

    Partitions arrive sorted by (key, ts, tiebreak); state carries across
    Arrow batches within the partition. The first row of the partition is
    provisionally a new session; the driver merge pass fixes it.
    """
    from pyspark import TaskContext

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        prev_key: Any = None
        prev_ts_val: Any = None
        seq_carry = 0                      # running seq of prev_key
        first_key = first_ts = None
        counts: dict[Any, int] = {}        # local session count per key
        rows_first_key = 0
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            # epoch seconds, robust to datetime64[ns] vs [us] batches;
            # truncation matches the window path's cast(ts as long)
            ts_s = pd.Series(
                pdf[ts_name].to_numpy().astype("datetime64[s]").astype("int64"),
                index=pdf.index)
            key_s = pdf[key_name]
            if first_key is None:
                first_key = key_s.iloc[0]
                first_ts = int(ts_s.iloc[0])
            key_change = key_s.ne(key_s.shift())
            if prev_key is not None:
                key_change.iloc[0] = key_s.iloc[0] != prev_key
            else:
                key_change.iloc[0] = True
            gap = ts_s - ts_s.shift()
            if prev_ts_val is not None:
                gap.iloc[0] = ts_s.iloc[0] - prev_ts_val
            is_new = key_change | (gap >= timeout_s)
            # per-key running count of new-session flags
            grp = key_s.ne(key_s.shift()).cumsum()
            seq = is_new.astype("int64").groupby(grp).cumsum()
            # continue numbering for the key carried from previous batch
            same_as_carry = key_s.eq(prev_key) if prev_key is not None else None
            if same_as_carry is not None and same_as_carry.iloc[0]:
                head = grp.iloc[0]
                seq = seq + (grp == head).astype("int64") * seq_carry
            out = pdf.copy()
            out["is_new_session"] = is_new.to_numpy()
            out["session_seq"] = seq.to_numpy()
            out["_pid"] = pid
            # update carry state
            last_key = key_s.iloc[-1]
            seq_carry = int(seq.iloc[-1])
            prev_key = last_key
            prev_ts_val = int(ts_s.iloc[-1])
            # track per-key totals for the summary
            per_key = is_new.astype("int64").groupby(key_s, sort=False).sum()
            for k, v in per_key.items():
                counts[k] = counts.get(k, 0) + int(v)
            rows_first_key += int((key_s == first_key).sum())
            if not emit_summary:
                yield out.drop(columns=["_pid"])
            else:
                yield out
        if emit_summary and any_rows:
            yield pd.DataFrame({
                "pid": [pid], "first_key": [first_key],
                "first_ts": [first_ts], "last_key": [prev_key],
                "last_ts": [prev_ts_val],
                "first_key_sessions": [counts.get(first_key, 0)],
                "last_key_sessions": [counts.get(prev_key, 0)],
                "first_key_rows": [rows_first_key],
            })

    return fn


def _summaries_fn(ts_name: str, key_name: str, tiebreak: str, timeout_s: int):
    inner = _local_pass(ts_name, key_name, tiebreak, timeout_s, emit_summary=True)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last = None
        for out in inner(batches):
            last = out
        if last is not None and "pid" in last.columns:
            yield last

    return fn


def _compute_corrections(summaries: list[dict], timeout_s: int) -> dict[int, tuple[str, int, bool]]:
    """Prefix-scan over ordered partition summaries.

    Returns pid -> (key, session_offset, merge_first) for partitions whose
    first key continues from the previous partition. Offsets are added to
    the local session_seq of rows with that key; merge_first means the
    partition's first local session is the same session as the previous
    partition's last.
    """
    corrections: dict[int, tuple[str, int, bool]] = {}
    carry_key = None
    carry_ts = None
    carry_cum = 0  # sessions of carry_key in all prior partitions (global)
    for s in sorted(summaries, key=lambda x: x["pid"]):
        pid = s["pid"]
        if carry_key is not None and s["first_key"] == carry_key:
            merge = (s["first_ts"] - carry_ts) < timeout_s
            offset = carry_cum - (1 if merge else 0)
            corrections[pid] = (carry_key, offset, merge)
            if s["last_key"] == carry_key:
                carry_cum = carry_cum + s["last_key_sessions"] - (1 if merge else 0)
                carry_ts = s["last_ts"]
                # carry_key unchanged
            else:
                carry_key, carry_ts = s["last_key"], s["last_ts"]
                carry_cum = s["last_key_sessions"]
        else:
            carry_key, carry_ts = s["last_key"], s["last_ts"]
            carry_cum = s["last_key_sessions"]
    return corrections


# Persisted range-partitioned intermediates of in-flight skew-safe runs.
# The ranged block must stay cached until the RESULT is materialized
# (stage 3 re-reads it), so the operator cannot unpersist before
# returning the lazy frame. Callers release via release_skew_caches()
# (PipelineResult.unpersist does) — without it, repeated skew-path runs
# in a long-lived driver would pin cached partitions forever.
_SKEW_CACHES: list[DataFrame] = []


def release_skew_caches() -> None:
    """Unpersist every ranged intermediate registered by skew-safe runs."""
    while _SKEW_CACHES:
        _SKEW_CACHES.pop().unpersist()


def sessionize_skew_safe(df: DataFrame, timeout_s: int = 1800,
                         key: str = "conv_id", ts_col: str = "ts",
                         tiebreak: str = "turn_idx",
                         num_partitions: int | None = None) -> DataFrame:
    """Skew-proof sessionization: identical output to sessionize().

    Three stages (two jobs over the ranged data + one tiny collect):
      1. range-partition + sort by (key, ts, tiebreak); persist.
      2. tiny summary job -> driver computes per-partition corrections.
      3. local segmented scan + broadcast correction map applied.
    """
    spark = df.sparkSession
    np_ = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(np_, key, ts_col, tiebreak)
          .sortWithinPartitions(key, ts_col, tiebreak)
          .persist()
    )
    try:
        key_type = df.schema[key].dataType.simpleString()
        summaries = [r.asDict() for r in ranged.mapInPandas(
            _summaries_fn(ts_col, key, tiebreak, timeout_s),
            schema=_summary_schema(key_type)).collect()]
        corrections = _compute_corrections(summaries, timeout_s)
        corr_json = json.dumps({str(p): [k, o, m]
                                for p, (k, o, m) in corrections.items()})
        out_schema = ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
            + ["is_new_session boolean", "session_seq long"])
        local = _local_pass(ts_col, key, tiebreak, timeout_s, emit_summary=True)

        def apply_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            corr = {int(p): v for p, v in json.loads(corr_json).items()}
            for out in local(batches):
                if "first_key" in out.columns:   # trailing summary row — drop
                    continue
                pid = int(out["_pid"].iloc[0])
                if pid in corr:
                    k, offset, merge = corr[pid]
                    mask = out[key].eq(k)
                    if merge:
                        # the partition's LOCAL session 1 of key k continues
                        # the previous partition's last session: clear the
                        # provisional new-session flag on its rows (only the
                        # partition's first row carried True)
                        sel = mask & out["session_seq"].eq(1)
                        out.loc[sel, "is_new_session"] = False
                    if offset:
                        out.loc[mask, "session_seq"] += offset
                return_cols = [c for c in out.columns if c != "_pid"]
                yield out[return_cols]

        result = ranged.mapInPandas(apply_fn, schema=out_schema)
        # materialization note: caller must consume the result before the
        # ranged cache is released — register it for release_skew_caches()
        _SKEW_CACHES.append(ranged)
        return result
    except Exception:
        ranged.unpersist()
        raise


# ---------------------------------------------------------------------------
# path choice
# ---------------------------------------------------------------------------

# estimated turns of the hottest key from which the skew-safe path is
# taken: below it the window path is cheaper (no range sort, no Arrow
# hop); above it the one window task holding that key pins the stage
# (BENCH.md §2, whale fixtures)
HOT_CONV_ROWS = 100_000


def pick_sessionizer(df: DataFrame) -> Callable[..., DataFrame]:
    """sessionize or sessionize_skew_safe, chosen from the data: skew-safe
    only when the hottest conv is estimated to hold HOT_CONV_ROWS rows.

    The estimate is a seeded 1% sample of the conv_id column (one small job;
    a conv at the threshold lands ~1k sampled rows), not an exact groupBy
    pre-pass, which at scale would be a full shuffle before any work.
    Both paths produce identical output (property-tested), so estimator
    noise can only change which plan runs, never the result; the seed
    keeps a given input deterministic.
    """
    hottest = (df.select("conv_id").sample(fraction=0.01, seed=7)
               .groupBy("conv_id").count()
               .agg(F.max("count")).collect()[0][0] or 0) * 100
    return sessionize_skew_safe if hottest >= HOT_CONV_ROWS else sessionize


# ---------------------------------------------------------------------------
# entry / exit pages (W2 / W3)
# ---------------------------------------------------------------------------

def entry_exit(sessions: DataFrame, page_col: str = "tool",
               key: str = "conv_id", ts_col: str = "ts",
               tiebreak: str = "turn_idx",
               page_pred: F.Column | None = None) -> DataFrame:
    """Per-session entry and exit page [webalizer.c ƒupdate_entry/ƒupdate_exit;
    hashtab.c hnode.lasturl]: the first and last page-row of each visit.

    "Page" defaults to the recast predicate page_col IS NOT NULL
    (SURVEY P7); a conf-driven PageType pipeline passes page_pred
    (filters.page_predicate over the spine's is_page column) with
    page_col='path' so entries/exits are the matching paths, like the
    reference's URL-based entry/exit tables.
    One shuffle (groupBy key+session); min_by/max_by on the (ts, tiebreak)
    struct keeps it a plain hash aggregate — no second window.
    """
    ordk = F.struct(F.col(ts_col), F.col(tiebreak))
    pred = page_pred if page_pred is not None else F.col(page_col).isNotNull()
    return (
        sessions.filter(pred)
        .groupBy(key, "session_seq")
        .agg(
            F.min_by(page_col, ordk).alias("entry_page"),
            F.max_by(page_col, ordk).alias("exit_page"),
            F.count(F.lit(1)).alias("page_hits"),
        )
    )


def entry_counts(sess_pages: DataFrame) -> DataFrame:
    """Top-entry-table input: sessions entered at each page (T3)."""
    return sess_pages.groupBy(F.col("entry_page").alias("page")) \
                     .agg(F.count(F.lit(1)).alias("entries"))


def exit_counts(sess_pages: DataFrame) -> DataFrame:
    return sess_pages.groupBy(F.col("exit_page").alias("page")) \
                     .agg(F.count(F.lit(1)).alias("exits"))
