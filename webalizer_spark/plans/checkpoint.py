"""Incremental checkpoint / resume — the recast of webalizer's
`webalizer.current` state snapshot (SURVEY §2.1 S8, §3 EP2;
reference: [preserve.c ƒsave_state ~400 / ƒrestore_state ~700;
webalizer.c incremental skip of records <= saved timestamp]).

State saved after a run (all parquet + one JSON manifest):
  conv_state/   per-conv (conv_id, last_ts, sessions) — enough to decide,
                for the first new row of a conv, whether it CONTINUES the
                last saved session (gap < timeout) exactly like the
                reference's restored hnode.tstamp.
  daily_state/  additive daily metrics (hits/files/pages/errors/bytes/
                visits) — counts and sums merge exactly under re-agg.
  day_conv_state/ (day_ts, conv_id) presence pairs — keeps the per-day
                DISTINCT-site count mergeable (A13: distincts must be
                kept as per-key tables to stay mergeable).
  manifest.json watermark (max ts), totals, and per-partition lineage
                metrics (rows and bytes per spine partition,
                spine_lineage) — the north_rule's "per-partition
                checkpoints with lineage and metrics".

resume(): new records are filtered to ts > watermark (P6; on Iceberg this
is partition pruning on the ts-bucketed layout), sessionized locally,
then session numbering is stitched to the saved state with one shuffle
join on conv_id — no driver-side state, scales to any conv count.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webalizer_spark.operators import aggregates as A
from webalizer_spark.operators.sessionize import pick_sessionizer


@dataclass
class CheckpointPaths:
    """Versioned checkpoint layout for torn-write safety.

    Each save_state writes its tables under a fresh ``v=<n>/`` subdir and
    commits by atomically renaming a temp manifest over manifest.json
    (the pointer). A crash mid-save leaves an orphan version dir but the
    manifest still points at the last CONSISTENT snapshot — the same
    write-then-rename discipline the reference uses for
    webalizer.current (U) and Iceberg uses for table metadata.
    """

    base: str

    @property
    def manifest(self) -> str:
        return os.path.join(self.base, "manifest.json")

    def _version(self) -> int:
        if os.path.exists(self.manifest):
            with open(self.manifest) as f:
                return json.load(f).get("version", 0)
        return 0

    def _vdir(self, name: str, version: int | None = None) -> str:
        v = self._version() if version is None else version
        return os.path.join(self.base, f"v={v}", name)

    @property
    def conv_state(self) -> str:
        return self._vdir("conv_state")

    @property
    def daily_state(self) -> str:
        return self._vdir("daily_state")

    @property
    def day_conv_state(self) -> str:
        return self._vdir("day_conv_state")


# the additive daily_state columns, in their stored order; each merges
# across runs by a plain sum
DAILY_COLS = ("hits", "files", "pages", "errors", "bytes", "visits")


def _daily_delta(sessions: DataFrame) -> DataFrame:
    """One batch's daily_state rows. pages counts the spine's PageType
    is_page column, so the saved history agrees with the daily report;
    bytes stays the raw sum(nbytes), not KBYTES."""
    return sessions.groupBy(
        F.date_trunc("day", "ts").alias("day_ts")).agg(
        A.HITS(), A.FILES(), A.PAGE_ROWS(), A.ERRORS(),
        F.sum("nbytes").alias("bytes"), A.VISITS())


def _merged_daily(sessions: DataFrame, ckpt: CheckpointPaths,
                  ) -> tuple[DataFrame, DataFrame]:
    """(daily_state, day_conv_state) with this batch folded into the saved
    snapshot, if any: additive metrics merge by re-aggregation, the
    (day_ts, conv_id) presence pairs by a distinct union (A13)."""
    spark = sessions.sparkSession
    daily = _daily_delta(sessions)
    presence = sessions.select(
        F.date_trunc("day", "ts").alias("day_ts"), "conv_id").distinct()
    if not os.path.exists(ckpt.manifest):
        return daily, presence
    daily = (spark.read.parquet(ckpt.daily_state).unionByName(daily)
             .groupBy("day_ts")
             .agg(*[F.sum(c).alias(c) for c in DAILY_COLS]))
    presence = (spark.read.parquet(ckpt.day_conv_state)
                .unionByName(presence).distinct())
    return daily, presence


def spine_lineage(spine: DataFrame) -> tuple[list[dict], datetime | None]:
    """Rows and bytes per spine partition, sorted by partition id, and the
    spine's max ts (the resume watermark [preserve.c stores the last
    timestamp]) — one aggregate; ([], None) for an empty spine."""
    per_part = (spine
                .groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count(F.lit(1)).alias("rows"),
                     F.sum("nbytes").alias("bytes"),
                     F.max("ts").alias("wm"))
                .collect())
    parts = sorted(({"partition_id": r["partition_id"], "rows": r["rows"],
                     "bytes": int(r["bytes"] or 0)} for r in per_part),
                   key=lambda p: p["partition_id"])
    wm = max((r["wm"] for r in per_part if r["wm"] is not None),
             default=None)
    return parts, wm


def save_state(sessions: DataFrame, ckpt: CheckpointPaths) -> dict:
    """Write resumable state from a sessionized spine; returns manifest.

    When a prior version exists, the new snapshot is prior-state MERGED
    with the batch delta (not a batch-only overwrite): a conv or day
    absent from this batch keeps its saved state, so the SECOND and every
    later incremental run stays correct [preserve.c restores the full
    hash tables before tallying the new month]. Session counts merge by
    max because resume_sessionize already numbers the batch's sessions
    cumulatively (offset by the saved per-conv count).
    """
    spark = sessions.sparkSession
    os.makedirs(ckpt.base, exist_ok=True)
    has_prev = os.path.exists(ckpt.manifest)

    # the rows==0 fast path rides the lineage aggregate — no separate
    # isEmpty() job over the spine
    parts, batch_wm = spine_lineage(sessions)
    if not parts:
        # empty batch: nothing to snapshot — keep the existing state (the
        # reference likewise leaves webalizer.current untouched when every
        # record was skipped as already-processed)
        return load_manifest(ckpt) if has_prev else {
            "watermark": None, "total_rows": 0, "partitions": []}

    new_version = ckpt._version() + 1
    conv_delta = sessions.groupBy("conv_id").agg(
        F.max("ts").alias("last_ts"),
        F.max("session_seq").alias("sessions"),
    )
    prev_rows = 0
    prev_wm = None
    if has_prev:
        prev = load_manifest(ckpt)
        prev_rows = prev.get("total_rows", 0)
        prev_wm = prev.get("watermark")
        conv_delta = (spark.read.parquet(ckpt.conv_state)
                      .unionByName(conv_delta)
                      .groupBy("conv_id")
                      .agg(F.max("last_ts").alias("last_ts"),
                           F.max("sessions").alias("sessions")))
    daily, day_conv = _merged_daily(sessions, ckpt)

    conv_delta.write.mode("overwrite").parquet(
        ckpt._vdir("conv_state", new_version))
    daily.write.mode("overwrite").parquet(
        ckpt._vdir("daily_state", new_version))
    # sorted within each file: a distinct's output order follows shuffle
    # arrival, and parquet encodes the same rows in another order to a
    # different byte size
    day_conv.sortWithinPartitions("day_ts", "conv_id").write \
        .mode("overwrite").parquet(ckpt._vdir("day_conv_state", new_version))

    wm = batch_wm.isoformat()
    if prev_wm is not None:
        wm = max(wm, prev_wm)
    manifest = {
        "version": new_version,
        "watermark": wm,
        "total_rows": int(prev_rows) + sum(p["rows"] for p in parts),
        "partitions": parts,
    }
    # commit: temp write + atomic rename of the version pointer
    tmp = ckpt.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, ckpt.manifest)
    return manifest


def load_manifest(ckpt: CheckpointPaths) -> dict:
    with open(ckpt.manifest) as f:
        return json.load(f)


def resume_filter(df: DataFrame, ckpt: CheckpointPaths,
                  fold_seq_err: bool = False,
                  keep_directives: bool = False) -> DataFrame:
    """P6: incremental restart skips records at-or-before the watermark
    [webalizer.c total_ignore tally]. On Iceberg the same predicate prunes
    ts-bucketed partitions at planning time.

    fold_seq_err recasts the reference's FoldSeqErr keyword [webalizer.c:
    an out-of-sequence record is treated as if it occurred at the last
    seen time instead of being dropped]: late stragglers in the NEW batch
    (ts at-or-before the watermark) are kept with ts folded TO the
    watermark, so they still count — tagged seq_folded for the metrics.
    The caller must feed only new data in this mode (a full re-read would
    re-fold already-processed records, exactly as re-running the
    reference over an old log would double-count under FoldSeqErr).

    keep_directives: W3C '#'-prefixed directive rows are format METADATA,
    not data records — each incremental batch needs the #Fields: row to
    parse its W3C records [parser.c re-reads the header per log file], so
    they pass the watermark filter (the parser drops them from hits and
    errors either way; they are never counted or checkpointed).
    """
    wm = F.lit(load_manifest(ckpt)["watermark"]).cast("timestamp")
    ts = F.col("ts")
    if keep_directives:
        directive = F.coalesce(F.col("text").startswith("#"), F.lit(False))
        if not fold_seq_err:
            return df.filter((ts > wm) | directive)
        return (df.withColumn("seq_folded", (ts <= wm) & ~directive)
                .withColumn("ts", F.when(directive, ts)
                            .otherwise(F.greatest(ts, wm))))
    if not fold_seq_err:
        return df.filter(ts > wm)
    return (df.withColumn("seq_folded", ts <= wm)
            .withColumn("ts", F.greatest(ts, wm)))


def resume_sessionize(new_df: DataFrame, ckpt: CheckpointPaths,
                      timeout_s: int = 1800) -> DataFrame:
    """Sessionize a resumed batch so numbering continues the saved state.

    Local gap-and-island first, then one shuffle join against conv_state:
      - offset every conv's local session_seq by its saved session count;
      - if the conv's FIRST new row is within timeout of the saved
        last_ts, local session 1 is the SAME visit as the saved last one
        (merge: offset-1, clear the provisional new flag) — exactly the
        reference's restored-tstamp behavior [hashtab.c ƒput_hnode with
        restored node].

    The local pass takes the path pick_sessionizer chooses for the batch
    (identical output either way, property-tested), so resume composes
    with the hot-conv path.
    """
    spark = new_df.sparkSession
    local = pick_sessionizer(new_df)(new_df, timeout_s)
    state = (spark.read.parquet(ckpt.conv_state)
             .select(F.col("conv_id").alias("_st_key"),
                     F.col("last_ts").alias("_st_last_ts"),
                     F.col("sessions").alias("_st_sessions")))

    first_ts = (local.groupBy("conv_id")
                .agg(F.min(F.struct("ts", "turn_idx")).alias("_first"))
                .select("conv_id", F.col("_first.ts").alias("_first_ts")))
    adj = (first_ts.join(state, first_ts["conv_id"] == state["_st_key"],
                         "left")
           .select(
               first_ts["conv_id"].alias("_adj_key"),
               F.coalesce("_st_sessions", F.lit(0)).alias("_prev_sessions"),
               (F.col("_st_last_ts").isNotNull()
                & ((F.col("_first_ts").cast("timestamp").cast("long")
                    - F.col("_st_last_ts").cast("timestamp").cast("long"))
                   < timeout_s)).alias("_merge"),
           ))
    out = local.join(adj, local["conv_id"] == adj["_adj_key"], "left")
    offset = F.coalesce(
        F.col("_prev_sessions") - F.when(F.col("_merge"), 1).otherwise(0),
        F.lit(0))
    merged_first = F.col("_merge") & (F.col("session_seq") == 1)
    return (out
            .withColumn("is_new_session",
                        F.when(merged_first, F.lit(False))
                        .otherwise(F.col("is_new_session")))
            .withColumn("session_seq", F.col("session_seq") + offset)
            .drop("_adj_key", "_prev_sessions", "_merge"))


def merge_daily(new_sessions: DataFrame, ckpt: CheckpointPaths) -> DataFrame:
    """A13: the saved daily state merged with a resumed batch, plus the
    per-day distinct sites recomputed exactly from the merged presence
    table."""
    additive, presence = _merged_daily(new_sessions, ckpt)
    sites = presence.groupBy("day_ts").agg(
        F.countDistinct("conv_id").alias("sites"))
    return additive.join(sites, "day_ts", "left")


def compact(ckpt: CheckpointPaths, keep_last: int = 2) -> list[int]:
    """Checkpoint GC: delete version directories older than the newest
    keep_last, NEVER including the manifest-pointed version (so a
    crash mid-compact can't orphan the live snapshot — deletion order
    is oldest-first and the pointer is untouched). Returns the deleted
    version numbers. The operational complement of save_state's
    write-then-rename discipline: without it a long-lived incremental
    deployment accumulates one full state copy per batch forever
    (the reference overwrites webalizer.current in place and has no
    such problem — versioning bought torn-write safety at the price
    of this GC `[preserve.c ƒsave_state single-file overwrite (U)]`)."""
    import re
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    live = ckpt._version()
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(ckpt.base) if os.path.isdir(
            os.path.join(ckpt.base, d))
        for m in [re.fullmatch(r"v=(\d+)", d)] if m)
    keep = set(sorted(versions)[-keep_last:]) | {live}
    deleted = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(ckpt.base, f"v={v}"))
            deleted.append(v)
    return deleted
