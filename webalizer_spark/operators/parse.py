"""Parse stage: grok the ``text`` column into typed fields (SURVEY §2.1 S2-S4).

Mirrors the reference record loop's parse step [parser.c ƒparse_record ->
ƒparse_record_web; webalizer.c datetime convert + total_bad tally], as one
declarative projection chain:

  text --grok--> raw string fields --cast/validate--> typed columns + parse_ok

parse_ok is the bad-record predicate: a row is OK iff the line matched the
grammar AND its datetime parses AND status/bytes are integral. The S4
routing on it (ok rows on, bad rows to the errors sink with the raw line)
happens once, in plans/pipeline.run_pipeline over the parse cache. bytes '-'
-> 0 (the reference treats '-' transfer as zero). Everything is a built-in
expression — one regex pass (grok 'split' default), then cheap casts —
all inside whole-stage codegen; no shuffle, no Python in the default path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webalizer_spark.datagen import SPARK_TS_FMT
from webalizer_spark.functions.grok import apply_grok
from webalizer_spark.functions.scalars import sanitize

BASE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def parse_transcripts(df: DataFrame, strategy: str = "split") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> parsed.

    Output adds: actor, ident, auth_user, verb, path, status int,
    nbytes long, referrer, agent_str, ts_text timestamp, parse_ok bool.
    strategy='multi' dispatches per-row on log format (S2 LogType auto).
    """
    if strategy == "multi":
        return parse_transcripts_multi(df)
    # the grok reads a sanitized copy; `text` stays the raw line, which
    # the errors sink keeps
    clean = df.withColumn("_grok_text", sanitize(F.col("text")))
    raw = apply_grok(clean, "_grok_text", strategy)
    out = raw.select(
        *BASE_COLS,
        "actor",
        F.nullif(F.col("ident"), F.lit("-")).alias("ident"),
        F.nullif(F.col("auth_user"), F.lit("-")).alias("auth_user"),
        "verb",
        "path",
        F.try_to_timestamp(F.col("dt_text"), F.lit(SPARK_TS_FMT)).alias("ts_text"),
        F.col("status_text").try_cast("int").alias("status"),
        F.coalesce(
            F.col("bytes_text").try_cast("long"),
            F.when(F.col("bytes_text") == "-", F.lit(0)),
        ).alias("nbytes"),
        F.nullif(F.col("referrer"), F.lit("-")).alias("referrer"),
        "agent_str",
    )
    parse_ok = (
        F.col("actor").isNotNull()
        & F.col("verb").isNotNull()
        & F.col("path").isNotNull()
        & F.col("ts_text").isNotNull()
        & F.col("status").isNotNull()
        & F.col("nbytes").isNotNull()
    )
    return out.withColumn("parse_ok", parse_ok)


def parse_transcripts_multi(df: DataFrame) -> DataFrame:
    """S2 end-to-end: LogType-dispatched parse producing the SAME typed
    schema as parse_transcripts for all four grammars [parser.c
    ƒparse_record dispatch].

    Every format yields a real ts_text: squid's epoch seconds go through
    timestamp_seconds; xferlog/w3c/combined through their per-format
    to_timestamp pattern (TS_PATTERNS). parse_ok requires the fields the
    FORMAT defines: xferlog has no verb/status [ƒparse_record_ftp fills
    blanks], so those are exempt there; all formats require
    actor/path/ts/bytes. W3C '#' directive rows are dropped (neither
    hits nor errors, like the reference skips them).
    """
    from webalizer_spark.functions.formats import (
        TS_PATTERNS,
        apply_grok_multi,
        w3c_field_order,
    )

    # one metadata-cheap pass over directive rows only
    try:
        w3c_fields = w3c_field_order(df)
    except ValueError:
        w3c_fields = None  # no w3c data in this table
    # sanitize nests inside the grok branches (see apply_grok_multi plan
    # note) — exactly one full-text regex eval per row
    raw = (apply_grok_multi(df, w3c_fields)
           .filter(~F.col("text").startswith("#")))
    fmt = F.col("log_format")
    ts_text = (
        F.when(fmt == "squid",
               F.timestamp_seconds(F.col("dt_text").try_cast("long")))
        .when(fmt == "xferlog",
              F.try_to_timestamp(F.col("dt_text"),
                                 F.lit(TS_PATTERNS["xferlog"])))
        .when(fmt == "w3c",
              F.try_to_timestamp(F.col("dt_text"), F.lit(TS_PATTERNS["w3c"])))
        .when(fmt == "alb",
              F.try_to_timestamp(F.col("dt_text"), F.lit(TS_PATTERNS["alb"])))
        .when(fmt == "haproxy",
              F.try_to_timestamp(F.col("dt_text"),
                                 F.lit(TS_PATTERNS["haproxy"])))
        .when(fmt == "json",
              # ISO-8601 first — colon offset (+03:00 / Z, nginx
              # time_iso8601), then compact offset (+03 / +0300 / Z) —
              # epoch-seconds fallback last (collectors that emit
              # "ts": 1705399200)
              F.coalesce(
                  F.try_to_timestamp(F.col("dt_text"),
                                     F.lit(TS_PATTERNS["json"])),
                  F.try_to_timestamp(F.col("dt_text"),
                                     F.lit(TS_PATTERNS["json_nocolon"])),
                  F.timestamp_seconds(F.col("dt_text").try_cast("long"))))
        .otherwise(F.try_to_timestamp(F.col("dt_text"), F.lit(SPARK_TS_FMT)))
    )
    out = raw.select(
        *BASE_COLS,
        "log_format",
        F.nullif(F.col("actor"), F.lit("-")).alias("actor"),
        F.nullif(F.col("ident"), F.lit("-")).alias("ident"),
        F.nullif(F.col("auth_user"), F.lit("-")).alias("auth_user"),
        F.nullif(F.col("verb"), F.lit("-")).alias("verb"),
        "path",
        ts_text.alias("ts_text"),
        F.col("status_text").try_cast("int").alias("status"),
        F.coalesce(
            F.col("bytes_text").try_cast("long"),
            F.when(F.col("bytes_text") == "-", F.lit(0)),
        ).alias("nbytes"),
        F.nullif(F.col("referrer"), F.lit("-")).alias("referrer"),
        F.nullif(F.col("agent_str"), F.lit("-")).alias("agent_str"),
    )
    parse_ok = (
        F.col("actor").isNotNull()
        & F.col("path").isNotNull()
        & F.col("ts_text").isNotNull()
        & F.col("nbytes").isNotNull()
        & ((F.col("log_format") == "xferlog")
           | (F.col("verb").isNotNull() & F.col("status").isNotNull()))
    )
    return out.withColumn("parse_ok", parse_ok)

