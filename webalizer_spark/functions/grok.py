"""Grok/regex field extraction over the transcript ``text`` column.

Recasts the reference's combined-log parser [parser.c ƒparse_record_web
~120 LoC; ƒfmt_logrec ~60 LoC — an in-place byte scanner honoring quotes
and brackets] as columnar regex. Two interchangeable strategies, both
adding the same raw string columns (typing/validation happens after,
JVM-side, in parse.py):

  split   — ONE anchored regexp_replace rewriting the line into a
            US-delimited record, then a single split. One regex pass per
            row, fully JVM/whole-stage-codegen. Default.
  pandas  — Arrow pandas_udf; compiled regex via Series.str.extract (one
            C-regex pass, n groups). Pays the JVM<->Arrow hop; kept as the
            vectorized-UDF path the input_hint mandates supporting.

PHYSICAL-PLAN NOTE (this is why these are DataFrame transforms, not
Column functions): the delimited array / UDF struct must live in its OWN
projection. If the expensive expression is inlined once per extracted
field inside a single Project, Catalyst happily evaluates the regex n
times per row (no CSE across struct fields / under conditionals) — a
measured 8x slowdown. With an intermediate column, CollapseProject keeps
the two projections separate (expensive expression referenced n times),
so the regex runs exactly once per row; verified via
``executedPlan.toString().count("regexp_replace") == 1``.

Line grammar (FIXTURES.md §2 — combined-CLF analog):

  actor ident user [dd/Mon/yyyy:HH:mm:ss +zzzz] "VERB /path PROTO/x.x"
      status bytes "referrer" "agent"

Corrupt lines (truncated / unbalanced quotes / bad datetime) yield NULL
fields, never an error — they are routed to the errors sink
(total_bad analog [webalizer.c main loop after ƒparse_record]).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One master pattern, shared verbatim by both strategies.
# Groups: 1 actor, 2 ident, 3 user, 4 datetime, 5 verb, 6 path,
#         7 status, 8 bytes, 9 referrer, 10 agent
MASTER_PATTERN = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] '
    r'"(\S+) /(\S+) [^"]*" '
    r'(\d{3}) (\S+) "([^"]*)" "([^"]*)"$'
)

GROK_FIELDS = [
    "actor", "ident", "auth_user", "dt_text", "verb",
    "path", "status_text", "bytes_text", "referrer", "agent_str",
]

_RAW_STRUCT = T.StructType([T.StructField(f, T.StringType()) for f in GROK_FIELDS])

# Unit Separator — scrubbed from input before packing, so it can never
# fake a field boundary.
_US = "\x1f"


# the combined grammar's groups in GROK_FIELDS order (see _pack)
_COMBINED_MAP: list[int | str | None] = list(range(1, len(GROK_FIELDS) + 1))


def _pack(text: Column, pattern: str, mapping: list[int | str | None]) -> Column:
    """ONE anchored regexp_replace rewriting a line into a US-delimited
    record of the chosen groups, in GROK_FIELDS order. Entries: int =
    that group; str = a replacement template combining groups (e.g.
    '$1 $2 $3 $4' reassembles a multi-group datetime); None -> empty
    (NULL after _unpack).

    The replacement starts with the delimiter, so a MATCHED line splits
    into 1 + n elements (parts[0] == ''), while an UNMATCHED line comes
    back unchanged and splits into a single element — ``F.get(parts, i+1)``
    is then NULL for every field of an unmatched row, with no conditional
    expression anywhere (ANSI-safe, branch-free).
    """
    repl = _US + _US.join(
        "" if g is None else (g if isinstance(g, str) else f"${g}")
        for g in mapping)
    return F.regexp_replace(F.replace(text, F.lit(_US), F.lit("")),
                            pattern, repl)


def _raw_field(parts: Column, i: int) -> Column:
    # '' -> NULL: regexp groups like [^"]* may legitimately match empty,
    # but '' and absent are equivalent in the reference's log_struct
    # (absent -> empty string [webalizer.h]); we normalize to NULL.
    return F.nullif(F.get(parts, i + 1), F.lit(""))


def _unpack(df: DataFrame, packed: Column) -> DataFrame:
    """Append the GROK_FIELDS raw columns of a packed record to df. The
    split array is its own projection (see the PLAN NOTE above)."""
    with_parts = df.withColumn("_parts", F.split(packed, _US, -1))
    return with_parts.select(
        *df.columns,
        *[_raw_field(F.col("_parts"), i).alias(n)
          for i, n in enumerate(GROK_FIELDS)],
    )


def apply_grok(df: DataFrame, text_col: str = "text",
               strategy: str = "split") -> DataFrame:
    """Append the GROK_FIELDS raw string columns to df."""
    if strategy == "split":
        return _unpack(df, _pack(F.col(text_col), MASTER_PATTERN,
                                 _COMBINED_MAP))
    if strategy == "pandas":
        with_struct = df.withColumn("_g", _grok_pandas_udf(F.col(text_col)))
        return with_struct.select(
            *df.columns,
            *[F.col("_g").getField(n).alias(n) for n in GROK_FIELDS],
        )
    raise ValueError(f"unknown grok strategy: {strategy}")


@F.pandas_udf(returnType=_RAW_STRUCT)
def _grok_pandas_udf(text: pd.Series) -> pd.DataFrame:
    # compiled once per Arrow batch stream; .str.extract = one C pass
    out = text.str.extract(MASTER_PATTERN, expand=True)
    out.columns = GROK_FIELDS
    return out
