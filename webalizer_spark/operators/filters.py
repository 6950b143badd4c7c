"""Wildcard list filters — Ignore/Include/Hide/Group recast
(SURVEY §2.2 P2-P4, §2.4 A12; reference: [linklist.c ƒisinlist ƒisinglist
~40/~60 LoC; webalizer.c main-loop filter order]).

Reference wildcard grammar: ``*foo`` = suffix match, ``foo*`` = prefix
match, bare ``foo`` = substring match. Lists are small (config-file
entries), so each compiles to a pure Catalyst boolean expression —
evaluated pre-aggregation (predicate pushdown, O1) with zero joins.

Semantics preserved exactly:
  - Ignore drops the record BEFORE any aggregation [webalizer.c loop].
  - Include re-admits records the Ignore list would drop (override).
  - Hide keeps the record in aggregates but suppresses it from top-N
    DISPLAY only — so it filters the RESULT table, never the input.
  - Group adds a named group aggregate IN ADDITION to the individual
    (OBJ_GRP nodes) — expressed as GROUPING SETS, see aggregates.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def wildcard_match(col: Column, patterns: Sequence[str]) -> Column:
    """OR of reference-grammar wildcard tests; False for empty list."""
    if not patterns:
        return F.lit(False)
    tests = []
    for p in patterns:
        if p.startswith("*") and p.endswith("*") and len(p) > 1:
            tests.append(col.contains(p[1:-1]))
        elif p.startswith("*"):
            tests.append(col.endswith(p[1:]))
        elif p.endswith("*"):
            tests.append(col.startswith(p[:-1]))
        else:
            tests.append(col.contains(p))
    out = tests[0]
    for t in tests[1:]:
        out = out | t
    return F.coalesce(out, F.lit(False))


def page_predicate(page_types: Sequence[str]) -> Column:
    """P7: the "is this row a page?" predicate [webalizer.c ƒispage].

    With PageType patterns configured, reference ispage() semantics
    apply to the path's EXTENSION, not the whole path: the text after
    the last '.' is wildcard-matched against the list, and a path with
    no extension (no '.' past the first char — ispage treats a leading
    dot as no extension) or a trailing '/' is ALWAYS a page. Without
    patterns, the engine's default recast applies (tool IS NOT NULL —
    tool-call turns are the page analog).
    """
    if not page_types:
        return F.col("tool").isNotNull()
    p = F.col("path")
    # ispage: cp2==str (last dot at index 0 or absent) or trailing '/'
    extension_less = F.locate(".", p, 2) == 0
    trailing_slash = p.endswith("/")
    ext = F.substring_index(p, ".", -1)
    return F.coalesce(
        extension_less | trailing_slash | wildcard_match(ext, page_types),
        F.lit(False))


def ignore_include(df: DataFrame, col: str,
                   ignore: Sequence[str],
                   include: Sequence[str] = ()) -> DataFrame:
    """P2+P3: drop Ignore matches unless re-admitted by Include."""
    if not ignore:
        return df
    keep = wildcard_match(F.col(col), include) | ~wildcard_match(F.col(col), ignore)
    return df.filter(keep)


def hide(result_df: DataFrame, col: str, patterns: Sequence[str]) -> DataFrame:
    """P4: presentation-time suppression — applied to the RESULT table
    (post-aggregation), matching OBJ_HIDE semantics."""
    if not patterns:
        return result_df
    return result_df.filter(~wildcard_match(F.col(col), patterns))


def group_name(col: Column, groups: Sequence[tuple[str, str]]) -> Column:
    """First-match group name for a value, NULL if ungrouped
    [linklist.c ƒisinglist: first list match wins]."""
    expr = F.lit(None).cast("string")
    for pattern, name in reversed(list(groups)):
        expr = F.when(wildcard_match(col, [pattern]), F.lit(name)).otherwise(expr)
    return expr
