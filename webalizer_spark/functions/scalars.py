"""Scalar function library — recasts of the reference's string/date helpers
(SURVEY.md §2.8). All built-in pyspark.sql.functions expressions: they stay
inside whole-stage codegen; no Python in the hot path. REDACT_PATTERNS
holds the PII regexes that quality.pii_stats counts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_decode(col: Column) -> Column:
    """%XX URL-decode [webalizer.c ƒunescape ~30 LoC].

    try_url_decode semantics: malformed escapes yield the input unchanged
    (the reference validates hex digits and skips invalid escapes).
    """
    return F.coalesce(F.try_url_decode(col), col)


def sanitize(col: Column) -> Column:
    """Bound + clean a string field [webalizer.h MAX* caps; ƒisurlchar].

    Truncation to 4,096 characters is the reference's memory-safety
    valve; here it bounds adversarial rows so a single huge `text`
    cannot blow an executor.
    Control characters are stripped like ƒisurlchar rejects them.

    translate() deletes the same fixed character set the old
    regexp_replace([\\x00-\\x1f\\x7f]) char class matched (a char with
    no counterpart in the empty to-string is deleted) — identical
    output, but a per-char map lookup instead of a regex engine pass,
    which mattered on the parse hot path (round 7, guide §1.2
    per-task work).
    """
    ctl = "".join(chr(c) for c in [*range(0x20), 0x7F])
    return F.translate(F.substring(col, 1, 4096), ctl, "")


def get_domain(host: Column, levels: int = 2) -> Column:
    """Last-n-label domain extraction [webalizer.c ƒget_domain ~40 LoC]."""
    return F.substring_index(host, ".", -levels)


def search_terms(referrer: Column, param: Column | str = "q") -> Column:
    """Extract + normalize search terms from a referrer URL
    [webalizer.c ƒsrch_string ~80 LoC]: take the query parameter,
    '+' -> space, %XX-decode, lowercase. NULL when absent.

    parse_url is fine with the synthetic `proto://` scheme.
    """
    p = F.lit(param) if isinstance(param, str) else param
    raw = F.parse_url(referrer, F.lit("QUERY"), p)
    return F.lower(url_decode(F.replace(raw, F.lit("+"), F.lit(" "))))


def agent_mangle(agent: Column, level: int = 0) -> Column:
    """MangleAgents 0-5 [webalizer.c agent-mangle ladder, sample.conf]:
    progressively strip agent detail. Grammar here: ``family/maj.min (os)``.

      0: verbatim            3: family/maj.min
      1: drop trailing detail after (os)   4: family/maj
      2: family/maj.min (os) 5: family only
    """
    if level <= 0:
        return agent
    if level == 1:
        return F.regexp_extract(agent, r"^(.*?\))", 1)
    if level == 2:
        return F.regexp_extract(agent, r"^(\S+/\d+\.\d+ \([^)]*\))", 1)
    if level == 3:
        return F.regexp_extract(agent, r"^(\S+/\d+\.\d+)", 1)
    if level == 4:
        return F.regexp_extract(agent, r"^(\S+/\d+)", 1)
    return F.substring_index(agent, "/", 1)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline op — beyond the reference)
# ---------------------------------------------------------------------------

# Order matters: more specific patterns run first so e.g. an email is
# replaced before the bare-domain rule could chew its tail. Each entry is
# (placeholder, regex); quality.pii_stats counts each pattern's matches,
# then replaces them with the placeholder before the next pattern runs.
REDACT_PATTERNS: tuple[tuple[str, str], ...] = (
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    # CARD: grouped 4-4-4-N, or contiguous 13-19 digits starting with a
    # card-network prefix (3-6). A bare \d{13,19} would eat compact
    # timestamps (20240201100000) and numeric ids — log corpora are full
    # of those, and silently mangling them is worse than missing an
    # unusually-formatted card.
    ("<CARD>", r"\b(?:\d{4}[ -]){3}\d{1,7}\b|\b[3-6]\d{12,18}\b"),
    # PHONE: separators/parens are REQUIRED between groups so epoch
    # millis (1706782800000) and order ids never match.
    ("<PHONE>", r"(?:\+\d{1,3}[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b"),
    ("<SSN>", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def url_canonicalize(url: Column) -> Column:
    """Canonical URL form for URL-level dedup — the normalization a
    web-corpus pipeline applies before grouping by page identity
    (extends the reference's URL handling [webalizer.c ƒunescape /
    top-URL tables] with the crawl-dedup rules it never needed):

    - strip the fragment (``#...``)
    - lowercase scheme and host
    - drop default ports (``:80`` for http, ``:443`` for https)
    - empty path -> ``/``
    - drop tracking query params (``utm_*``; ``fbclid``, ``gclid`` and
      ``ref`` match exactly or as ``name=``), sort survivors
      byte-wise, drop the ``?`` when none survive

    Pure codegen expressions (regexp + array HOFs), no Python, no
    shuffle; %XX unescaping is url_decode's job and deliberately NOT
    applied here (decoding can change identity, e.g. %2F in paths)."""
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://",
                                      1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:]*://([^/?#]*)", 1))
    host = (F.when(scheme.eqNullSafe("http"),
                   F.regexp_replace(hostport, ":80$", ""))
            .when(scheme.eqNullSafe("https"),
                  F.regexp_replace(hostport, ":443$", ""))
            .otherwise(hostport))
    rest = F.regexp_extract(u, r"^[^:]*://[^/?#]*([^#]*)", 1)
    path = F.substring_index(rest, "?", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return _url_rebuild(u, scheme, host, path, rest)


def _url_rebuild(u: Column, scheme: Column, host: Column, path: Column,
                 rest: Column) -> Column:
    query = F.when(rest.contains("?"),
                   F.regexp_extract(rest, r"\?(.*)$", 1)).otherwise("")

    def keep(p: Column) -> Column:
        cond = p != ""
        for d in ("utm_", "fbclid", "gclid", "ref"):
            if d.endswith("_"):
                cond = cond & ~F.startswith(p, F.lit(d))
            else:
                cond = cond & (p != d) & ~F.startswith(p, F.lit(d + "="))
        return cond

    params = F.array_sort(F.filter(F.split(query, "&"), keep))
    qs = F.array_join(params, "&")
    tail = F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs))
    # non-URL inputs (no scheme) pass through untouched
    return F.when(scheme == "", u).otherwise(
        F.concat(scheme, F.lit("://"), host, path, tail))
