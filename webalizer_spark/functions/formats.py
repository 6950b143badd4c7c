"""Multi-format record decode (SURVEY §2.1 S2).

The reference dispatches on LogType to four parsers [parser.c
ƒparse_record ~40 dispatching to ƒparse_record_web (CLF/combined),
ƒparse_record_ftp (xferlog), ƒparse_record_squid (native), and
ƒparse_record_w3c (#Fields-driven)]. The engine's recast: per-format
regexes normalized into the SAME canonical raw-field struct, with the
format detected per row by cheap shape tests — a `when()` ladder, zero
Python — where the reference reads it from its LogType setting.

Canonical fields: actor ident auth_user dt_text verb path status_text
bytes_text referrer agent_str (GROK_FIELDS). Formats that lack a field
yield NULL there, like the reference fills log_struct with blanks.
dt_text carries a PER-FORMAT datetime text (epoch seconds for squid,
'MMM d HH:mm:ss yyyy' for xferlog, 'yyyy-MM-dd HH:mm:ss' for w3c);
ts_format() returns the matching to_timestamp pattern so the typed
parse stage (parse.parse_transcripts_multi) reassembles a real
timestamp for EVERY format end-to-end.

Format grammars (transcript-domain analogs of the reference's):
  combined   the FIXTURES.md grammar (functions/grok.py MASTER_PATTERN)
  squid      epoch.ms elapsed actor code/status bytes verb path user
             (native squid access.log shape [parser.c ƒparse_record_squid])
  xferlog    DDD Mon dd HH:MM:SS yyyy elapsed actor bytes path ... user
             (FTP xferlog shape [parser.c ƒparse_record_ftp])
  w3c        #Fields:-driven, space-separated, field order per file
             [parser.c ƒparse_record_w3c] — see w3c_field_order().
  json       structured JSON-lines (nginx/Envoy vocabularies) — a
             modern-collector extension beyond the reference's four.
  alb        AWS ALB/ELB access logs (type + ISO time + client:port +
             quoted absolute-URL request) — same extension rationale.
  haproxy    HAProxy `option httplog` syslog lines (client:port +
             [accept date] + timers + status/bytes + quoted request)
             — same extension rationale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webalizer_spark.functions.grok import (
    GROK_FIELDS,
    MASTER_PATTERN,
    _COMBINED_MAP,
    _US,
    _pack,
    _unpack,
)
from webalizer_spark.functions.scalars import sanitize

SQUID_PATTERN = (
    r"^(\d+)\.(\d{3})\s+(\d+) (\S+) (\S+)/(\d{3}) (\d+) (\S+) (\S+) (\S+).*$"
)
# groups: 1 epoch 2 ms 3 elapsed 4 actor 5 result 6 status 7 bytes
#         8 verb 9 path 10 user

XFERLOG_PATTERN = (
    r"^\w{3} (\w{3})\s+(\d{1,2}) (\d{2}:\d{2}:\d{2}) (\d{4}) (\d+) (\S+) "
    r"(\d+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+).*$"
)
# groups: 1 Mon 2 dd 3 time 4 yyyy 5 elapsed 6 actor 7 bytes 8 path
#         9 xfertype 10 action 11 direction 12 mode 13 user ...


def detect_format(text: Column, default: str = "combined") -> Column:
    """Cheap per-row shape detection (LogType auto mode).

    combined lines start with three tokens then '['; squid lines start
    with an epoch.millis number; xferlog lines start with a weekday
    name; w3c lines are '#' directives or start with an ISO date;
    structured (JSON-lines) logs start with '{'; ALB lines start with a
    listener type token then an ISO timestamp. One rlike each on a
    short prefix.

    `default` is the class of rows matching NO shape test. The caller
    passes 'w3c' when a #Fields: directive is present in the table —
    the directive defines the file's format [parser.c: one LogType per
    run], and W3C data rows can start with ANY field (e.g. c-ip), so
    shape tests alone cannot claim them.
    """
    head = F.substring(text, 1, 40)
    return (
        F.when(head.rlike(r"^\s*\{"), F.lit("json"))
        .when(head.rlike(r"^(https?|h2|grpcs?|wss?) \d{4}-\d{2}-\d{2}T"),
              F.lit("alb"))
        .when(head.rlike(r"^\d{9,10}\.\d{3}\s"), F.lit("squid"))
        # haproxy checks a 64-char head: the syslog hostname sits
        # between the timestamp and the 'haproxy[' tag and can push
        # the tag past the 40-char window the other tests use
        .when(F.substring(text, 1, 64).rlike(
            r"^\w{3} [ \d]\d \d{2}:\d{2}:\d{2} \S+ haproxy\["),
            F.lit("haproxy"))
        .when(head.rlike(r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun) "), F.lit("xferlog"))
        .when(head.rlike(r"^#(Fields|Version|Date|Software|Remark)"),
              F.lit("w3c"))
        .when(head.rlike(r"^\d{4}-\d{2}-\d{2}[ \t]\d{2}:"), F.lit("w3c"))
        .when(head.rlike(r"^\S+ \S+ \S+ \["), F.lit("combined"))
        .otherwise(F.lit(default))
    )


# mapping: canonical field -> regex group(s) per format
#   GROK_FIELDS order: actor ident auth_user dt_text verb path
#                      status_text bytes_text referrer agent_str
# squid: dt_text = epoch seconds (ms group 2 dropped — the reference
# also keeps second granularity)
_SQUID_MAP: list[int | str | None] = [4, None, 10, 1, 8, 9, 6, 7, None, None]
# xferlog: dt_text reassembled from Mon/dd/time/yyyy in ONE replacement
# (round-1 advice: the pieces were previously discarded); xfertype
# (group 9) is dropped — it has no canonical column, and mapping it to
# agent_str was semantically wrong
_XFERLOG_MAP: list[int | str | None] = [
    6, None, 13, "$1 $2 $3 $4", None, 8, None, 7, None, None]

# AWS ALB/ELB access log: type, ISO time, elb name, client:port,
# target:port, three processing times, elb + target status, received +
# sent bytes, quoted request (absolute URL — the path capture starts at
# the first '/' after the authority), quoted user-agent; trailing
# fields (ciphers, ARNs, trace ids) are ignored. The reference predates
# cloud load balancers — this widens its LogType dispatch [parser.c
# ƒparse_record] the same way the JSON-lines branch does.
ALB_PATTERN = (
    r"^(\S+) (\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.\d+Z (\S+)"
    r" ([^\s:]+):\d+ (\S+) (\S+) (\S+) (\S+) (\d{3}|-) (\S+) (\d+) (\d+)"
    r' "(\S+) [a-z0-9]+://[^/\s]+(/[^"\s]*) HTTP/[^"]*" "([^"]*)".*$'
)
# groups: 1 type 2 datetime-to-seconds 3 elb 4 client-ip 5 target
#         6-8 processing times 9 elb-status 10 target-status
#         11 received 12 sent 13 verb 14 path 15 agent
# actor <- client ip; status <- the ELB's own code (what the client
# saw); bytes <- sent_bytes; ALB logs carry no referrer/ident/user
_ALB_MAP: list[int | str | None] = [4, None, None, 2, 13, 14, 9, 12,
                                    None, 15]

# HAProxy HTTP log (`option httplog`, the syslog-line shape HAProxy
# actually emits): syslog prefix + process tag, client:port, [accept
# date with millis], frontend, backend/server, five timer fields,
# status, bytes_read ('+' prefix under `option logasap`), two captured
# cookies, termination state, five connection counters, two queue
# depths, OPTIONAL {captured request/response headers}, quoted request.
# '<BADREQ>' requests fail the quoted-request tail -> whole-pattern
# miss -> NULL fields -> bad-record routing, the right disposition.
# Same extension rationale as json/alb: widens the reference's LogType
# dispatch [parser.c ƒparse_record] to a format modern proxies emit.
HAPROXY_PATTERN = (
    r"^\w{3} [ \d]\d \d{2}:\d{2}:\d{2} \S+ haproxy\[\d+\]: "
    r"([\d.a-fA-F:]+):\d+ \[(\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2})\.\d+\] "
    r"(\S+) (\S+)/(\S+) (-?\d+)/(-?\d+)/(-?\d+)/(-?\d+)/\+?(-?\d+) "
    r"(\d{3}|-1) \+?(\d+) (\S+) (\S+) (\S+) "
    r"(\d+)/(\d+)/(\d+)/(\d+)/(\d+) (\d+)/(\d+)"
    r"(?: \{([^}]*)\})?(?: \{([^}]*)\})?"
    r' "(\S+) ([^"\s]+)[^"]*".*$'
)
# groups: 1 client-ip 2 accept-datetime(sec) 3 frontend 4 backend
#         5 server 6-10 timers 11 status 12 bytes 13-14 cookies
#         15 termination 16-20 conn counters 21-22 queues
#         23-24 optional header captures 25 verb 26 path
# actor <- client ip; HAProxy logs carry no ident/user/referrer/agent
# unless header captures are configured (capture CONTENT is deployment-
# specific, so the canonical mapping leaves referrer/agent NULL)
_HAPROXY_MAP: list[int | str | None] = [1, None, None, 2, 25, 26,
                                        11, 12, None, None]

# per-format to_timestamp pattern for the dt_text produced above;
# squid is special-cased (epoch seconds, no pattern)
TS_PATTERNS = {
    "combined": "dd/MMM/yyyy:HH:mm:ss Z",
    "xferlog": "MMM d HH:mm:ss yyyy",
    "w3c": "yyyy-MM-dd HH:mm:ss",
    # json coalesces three offset shapes + an epoch-seconds fallback in
    # parse.py: XXX = colon form (+03:00 — nginx time_iso8601's shape,
    # also Z), X = Z / +03 / +0300. A single X pattern cannot parse the
    # colon form (verified: Spark 4.1.2 returns NULL), so non-UTC nginx
    # JSON logs need the XXX attempt first.
    "json": "yyyy-MM-dd'T'HH:mm:ssXXX",
    "json_nocolon": "yyyy-MM-dd'T'HH:mm:ssX",
    "alb": "yyyy-MM-dd'T'HH:mm:ss",
    # accept date, combined's shape without a zone (HAProxy logs the
    # local clock; millis already dropped by the capture group)
    "haproxy": "dd/MMM/yyyy:HH:mm:ss",
}

# JSON-lines key aliases -> canonical GROK_FIELDS column. Covers the
# stock nginx/Envoy structured-access-log vocabularies; first present
# key wins. The reference predates structured logging — this extends
# its LogType dispatch [parser.c ƒparse_record] to the format modern
# collectors actually emit.
_JSON_KEYS: dict[str, tuple[str, ...]] = {
    "actor": ("remote_addr", "client_ip", "ip"),
    "ident": (),
    "auth_user": ("remote_user", "user"),
    "dt_text": ("time_iso8601", "time", "timestamp", "ts"),
    "verb": ("request_method", "method"),
    "path": ("request_uri", "uri", "path"),
    "status_text": ("status",),
    "bytes_text": ("body_bytes_sent", "bytes_sent", "bytes"),
    "referrer": ("http_referer", "referer", "referrer"),
    "agent_str": ("http_user_agent", "user_agent", "agent"),
}


def _pack_json(text: Column) -> Column:
    """JSON-lines -> canonical packed record: ONE from_json to
    map<string,string> (scalar values coerce to their string form, so
    numeric status/bytes pack like their CLF counterparts), then
    constant-key lookups. Malformed JSON yields a NULL map -> every
    cell empty -> parse_ok false, routed as a bad record like any
    other format's regex miss."""
    # same US-delimiter strip as _pack: a value containing the packing
    # delimiter must not shift the record
    m = F.from_json(F.replace(text, F.lit(_US), F.lit("")),
                    "map<string,string>")

    def pick(mm: Column, canon: str) -> Column:
        keys = _JSON_KEYS.get(canon, ())
        if not keys:
            return F.lit("")
        return F.coalesce(*[mm.getItem(k) for k in keys], F.lit(""))

    # transform over a 1-element array binds the parsed map to a lambda
    # variable: from_json runs ONCE per row, not once per key lookup
    # (naively inlining `m` 20x leans on codegen subexpression
    # elimination; the binding makes single evaluation structural)
    return F.get(
        F.transform(
            F.array(m),
            lambda mm: F.concat(
                F.lit(_US),
                F.concat_ws(_US, *[pick(mm, n) for n in GROK_FIELDS]))),
        0)

# W3C field name -> canonical GROK_FIELDS column [parser.c
# ƒparse_record_w3c maps the same directives into log_struct]
_W3C_CANONICAL = {
    "actor": ("c-ip",),
    "ident": (),
    "auth_user": ("cs-username",),
    "verb": ("cs-method",),
    "path": ("cs-uri-stem",),
    "status_text": ("sc-status",),
    "bytes_text": ("sc-bytes", "cs-bytes"),
    "referrer": ("cs(Referer)",),
    "agent_str": ("cs(User-Agent)",),
}


def w3c_field_order(df: DataFrame) -> list[str]:
    """Extract the #Fields: directive that defines this table's field
    order [parser.c ƒparse_record_w3c: the directive precedes data rows].

    One tiny distinct+collect over directive rows only (predicate
    pushdown keeps it a metadata-cheap scan at any scale — directive
    rows are O(files), not O(rows)). A table mixing several different
    field orders must be split per source file first; we raise rather
    than silently mis-map.
    """
    rows = (df.filter(F.col("text").startswith("#Fields:"))
            .select("text").distinct().collect())
    orders = {tuple(r["text"].split()[1:]) for r in rows}
    if not orders:
        raise ValueError("w3c: no #Fields: directive found")
    if len(orders) > 1:
        raise ValueError(f"w3c: conflicting #Fields: directives: {orders}")
    return list(next(iter(orders)))


def _pack_w3c(text: Column, fields: Sequence[str]) -> Column:
    """Reorder the space-separated W3C fields into the canonical packed
    record. No regex at all: one split + positional element_at with
    CONSTANT indices from the #Fields directive (pure codegen).

    date+time reassemble into one dt_text; '-' placeholders stay (the
    typed stage nullifies them like the other formats).
    """
    parts = F.split(F.regexp_replace(text, r"\s+", " "), " ")
    idx = {name: i + 1 for i, name in enumerate(fields)}  # 1-based

    def at(i: int) -> Column:
        # try_element_at: rows with fewer tokens than the directive
        # promises yield NULL (-> parse_ok false), never an ANSI error
        return F.try_element_at(parts, F.lit(i))

    def pick(canon: str) -> Column:
        if canon == "dt_text":
            if "date" in idx and "time" in idx:
                return F.concat_ws(" ", at(idx["date"]), at(idx["time"]))
            return F.lit(None).cast("string")
        for w3c_name in _W3C_CANONICAL.get(canon, ()):
            if w3c_name in idx:
                return at(idx[w3c_name])
        return F.lit(None).cast("string")

    # positional alignment requires '' for NULL (concat_ws skips NULLs)
    cells = [F.coalesce(pick(n), F.lit("")) for n in GROK_FIELDS]
    return F.concat(F.lit(_US), F.concat_ws(_US, *cells))


def apply_grok_multi(df: DataFrame,
                     w3c_fields: Sequence[str] | None = None) -> DataFrame:
    """Format-dispatched grok of the `text` column: adds `log_format` +
    the canonical GROK_FIELDS raw columns. Each format's regex runs only
    on its rows (the when() ladder short-circuits), all JVM-side.

    w3c_fields: the #Fields: order (from w3c_field_order()). Without
    it, rows detected as w3c yield NULL fields (routed as bad);
    directive rows ('#...') always yield NULL fields — the caller skips
    them like the reference does [parser.c: directives are neither hits
    nor errors].

    PLAN NOTE: format detection runs on the RAW text head (cheap rlikes
    over 40 chars) while sanitize nests INSIDE the pack branches.
    Sanitizing in a prior projection looks cleaner but CollapseProject
    merges it into the detection projection and the full-text regex
    then evaluates TWICE per row (measured in the plan); nested in the
    exclusive when() branches it runs exactly once. The output `text`
    column stays the raw line — the errors sink preserves the original
    bytes, like the reference's Debug dump.
    """
    text = F.col("text")
    src = sanitize(text)
    fmt = detect_format(
        text, default="w3c" if w3c_fields is not None else "combined")
    tagged = df.withColumn("log_format", fmt)
    ladder = (
        F.when(F.col("log_format") == "squid",
               _pack(src, SQUID_PATTERN, _SQUID_MAP))
        .when(F.col("log_format") == "xferlog",
              _pack(src, XFERLOG_PATTERN, _XFERLOG_MAP))
        .when(F.col("log_format") == "alb",
              _pack(src, ALB_PATTERN, _ALB_MAP))
        .when(F.col("log_format") == "haproxy",
              _pack(src, HAPROXY_PATTERN, _HAPROXY_MAP))
        .when(F.col("log_format") == "json", _pack_json(src))
    )
    if w3c_fields is not None:
        ladder = ladder.when(
            (F.col("log_format") == "w3c")
            & ~text.startswith("#"),
            _pack_w3c(src, w3c_fields))
    packed = ladder.otherwise(
        F.when(F.col("log_format") == "w3c", src)  # no field mapping
        .otherwise(_pack(src, MASTER_PATTERN, _COMBINED_MAP)))
    return _unpack(tagged, packed)
