"""Enrichment stage — the reference's lookup joins recast as broadcast joins
(SURVEY §2.3 J1-J4).

The reference enriches each record via (a) a DNS-cache hostname lookup
[dns_resolv.c ƒresolve_dns], (b) a TLD->country table scan
[webalizer.c ctry[] accumulation], (c) a GeoDB numeric-range lookup
[dns_resolv.c GeoDB], and (d) a SearchEngine-list referrer match
[webalizer.c ƒsrch_string]. All are fact x tiny-dimension lookups, so every
one becomes an explicitly-broadcast left join: zero shuffle of the fact
table, dimension replicated to every executor — the correct shape at
100 TB (the dims are <1 MB; a shuffle join here would be a catastrophe).

Unknown keys keep the reference's "Unresolved/Unknown" bucket semantics:
left join + coalesce to 'unknown'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webalizer_spark.functions.scalars import search_terms


def enrich_role_class(df: DataFrame, role_class: DataFrame,
                      role_col: str = "role") -> DataFrame:
    """J1 analog: role -> actor_class broadcast map (DNS-cache recast)."""
    dim = F.broadcast(role_class.select(
        F.col("role").alias("_rc_role"), "actor_class"))
    return (
        df.join(dim, df[role_col] == dim["_rc_role"], "left")
        .drop("_rc_role")
        .withColumn("actor_class", F.coalesce("actor_class", F.lit("unknown")))
    )


def enrich_tool_family(df: DataFrame, tool_family: DataFrame) -> DataFrame:
    """J2 analog: tool -> tool_family broadcast map (TLD->country recast).

    NULL tool (non-tool turn) maps to NULL family; unknown tool -> 'unknown'.
    """
    dim = F.broadcast(tool_family.select(
        F.col("tool").alias("_tf_tool"), "tool_family"))
    out = df.join(dim, df["tool"] == dim["_tf_tool"], "left").drop("_tf_tool")
    return out.withColumn(
        "tool_family",
        F.when(F.col("tool").isNull(), F.lit(None))
        .otherwise(F.coalesce("tool_family", F.lit("unknown"))),
    )


def enrich_size_class(df: DataFrame, byte_ranges: DataFrame) -> DataFrame:
    """J3 analog: numeric range lookup (GeoDB ip-in-[lo,hi] recast).

    Broadcast + BETWEEN condition -> BroadcastNestedLoopJoin. With a ~6-row
    dim that is O(rows x 6) comparisons, cheaper than any shuffle; ranges
    are non-overlapping so the join is 1:at-most-1.
    """
    dim = F.broadcast(byte_ranges.select("lo", "hi", "size_class"))
    cond = (F.col("nbytes") >= F.col("lo")) & (F.col("nbytes") <= F.col("hi"))
    return df.join(dim, cond, "left").drop("lo", "hi").withColumn(
        "size_class", F.coalesce("size_class", F.lit("unknown")))


def enrich_search_terms(df: DataFrame, engine_params: DataFrame) -> DataFrame:
    """J4 analog: SearchEngine list match + query-param term extraction
    [webalizer.c ƒsrch_string]. Adds `engine_host` and `search_term`
    (NULL when the referrer is absent or not a known engine).
    """
    host = F.parse_url(F.col("referrer"), F.lit("HOST"))
    dim = F.broadcast(engine_params.select(
        F.col("engine_host").alias("_ep_host"), "query_param"))
    out = (
        df.withColumn("_ref_host", host)
        .join(dim, F.col("_ref_host") == F.col("_ep_host"), "left")
        .drop("_ep_host")
    )
    term = F.when(
        F.col("query_param").isNotNull(),
        search_terms(F.col("referrer"), F.col("query_param")),
    )
    return (
        out.withColumn("engine_host", F.col("_ref_host"))
        .withColumn("search_term", term)
        .drop("_ref_host", "query_param")
    )


def enrich_all(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Full enrichment: role_class, tool_family, size_class, search terms."""
    out = enrich_role_class(df, dims["role_class"])
    out = enrich_tool_family(out, dims["tool_family"])
    out = enrich_size_class(out, dims["byte_ranges"])
    out = enrich_search_terms(out, dims["engine_params"])
    return out


def ip_aton(col: F.Column) -> F.Column:
    """Dotted-quad IPv4 string -> unsigned 32-bit value as bigint,
    pure codegen expressions (no UDF); malformed input yields NULL."""
    p = F.split(col, r"\.")
    octets = [F.get(p, i).try_cast("bigint") for i in range(4)]
    valid = (F.size(p) == 4)
    for o in octets:
        valid = valid & o.isNotNull() & (o >= 0) & (o <= 255)
    val = (octets[0] * 16777216 + octets[1] * 65536
           + octets[2] * 256 + octets[3])
    return F.when(valid, val)


def _cidr_bounds(cidr: str) -> tuple[int, int, int]:
    """'a.b.c.d/n' -> (start, end, prefix_len); validates the mask."""
    ip, _, plen_s = cidr.partition("/")
    try:
        plen = int(plen_s) if plen_s else 32
    except ValueError:
        raise ValueError(f"bad CIDR prefix length in {cidr!r}") from None
    if not 0 <= plen <= 32:
        raise ValueError(f"bad CIDR prefix length in {cidr!r}")
    try:
        parts = [int(x) for x in ip.split(".")]
    except ValueError:
        raise ValueError(f"bad CIDR address in {cidr!r}") from None
    if len(parts) != 4 or any(not 0 <= x <= 255 for x in parts):
        raise ValueError(f"bad CIDR address in {cidr!r}")
    base = (parts[0] << 24) | (parts[1] << 16) | (parts[2] << 8) | parts[3]
    mask = ((1 << plen) - 1) << (32 - plen) if plen else 0
    start = base & mask
    return start, start | (~mask & 0xFFFFFFFF), plen


def enrich_ip_class(df: DataFrame, blocks: list[tuple[str, str]]) -> DataFrame:
    """Longest-prefix-match CIDR classification — the GeoIP/netblock
    recast of the reference's country table `[webalizer.c ƒctry
    hostname-TLD mapping (U)]`: each row's IPv4 `actor` gets, as
    `ip_class`, the class of the MOST SPECIFIC matching block (real CIDR
    semantics — an overlapping /24 inside a /8 wins),
    NULL/malformed/unmatched rows 'unknown'.

    100 TB shape: the block table is bounded config, so it rides the
    plan as a LITERAL struct array and the whole classification is one
    per-row higher-order filter + sort — no join, no broadcast
    Exchange, no shuffle of any kind (stronger than the J3 range-join
    shape: even the tiny dim never materializes as a relation)."""
    if not blocks:
        # no netblocks configured: everything is 'unknown'
        # (an empty literal array would type as VOID and crash the
        # struct-field access with an opaque AnalysisException)
        return df.withColumn("ip_class", F.lit("unknown"))
    rows = []
    for cidr, cls in blocks:
        start, end, plen = _cidr_bounds(cidr)
        rows.append(F.struct(F.lit(start).alias("s"),
                             F.lit(end).alias("e"),
                             F.lit(plen).alias("p"),
                             F.lit(cls).alias("c")))
    blk = F.array(*rows)
    # materialize the parsed ip ONCE per row: HOF lambdas are
    # interpreted without common-subexpression elimination, so an
    # inlined ip_aton would re-run its split/cast tree per block
    # element per comparison
    ip = F.col("_ip_v")
    matches = F.filter(blk, lambda b: (ip >= b["s"]) & (ip <= b["e"]))
    # longest prefix wins: sort matches by prefix length ascending and
    # take the last (two equal-length blocks can't both contain one ip
    # unless they're the same block, so no further tie-break exists)
    best = F.get(F.reverse(F.array_sort(
        matches, lambda a, b: F.when(a["p"] < b["p"], -1)
        .when(a["p"] > b["p"], 1).otherwise(0))), 0)
    return (df.withColumn("_ip_v", ip_aton(F.col("actor")))
            .withColumn("ip_class", F.coalesce(best["c"], F.lit("unknown")))
            .drop("_ip_v"))


def parse_robots(robots: DataFrame) -> DataFrame:
    """Parse robots.txt bodies (host, text) into (host, agent, allow,
    prefix) rules
    under the REP spec's grouping: consecutive User-agent lines STACK
    into one group and every following Allow/Disallow rule belongs to
    ALL of them (the classic parser gotcha); a new User-agent after a
    rule line starts a fresh group; rules before any User-agent are
    ignored; '#' comments strip; empty-path rules drop (an empty
    Disallow means "allow everything" — no rule). Agents fold to
    lowercase (the spec says the product token is case-insensitive).

    Scale note: robots tables are config-sized (one row per host), so
    per-host windows here are bounded by lines-per-file; the URL-side
    matching in robots_filter is the scale-critical path."""
    from pyspark.sql import Window

    lines = robots.select(
        "host",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"))
        .alias("i", "raw"))
    clean = F.trim(F.regexp_replace(F.col("raw"), "#.*$", ""))
    kind = (F.when(clean.rlike(r"(?i)^user-agent\s*:"), "ua")
            .when(clean.rlike(r"(?i)^allow\s*:"), "allow")
            .when(clean.rlike(r"(?i)^disallow\s*:"), "disallow"))
    value = F.trim(F.regexp_replace(clean, r"(?i)^[a-z-]+\s*:", ""))
    typed = (lines.select("host", "i", kind.alias("kind"),
                          value.alias("value"))
             .where(F.col("kind").isNotNull()))
    w = Window.partitionBy("host").orderBy("i")
    is_ua = (F.col("kind") == "ua").cast("int")
    block_start = ((F.col("kind") == "ua")
                   & (F.coalesce(F.lag(is_ua).over(w), F.lit(0)) == 0)) \
        .cast("int")
    grouped = typed.withColumn("grp", F.sum(block_start).over(w))
    agents = (grouped.where((F.col("kind") == "ua") & (F.col("value") != ""))
              .select("host", "grp", F.lower("value").alias("agent")))
    rules = (grouped.where((F.col("kind") != "ua")
                           & (F.col("value") != "")
                           & (F.col("grp") > 0))
             .select("host", "grp",
                     (F.col("kind") == "allow").alias("allow"),
                     F.col("value").alias("prefix")))
    # LEFT join from agents: a group whose only directive is an empty
    # Disallow (allow-everything) must still EXIST — under REP a
    # specific agent's empty group REPLACES '*', so dropping it would
    # flip every verdict to the '*' rules. Such groups emit one marker
    # row (allow/prefix NULL) that robots_filter counts for group
    # presence but never matches against a path.
    return (agents.join(rules, ["host", "grp"], "left")
            .select("host", "agent", "allow", "prefix"))


def robots_filter(urls: DataFrame, rules: DataFrame,
                  agent: str = "*") -> DataFrame:
    """Apply parsed robots rules to a URL table (url_id, host, path):
    per the REP spec, the
    applicable group is the SPECIFIC agent's rules when the host has
    any, else the '*' rules; among matching path prefixes the LONGEST
    wins, Allow beating Disallow on equal length; no matching rule
    (or no robots at all) means allowed.

    Scale shape: per-host rule selection happens on the RULE table
    (config-sized: one aggregate + join back); the corpus-sized work
    is one urls-to-rules join on host (AQE broadcasts the rule table
    when it fits) and ONE max_by aggregate per URL over a
    (prefix-length, allow) struct — no window over the corpus."""
    a = agent.lower()
    cand = rules.where(F.col("agent").isin(a, "*"))
    has_spec = (cand.groupBy("host")
                .agg(F.max((F.col("agent") == a).cast("int"))
                     .alias("_has_spec")))
    sel = (cand.join(has_spec, "host")
           .where((F.col("agent") == a)
                  | ((F.col("agent") == "*") & (F.col("_has_spec") == 0)))
           .select("host", "allow", "prefix"))
    # a rule row only "matches" when its prefix starts the path; rows
    # that don't match become NULL structs so max() skips them and a
    # URL with rules-but-no-match (or no rules at all) still survives
    # the groupBy with a NULL verdict -> allowed
    m = F.when(
        F.col("prefix").isNotNull()
        & F.col("path").startswith(F.col("prefix")),
        F.struct(F.length("prefix").alias("l"), F.col("allow").alias("a")))
    per_url = (urls.join(sel, "host", "left")
               .withColumn("_m", m)
               .groupBy("url_id")
               .agg(F.first("host").alias("host"),
                    F.first("path").alias("path"),
                    F.max("_m").alias("_best")))
    return per_url.select(
        "url_id", "host", "path",
        F.coalesce(F.col("_best.a"), F.lit(True)).alias("allowed"))
