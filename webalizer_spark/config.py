"""Engine configuration — the recast of webalizer.conf.

The reference's "query plan" is ~120 config keywords parsed into globals
[webalizer.c ƒget_config kwords[]; sample.conf]. This dataclass keeps the
subset with query semantics; presentation-only keywords (colors, HTML
headers) are out of scope. Defaults mirror the reference's documented
defaults [sample.conf; webalizer.1]:

  VisitTimeout 1800        -> visit_timeout_s
  TopSites 30 / TopKSites 10 / TopURLs 30 / TopKURLs 10 / TopReferrers 30
  TopAgents 15 / TopEntry 10 / TopExit 10
  TopSearch 20 / TopUsers 20
  TopCountries             -> not recast (no country dimension): unknown
  PageType htm* cgi        -> page predicate; recast: tool IS NOT NULL
  Ignore*/Include*/Hide*/Group* wildcard lists -> pattern lists
  MangleAgents 0-5         -> role/agent normalization level
  Incremental              -> not recast (the CLI's --checkpoint DIR both
                              restores and saves the state): unknown
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class TopN:
    """Top-N table sizes [webalizer.c config defaults; sample.conf]."""

    sites: int = 30          # TopSites    — recast: top conversations
    sites_by_kb: int = 10    # TopKSites
    urls: int = 30           # TopURLs     — recast: top tools
    urls_by_kb: int = 10     # TopKURLs
    referrers: int = 30      # TopReferrers
    agents: int = 15         # TopAgents   — recast: top roles/agent strings
    entry: int = 10          # TopEntryPages
    exit: int = 10           # TopExitPages
    search: int = 20         # TopSearch
    users: int = 20          # TopUsers


@dataclass(frozen=True)
class WildcardLists:
    """Ignore/Include/Hide/Group wildcard lists [linklist.c ƒisinlist].

    Reference wildcard grammar: leading '*' = suffix match, trailing '*' =
    prefix match, bare string = substring match. Each entry here is
    (pattern, group_name) for group lists, plain pattern otherwise.
    """

    ignore_site: tuple[str, ...] = ()
    ignore_url: tuple[str, ...] = ()
    ignore_referrer: tuple[str, ...] = ()
    ignore_agent: tuple[str, ...] = ()
    ignore_user: tuple[str, ...] = ()
    include_site: tuple[str, ...] = ()
    include_url: tuple[str, ...] = ()
    include_referrer: tuple[str, ...] = ()
    include_agent: tuple[str, ...] = ()
    include_user: tuple[str, ...] = ()
    hide_site: tuple[str, ...] = ()
    hide_url: tuple[str, ...] = ()
    hide_referrer: tuple[str, ...] = ()
    hide_agent: tuple[str, ...] = ()
    hide_user: tuple[str, ...] = ()
    group_site: tuple[tuple[str, str], ...] = ()
    group_url: tuple[tuple[str, str], ...] = ()
    group_referrer: tuple[tuple[str, str], ...] = ()
    group_agent: tuple[tuple[str, str], ...] = ()
    group_user: tuple[tuple[str, str], ...] = ()


@dataclass(frozen=True)
class EngineConfig:
    """Full engine configuration."""

    # VisitTimeout: seconds of inactivity that end a visit/session
    # [hashtab.c ƒput_hnode timeout branch; default 1800].
    visit_timeout_s: int = 1800
    topn: TopN = field(default_factory=TopN)
    lists: WildcardLists = field(default_factory=WildcardLists)
    # MangleAgents level 0-5 [webalizer.c agent mangle]: 0 = verbatim,
    # higher levels strip minor version / OS / everything but family.
    mangle_agents: int = 0
    # Dump* keywords [sample.conf DumpSites/DumpURLs/DumpReferrers/
    # DumpAgents/DumpUsers/DumpSearchstr]: families whose FULL sorted
    # table is written as an all_* sink (T5 .tab dump analog).
    dumps: tuple[str, ...] = ()
    # PageType [sample.conf; webalizer.c ƒispage]: wildcard patterns over
    # `path` defining what counts as a "page". Empty = the engine's
    # default recast predicate (tool IS NOT NULL).
    page_types: tuple[str, ...] = ()
    # SearchEngine [sample.conf 'SearchEngine host param=']: builds the
    # J4 engine dim (engine_host, query_param) from conf instead of the
    # dims table. Hosts are exact (the broadcast-join key), the param
    # defaults to 'q'.
    search_engines: tuple[tuple[str, str], ...] = ()
    # GroupDomains N [sample.conf; webalizer.c ƒget_domain]: roll referrer
    # hosts up to their last-N domain labels as an extra grouped report.
    # 0 = disabled (reference default).
    group_domains: int = 0


DEFAULT_CONFIG = EngineConfig()


# ---------------------------------------------------------------------------
# webalizer.conf-style parser — the reference's config surface, so a
# reference user's existing conf file drives this engine unchanged
# [webalizer.c ƒget_config kwords[]; sample.conf grammar: one
# "Keyword value" per line, '#' comments, Group* takes "pattern [label]"]
# ---------------------------------------------------------------------------

_TOPN_KEYS = {
    "topsites": "sites", "topksites": "sites_by_kb",
    "topurls": "urls", "topkurls": "urls_by_kb",
    "topreferrers": "referrers", "topagents": "agents",
    "topentry": "entry", "topexit": "exit",
    "topsearch": "search", "topusers": "users",
}

_LIST_KEYS = {
    "ignoresite": "ignore_site", "ignoreurl": "ignore_url",
    "ignorereferrer": "ignore_referrer", "ignoreagent": "ignore_agent",
    "ignoreuser": "ignore_user",
    "includesite": "include_site", "includeurl": "include_url",
    "includereferrer": "include_referrer", "includeagent": "include_agent",
    "includeuser": "include_user",
    "hidesite": "hide_site", "hideurl": "hide_url",
    "hidereferrer": "hide_referrer", "hideagent": "hide_agent",
    "hideuser": "hide_user",
}

_GROUP_KEYS = {
    "groupsite": "group_site", "groupurl": "group_url",
    "groupreferrer": "group_referrer", "groupagent": "group_agent",
    "groupuser": "group_user",
}

_DUMP_KEYS = {
    "dumpsites": "sites", "dumpurls": "tools", "dumpagents": "agents",
    "dumpreferrers": "referrers", "dumpusers": "users",
    "dumpsearchstr": "search",
}

_BOOL = {"yes": True, "no": False, "true": True, "false": False,
         "1": True, "0": False}

_NUMERIC_KEYS = frozenset(
    {"visittimeout", "mangleagents", "groupdomains"} | _TOPN_KEYS.keys())


def _first_int(val: str) -> int | None:
    """atoi-style numeric parse: first whitespace token, or None.
    Negative values are rejected too — no numeric keyword here (Top*,
    VisitTimeout, MangleAgents, GroupDomains) has a meaningful negative,
    and e.g. limit(-1) would crash at plan time, breaking the
    warn-and-continue contract."""
    try:
        v = int(val.split(None, 1)[0])
        return v if v >= 0 else None
    except (ValueError, IndexError):
        return None


def parse_conf(text: str) -> tuple[EngineConfig, list[str]]:
    """Parse webalizer.conf-grammar text into an EngineConfig.

    Returns (config, unknown_keywords). Unknown keywords are collected,
    not fatal — the reference likewise warns and continues; callers log
    them (presentation-only keywords like colors land here by design).
    """
    topn: dict[str, int] = {}
    lists: dict[str, tuple] = {}
    groups: dict[str, tuple] = {}
    dump_flags: dict[str, bool] = {}
    scalar: dict[str, object] = {}
    unknown: list[str] = []

    known = ({"visittimeout", "mangleagents", "pagetype", "searchengine",
              "groupdomains"}
             | _TOPN_KEYS.keys() | _LIST_KEYS.keys()
             | _GROUP_KEYS.keys() | _DUMP_KEYS.keys())
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 1)
        key = parts[0].lower()
        val = parts[1].strip() if len(parts) > 1 else ""
        if key in known and not val:
            # malformed (valueless) line: warn and continue, like the
            # reference tolerates conf noise — an empty Ignore*/Hide*
            # pattern would otherwise match EVERYTHING (substring "")
            unknown.append(parts[0])
            continue
        if key in _NUMERIC_KEYS and (num := _first_int(val)) is None:
            # atoi-style tolerance [webalizer.c ƒget_config]: a noisy
            # numeric value ('900 # 15min' parses; 'abc' does not) must
            # warn-and-continue, never crash the CLI
            unknown.append(parts[0])
            continue
        if key == "visittimeout":
            scalar["visit_timeout_s"] = num
        elif key == "mangleagents":
            scalar["mangle_agents"] = num
        elif key == "groupdomains":
            scalar["group_domains"] = num
        elif key == "pagetype":
            # one pattern per line in the reference; tolerate several
            # whitespace-separated patterns on one line as a superset.
            # An inline '#' comment ends the pattern list — a bare '#'
            # pattern would substring-match almost every path
            pats = []
            for t in val.split():
                if t.startswith("#"):
                    break
                pats.append(t)
            scalar["page_types"] = (scalar.get("page_types", ())
                                    + tuple(pats))
        elif key == "searchengine":
            # "host [param]" — reference grammar is 'SearchEngine
            # host substring param='; param defaults to q, trailing '='
            # (reference style) is tolerated; inline '#' comments end
            # the line. Re-listing a host is last-wins like every
            # scalar keyword (a duplicate host in the broadcast dim
            # would DUPLICATE every matching row through the join).
            bits = val.split()
            # comment-only line ('SearchEngine # ...'): the '#' token is
            # NOT a host — registering it would silently replace the
            # dims-table engine dim with junk (any non-empty
            # cfg.search_engines wins in run_pipeline). Mirror the
            # PageType branch: warn-and-continue.
            if bits[0].startswith("#"):
                unknown.append(parts[0])
                continue
            param = "q"
            if len(bits) > 1 and not bits[1].startswith("#"):
                param = bits[1].rstrip("=")
            engines = dict(scalar.get("search_engines", ()))
            engines[bits[0]] = param
            scalar["search_engines"] = tuple(engines.items())
        elif key in _TOPN_KEYS:
            topn[_TOPN_KEYS[key]] = num
        elif key in _LIST_KEYS:
            f = _LIST_KEYS[key]
            lists[f] = lists.get(f, ()) + (val,)
        elif key in _GROUP_KEYS:
            f = _GROUP_KEYS[key]
            # "pattern [label]" — label defaults to the pattern
            bits = val.split(None, 1)
            pattern = bits[0]
            label = bits[1].strip() if len(bits) > 1 else pattern
            groups[f] = groups.get(f, ()) + ((pattern, label),)
        elif key in _DUMP_KEYS:
            # last-wins like every scalar keyword: a later "DumpURLs no"
            # disables an earlier "yes" (the standard conf override
            # pattern), and duplicates cannot double the dump plan
            dump_flags[_DUMP_KEYS[key]] = _BOOL.get(val.lower(), False)
        else:
            unknown.append(parts[0])

    cfg = EngineConfig(
        topn=TopN(**topn),
        lists=WildcardLists(**lists, **groups),
        dumps=tuple(f for f, on in dump_flags.items() if on),
        **scalar,
    )
    return cfg, unknown


def load_conf(path: str) -> tuple[EngineConfig, list[str]]:
    with open(path) as f:
        return parse_conf(f.read())
