"""End-to-end parse -> enrich -> route -> aggregate plan (SURVEY §3).

Recasts the reference's single record loop [webalizer.c ƒmain: our_gzgets
-> parse_record -> filters -> normalize -> put_* tallies -> month rollover
-> write reports] into the Spark lifecycle:

  read transcripts (columnar scan; partition pruning = resume filter)
    -> PARSE   grok text -> typed fields; ok/bad split        (narrow)
    -> ENRICH  broadcast joins (role/tool/bytes/engine)       (narrow)
    -> SESSIONIZE gap-and-island windows                      (shuffle #1)
    -> persist()  <- O2: ONE scan feeds every sink and report;
                     AQE sizes the cached partitions from the shuffle
                     bytes, not spark.sql.shuffle.partitions (session.py)
    -> ROUTE   fan-out sinks: errors / tool_calls / per-role  (narrow)
    -> AGGREGATE report tables (time grains, dimensions)      (shuffle #2,
                                       AQE-coalesced, tiny key spaces;
                                       the conv_id-keyed per-site and
                                       entry/exit tables reuse the
                                       spine's clustering, no shuffle)
    -> TOPN    TakeOrderedAndProject per report

The explicit persist is the design, not an afterthought: Spark will not
fuse separate actions into one scan by itself, and the reference's whole
architecture is "one pass feeds all tables" [webalizer.c main loop]. The
fat raw `text` column is never cached for GOOD rows — only the
~corrupt-fraction of rows keep theirs (`_bad_text`), which makes the
errors sink a narrow filter of the parse cache instead of a second full
raw scan + bad-key join (round 7; was 7.3 s/10M turns), while the cached
spines stay typed-fields-only for the 99%+ good rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from webalizer_spark.config import DEFAULT_CONFIG, EngineConfig
from webalizer_spark.functions.scalars import agent_mangle
from webalizer_spark.operators import aggregates as A
from webalizer_spark.operators import topn as T
from webalizer_spark.operators.enrich import enrich_all
from webalizer_spark.operators.filters import (
    hide,
    ignore_include,
    page_predicate,
)
from webalizer_spark.operators.parse import parse_transcripts
from webalizer_spark.operators.sessionize import (
    entry_counts,
    entry_exit,
    exit_counts,
    pick_sessionizer,
)
from webalizer_spark.plans.checkpoint import spine_lineage

# storage level of the parse cache, the spine and the shared aggregates:
# spillable, so a spine larger than executor memory degrades, never fails
PERSIST_LEVEL = StorageLevel.MEMORY_AND_DISK


@dataclass
class PipelineResult:
    """Lazy handles to every sink/report DataFrame; materialize via write()
    or collect what you need. ``enriched`` is the cached spine."""

    enriched: DataFrame
    errors: DataFrame
    tool_calls: DataFrame
    by_role: DataFrame
    reports: dict[str, DataFrame] = field(default_factory=dict)
    parsed: DataFrame | None = None
    cached_aggs: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        self.enriched.unpersist()
        if self.parsed is not None:
            self.parsed.unpersist()
        for df in self.cached_aggs:
            df.unpersist()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dims: dict[str, DataFrame],
    cfg: EngineConfig = DEFAULT_CONFIG,
    grok_strategy: str = "split",
    sessionizer=None,
) -> PipelineResult:
    # -- PARSE ------------------------------------------------------------
    # The persist here is load-bearing, twice over: (1) it is the
    # reference's one-scan-feeds-everything architecture (O2) — errors
    # keys, ok path, and every report read the SAME parsed rows; (2) it is
    # an optimizer barrier: any filter referencing derived columns (e.g.
    # parse_ok) would otherwise be predicate-pushdown-substituted through
    # the parse projection, re-inlining the grok regex once per conjunct
    # (measured 6x full-parse blowup on the 2M-turn bench).
    #
    # The fat raw `text` column is cached ONLY for bad rows (round 7):
    # good-row text is still never cached (it dominates cache bytes at
    # scale), but the ~corrupt-fraction of rows keep theirs in a
    # `_bad_text` column, so the errors sink is a narrow filter over
    # the SAME cache instead of the previous bad-key broadcast join
    # against a second full raw scan — that re-scan + join was a
    # measured 7.3 s of the 10M-turn bench (guide §2.4: remove the
    # join outright). Cached bad-text bytes stay bounded by the
    # corrupt fraction; at a 1% bad rate that is 1% of corpus text in
    # (spillable) cache versus re-reading 100% of it from storage.
    parsed = (parse_transcripts(transcripts, grok_strategy)
              .withColumn("_bad_text",
                          F.when(~F.col("parse_ok"), F.col("text")))
              .drop("text").persist(PERSIST_LEVEL))
    ok = parsed.drop("_bad_text").filter(F.col("parse_ok"))
    # errors keep the exact input schema/order [BASE_COLS], raw line
    # restored from _bad_text — row-for-row identical to the old
    # transcripts >< bad-keys join ((conv_id, turn_idx) is unique).
    errors = (parsed.filter(~F.col("parse_ok"))
              .select("conv_id", "turn_idx", "role",
                      F.col("_bad_text").alias("text"), "tool", "ts"))

    # Ignore/Include filters run pre-aggregation [webalizer.c loop order]:
    # all five Ignore families drop the whole record before any tally
    ok = ignore_include(ok, "conv_id", cfg.lists.ignore_site, cfg.lists.include_site)
    ok = ignore_include(ok, "path", cfg.lists.ignore_url, cfg.lists.include_url)
    ok = ignore_include(ok, "agent_str", cfg.lists.ignore_agent,
                        cfg.lists.include_agent)
    ok = ignore_include(ok, "ident", cfg.lists.ignore_user,
                        cfg.lists.include_user)
    ok = ignore_include(ok, "referrer", cfg.lists.ignore_referrer,
                        cfg.lists.include_referrer)
    if cfg.mangle_agents:
        ok = ok.withColumn("agent_str", agent_mangle(F.col("agent_str"), cfg.mangle_agents))
    # PageType [webalizer.c ƒispage]: the page predicate is computed ONCE
    # into the spine (pure Catalyst boolean over path/tool, no join) so
    # every pages metric and the entry/exit tables agree on it
    ok = ok.withColumn("is_page", page_predicate(cfg.page_types))

    # -- ENRICH -----------------------------------------------------------
    # SearchEngine conf lines replace the engine dim [webalizer.c
    # ƒsrch_string search_list]: same broadcast J4 join, dim built from
    # config instead of the dims table
    if cfg.search_engines:
        # last-wins per host: a duplicate engine_host in the broadcast
        # dim would duplicate every matching spine row through the join
        dims = {**dims, "engine_params": spark.createDataFrame(
            list(dict(cfg.search_engines).items()),
            "engine_host string, query_param string")}

    # -- SESSIONIZE (before ENRICH, round 7 — guide §2.3: shuffle fewer
    # bytes). Sessionize needs only (conv_id, ts, turn_idx); the enrich
    # joins are row-preserving 1:at-most-1 broadcasts, so running them
    # AFTER the window moves their five added columns (four of them
    # strings) out of the conv_id Exchange — and out of the skew path's
    # range shuffle and local checkpoint — with row-for-row identical
    # output. A final select restores the historical spine column order.
    # sessionizer override: resume mode passes a checkpoint-stitching
    # variant (plans/checkpoint.resume_sessionize) so numbering continues
    # the saved state. Otherwise the path is picked from the data; the
    # hottest-conv estimate samples the INPUT's key column, so it costs
    # one small scan and does not pull the parse into plan time.
    if sessionizer is None:
        sess = pick_sessionizer(transcripts)(ok, cfg.visit_timeout_s)
    else:
        sess = sessionizer(ok)

    # -- ENRICH (post-window, narrow broadcast joins) ---------------------
    enriched = enrich_all(sess, dims)
    spine_cols = ([c for c in enriched.columns
                   if c not in ("is_new_session", "session_seq")]
                  + ["is_new_session", "session_seq"])
    spine = enriched.select(*spine_cols).persist(PERSIST_LEVEL)

    # -- ROUTE (fan-out sinks, all narrow reads of the spine) -------------
    tool_calls = spine.filter(F.col("tool").isNotNull())
    by_role = spine  # per-role sinks are partitionBy('role') at write time

    # -- AGGREGATE / report tables ----------------------------------------
    # base aggregates shared by several reports are persisted (tiny
    # tables) so the by-hits and by-kbytes top-N variants don't re-scan
    # the spine — cuts spine passes per run by ~1/3
    # entry/exit follow the conf page predicate: with PageType set the
    # entry/exit tables key on matching PATHS (the reference's URL-based
    # tables); default keys on tool like the rest of the recast
    sess_pages = entry_exit(
        spine, page_col="path" if cfg.page_types else "tool",
        page_pred=F.col("is_page")).persist(PERSIST_LEVEL)
    per_site = A.per_site(spine).persist(PERSIST_LEVEL)
    per_url = A.per_url(spine).persist(PERSIST_LEVEL)
    # one per-key table per family: the top-N report and the Dump* sink
    # below read the same DataFrame
    per_referrer = A.per_referrer(spine)
    per_agent = A.per_agent(spine)
    per_user = A.per_user(spine)
    per_search = A.per_search_term(spine)
    n = cfg.topn
    reports: dict[str, DataFrame] = {
        "hourly": A.hour_of_day_profile(spine),
        "daily": A.time_totals(spine, "day", with_sessions=True),
        "monthly": A.month_summary(spine),
        "status_codes": A.status_histogram(spine),
        "by_actor_class": A.per_class(spine, "actor_class"),
        "by_tool_family": A.per_class(spine, "tool_family"),
        "by_size_class": A.per_class(spine, "size_class"),
        # Hide* is applied to the aggregate table BEFORE top_n so hidden
        # entries never consume top-N slots (webalizer skips OBJ_HIDE
        # nodes while FILLING the table to N); totals are unaffected
        # since hide only filters the display table, never the spine.
        "top_sites": T.top_n(hide(per_site, "conv_id", cfg.lists.hide_site),
                             "hits", "conv_id", n.sites),
        "top_sites_by_kb": T.top_n(hide(per_site, "conv_id", cfg.lists.hide_site),
                                   "kbytes", "conv_id", n.sites_by_kb),
        "top_tools": T.top_n(hide(per_url, "tool", cfg.lists.hide_url),
                             "hits", "tool", n.urls),
        "top_tools_by_kb": T.top_n(hide(per_url, "tool", cfg.lists.hide_url),
                                   "kbytes", "tool", n.urls_by_kb),
        "top_referrers": T.top_n(hide(per_referrer, "referrer",
                                      cfg.lists.hide_referrer),
                                 "hits", "referrer", n.referrers),
        "top_agents": T.top_n(hide(per_agent, "agent", cfg.lists.hide_agent),
                              "hits", "agent", n.agents),
        "top_users": T.top_n(hide(per_user, "user", cfg.lists.hide_user),
                             "hits", "user", n.users),
        "top_search": T.top_n(per_search, "hits", "search_term", n.search),
        "top_entry": T.top_n(entry_counts(sess_pages), "entries", "page", n.entry),
        "top_exit": T.top_n(exit_counts(sess_pages), "exits", "page", n.exit),
    }
    # T5/S6 full dumps (Dump* keywords): the WHOLE sorted table as an
    # all_* sink — a true global sort (range partition + local sort),
    # only materialized for families the config asks for. Dumps list
    # hidden entries too: Hide* filters only the top-N display.
    dump_sources = {
        "sites": (per_site, "conv_id"),
        "tools": (per_url, "tool"),
        "agents": (per_agent, "agent"),
        "referrers": (per_referrer, "referrer"),
        "users": (per_user, "user"),
        "search": (per_search, "search_term"),
    }
    for fam in cfg.dumps:
        src, key = dump_sources[fam]
        reports[f"all_{fam}"] = T.full_dump(src, "hits", key)

    # Group* families: named-group rollups IN ADDITION to individuals
    # (GROUPING SETS, one shuffle each) [linklist.c ƒisinglist]
    if cfg.lists.group_url:
        reports["grouped_tools"] = A.grouped_rollup(
            spine.filter(F.col("tool").isNotNull()), "tool", cfg.lists.group_url)
    if cfg.lists.group_site:
        reports["grouped_sites"] = A.grouped_rollup(
            spine, "conv_id", cfg.lists.group_site)
    if cfg.lists.group_agent:
        reports["grouped_agents"] = A.grouped_rollup(
            spine, "agent_str", cfg.lists.group_agent)
    if cfg.lists.group_referrer:
        # blank referrers land in the reference's '-' slot (per_referrer
        # convention) so a Group pattern can target them too
        reports["grouped_referrers"] = A.grouped_rollup(
            spine.withColumn("referrer", F.coalesce("referrer", F.lit("-"))),
            "referrer", cfg.lists.group_referrer, metrics=[A.HITS()])
    if cfg.lists.group_user:
        reports["grouped_users"] = A.grouped_rollup(
            spine.filter(F.col("ident").isNotNull()), "ident",
            cfg.lists.group_user)
    if cfg.group_domains:
        # GroupDomains N — RECAST NOTE [webalizer.c ƒget_domain]: the
        # reference keyword rolls up SITES (client hostnames) to their
        # last-N domain labels. This engine's site analog is conv_id
        # (an opaque conversation id, never host-shaped — input_hint),
        # so a literal site rollup would be the per_site table verbatim.
        # The spine's only host-shaped surface is the referrer host, so
        # this recast's grouped_domains is a REFERRER-domain rollup:
        # same ƒget_domain last-N-label math, applied to engine_host
        # (the parsed referrer host from the J4 enrich) — one tiny-key
        # groupBy over the spine. Documented divergence (round-4 advice).
        from webalizer_spark.functions.scalars import get_domain
        reports["grouped_domains"] = (
            spine.filter(F.col("engine_host").isNotNull())
            .groupBy(get_domain(F.col("engine_host"),
                                cfg.group_domains).alias("domain"))
            .agg(A.HITS(), A.KBYTES()))

    return PipelineResult(
        enriched=spine, errors=errors, tool_calls=tool_calls,
        by_role=by_role, reports=reports, parsed=parsed,
        cached_aggs=[sess_pages, per_site, per_url],
    )


def write_sinks(result: PipelineResult, out_base: str) -> dict[str, int]:
    """Materialize the fan-out (S5/S6 analog). Returns per-sink row counts
    via observed metrics — no extra pass over the data.

    Sinks: errors/, tool_calls/, by_role/ (partitioned by role), and one
    directory per report table.
    """
    import json
    import os
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    counts: dict[str, int] = {}

    def w(df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        obs = Observation(f"sink_{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(out_base, name))
        counts[name] = obs.get["rows"]

    # ONE pass materializes both cached spines (parse and spine) and
    # records the per-partition lineage (north_rule: "lineage and metrics
    # emitted per partition"); then the (mostly tiny) report writes fan
    # out concurrently — Spark schedules the jobs against the shared
    # cache; sequential writes waste cluster idle time
    partitions, _ = spine_lineage(result.enriched)
    jobs = [(result.errors, "errors", None),
            (result.tool_calls, "tool_calls", None),
            (result.by_role, "by_role", ["role"])]
    jobs += [(df, f"reports/{name}", None) for name, df in result.reports.items()]
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(w, df, name, pb) for df, name, pb in jobs]
        for f in futures:
            f.result()

    # one JSON manifest: every per-sink routed-row count plus the spine
    # lineage; sorted keys keep it byte-stable whatever order the pool
    # finished in
    metrics = {
        "sinks": {k: int(v) for k, v in counts.items()},
        "spine_partitions": partitions,
    }
    os.makedirs(out_base, exist_ok=True)
    tmp = os.path.join(out_base, "_metrics.json.tmp")
    with open(tmp, "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_base, "_metrics.json"))
    return counts
