"""Config-driven behaviors through the full pipeline: Ignore/Hide/Group
lists and agent mangling (the webalizer.conf keyword semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webalizer_spark.config import EngineConfig, WildcardLists
from webalizer_spark.plans.checkpoint import CheckpointPaths, save_state
from webalizer_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def cfg_result(spark, transcripts, dims):
    cfg = EngineConfig(
        lists=WildcardLists(
            ignore_url=["msg/*"],          # drop non-tool message turns
            hide_url=["search"],           # aggregate but don't display
            group_url=(("py*", "python-tools"), ("s*", "s-tools")),
        ),
        mangle_agents=3,
    )
    res = run_pipeline(spark, transcripts, dims, cfg=cfg)
    yield res, cfg
    res.unpersist()


def test_ignore_drops_before_aggregation(cfg_result, transcripts):
    res, _ = cfg_result
    # every surviving row has a non-msg path
    assert res.enriched.filter(F.col("path").startswith("msg/")).count() == 0
    # but errors sink is untouched by Ignore (filter order: bad split first)
    assert res.errors.count() > 0


def test_hide_suppresses_display_only(cfg_result):
    res, _ = cfg_result
    top = res.reports["top_tools"].toPandas()
    assert "search" not in top["tool"].tolist()
    # still aggregated: totals include search rows (hits in hourly table
    # exceed the sum of displayed top_tools hits)
    assert res.enriched.filter("tool = 'search'").count() > 0


def test_group_rollup_in_addition_to_individuals(cfg_result):
    res, _ = cfg_result
    grouped = res.reports["grouped_tools"].toPandas()
    groups = grouped[grouped["is_group"]]
    singles = grouped[~grouped["is_group"]]
    assert set(groups["group_name"]) == {"python-tools", "s-tools"}
    py_group = int(groups.loc[groups["group_name"] == "python-tools", "hits"].iloc[0])
    py_single = int(singles.loc[singles["tool"] == "python", "hits"].iloc[0])
    pyspark_rows = singles.loc[singles["tool"] == "pyspark", "hits"]
    assert py_group == py_single + int(pyspark_rows.sum())
    # individuals still present alongside group rows (OBJ_GRP semantics)
    assert "python" in singles["tool"].tolist()


def test_agent_mangle_applied(cfg_result):
    res, _ = cfg_result
    agents = res.reports["top_agents"].toPandas()["agent"]
    # level 3 = family/maj.min — no ' (os)' suffix survives
    assert not agents.str.contains(r"\(").any()
    assert agents.str.match(r"^\S+/\d+\.\d+$").all()


@pytest.fixture(scope="module")
def cfg_result2(spark, transcripts, dims):
    """Second config exercising the remaining list families (wired in
    round 2): ignore_user/ignore_referrer pre-agg, hide_site on top_sites,
    group_site/group_agent/group_user rollups, hide-before-topN slots."""
    cfg = EngineConfig(
        topn=__import__("webalizer_spark.config", fromlist=["TopN"]).TopN(urls=3),
        lists=WildcardLists(
            ignore_user=["u1*"],
            ignore_referrer=["*eng-3*"],
            hide_site=["conv-0000000*"],
            hide_url=["search"],
            group_site=(("conv-0000*", "early-convs"),),
            group_agent=(("claude*", "claude-family"),),
            group_user=(("u2*", "u2-users"),),
        ),
    )
    res = run_pipeline(spark, transcripts, dims, cfg=cfg)
    yield res, cfg
    res.unpersist()


def test_ignore_user_and_referrer_drop_records(cfg_result2):
    res, _ = cfg_result2
    assert res.enriched.filter(F.col("ident").startswith("u1")).count() == 0
    assert res.enriched.filter(
        F.col("referrer").contains("eng-3")).count() == 0
    # untouched rows survive
    assert res.enriched.count() > 0


def test_hide_site_suppresses_display_only(cfg_result2):
    res, _ = cfg_result2
    top = res.reports["top_sites"].toPandas()
    assert not top["conv_id"].str.startswith("conv-0000000").any()
    assert res.enriched.filter(
        F.col("conv_id").startswith("conv-0000000")).count() > 0


def test_hide_applied_before_topn_fills_slots(cfg_result2, transcripts, dims):
    """Hidden entries must not consume top-N slots: with TopN(urls=3) and
    'search' hidden, the table still has 3 rows — the next-ranked visible
    tool moves up instead of being cut (OBJ_HIDE fill semantics)."""
    res, _ = cfg_result2
    top = res.reports["top_tools"].toPandas()
    assert "search" not in top["tool"].tolist()
    assert len(top) == 3
    # the 3 rows are the top-3 VISIBLE tools by hits
    per_url = (res.enriched.filter(F.col("tool").isNotNull())
               .groupBy("tool").count().toPandas())
    visible = per_url[per_url["tool"] != "search"] \
        .sort_values(["count", "tool"], ascending=[False, True])
    assert top["tool"].tolist() == visible["tool"].head(3).tolist()


def test_group_site_agent_user_rollups(cfg_result2):
    res, _ = cfg_result2
    gs = res.reports["grouped_sites"].toPandas()
    assert "early-convs" in gs.loc[gs["is_group"], "group_name"].tolist()
    early = int(gs.loc[gs["group_name"] == "early-convs", "hits"].iloc[0])
    singles = gs[~gs["is_group"]]
    member_hits = int(singles.loc[
        singles["conv_id"].str.startswith("conv-0000"), "hits"].sum())
    assert early == member_hits

    ga = res.reports["grouped_agents"].toPandas()
    assert (ga.loc[ga["is_group"], "group_name"] == "claude-family").any()

    gu = res.reports["grouped_users"].toPandas()
    grp = gu.loc[gu["is_group"], "group_name"].tolist()
    # u1* users were IGNORED pre-agg; u2* group still forms
    assert grp == ["u2-users"] or "u2-users" in grp


@pytest.fixture(scope="module")
def cfg_result3(spark, transcripts, dims):
    """Third config: the round-3 list families — Include overrides for
    referrer/agent/user, HideUser, GroupReferrer [sample.conf;
    linklist.c ƒisinlist family tables]."""
    cfg = EngineConfig(
        lists=WildcardLists(
            ignore_agent=["claude*", "gpt*"],
            include_agent=["gpt*"],            # re-admit gpt, drop claude
            ignore_user=["u1*", "u2*"],
            include_user=["u2*"],              # re-admit u2x, drop u1x
            ignore_referrer=["*eng-3*", "*eng-4*"],
            include_referrer=["*eng-4*"],      # re-admit eng-4, drop eng-3
            hide_user=["u3*"],
            group_referrer=(("*eng-5*", "engine-5"),),
        ),
    )
    res = run_pipeline(spark, transcripts, dims, cfg=cfg)
    yield res, cfg
    res.unpersist()


def test_include_overrides_readmit_records(cfg_result3):
    res, _ = cfg_result3
    en = res.enriched
    assert en.filter(F.col("agent_str").startswith("claude")).count() == 0
    assert en.filter(F.col("agent_str").startswith("gpt")).count() > 0
    assert en.filter(F.col("ident").startswith("u1")).count() == 0
    assert en.filter(F.col("ident").startswith("u2")).count() > 0
    assert en.filter(F.col("referrer").contains("eng-3")).count() == 0
    assert en.filter(F.col("referrer").contains("eng-4")).count() > 0


def test_hide_user_display_only(cfg_result3):
    res, _ = cfg_result3
    top = res.reports["top_users"].toPandas()
    assert not top["user"].str.startswith("u3").any()
    # still aggregated — u3x rows survive in the spine
    assert res.enriched.filter(F.col("ident").startswith("u3")).count() > 0


def test_group_referrer_rollup(cfg_result3):
    res, _ = cfg_result3
    gr = res.reports["grouped_referrers"].toPandas()
    groups = gr[gr["is_group"]]
    singles = gr[~gr["is_group"]]
    assert set(groups["group_name"]) == {"engine-5"}
    grp_hits = int(groups["hits"].iloc[0])
    member_hits = int(singles.loc[
        singles["referrer"].str.contains("eng-5"), "hits"].sum())
    assert grp_hits == member_hits > 0
    # only its own table is affected: no other grouped_* report appears
    assert "grouped_tools" not in res.reports


@pytest.fixture(scope="module")
def cfg_result4(spark, transcripts, dims):
    """Round-4 conf keywords: PageType redefines the page predicate,
    SearchEngine builds the J4 dim from conf, GroupDomains adds the
    domain rollup [sample.conf keywords; webalizer.c ƒispage/
    ƒsrch_string/ƒget_domain]."""
    cfg = EngineConfig(
        page_types=("msg/*",),
        search_engines=(("eng-0.example", "q"),),
        group_domains=1,
    )
    res = run_pipeline(spark, transcripts, dims, cfg=cfg)
    yield res, cfg
    res.unpersist()


def test_pagetype_drives_page_predicate(cfg_result4, tmp_path):
    """With PageType configured, reference ispage() semantics replace the
    tool-turn default: the fixture's paths are all extension-less
    ('msg/<role>' and bare tool names carry no '.'), and ispage treats
    extension-less paths as pages unconditionally — so EVERY ok row is a
    page (not just tool turns), and entry/exit key on paths. The saved
    daily_state (the CLI's history source) counts the same pages."""
    res, _ = cfg_result4
    spine = res.enriched
    n_all = spine.count()
    n_tool = spine.filter(F.col("tool").isNotNull()).count()
    daily = res.reports["daily"].toPandas()
    assert int(daily["pages"].sum()) == n_all
    assert n_all != n_tool  # the conf really rewired the predicate
    ckpt = CheckpointPaths(str(tmp_path))
    save_state(spine, ckpt)
    state = spine.sparkSession.read.parquet(ckpt.daily_state)
    assert state.agg(F.sum("pages")).first()[0] == n_all
    # entry pages are now session-first PATHS (any path, msg/ or tool)
    entry = res.reports["top_entry"].toPandas()
    paths = {r["path"] for r in spine.select("path").distinct().collect()}
    assert set(entry["page"]) <= paths and len(entry) > 0


def test_searchengine_conf_builds_dim(cfg_result4):
    """Only conf-listed engines match: search terms extract for
    eng-0.example referrers alone, and the top_search table shrinks to
    that engine's terms."""
    res, _ = cfg_result4
    spine = res.enriched
    assert spine.filter(F.col("search_term").isNotNull()
                        & (F.col("engine_host") != "eng-0.example")
                        ).count() == 0
    n0 = spine.filter(F.col("engine_host") == "eng-0.example").count()
    assert spine.filter(F.col("search_term").isNotNull()).count() == n0 > 0


def test_groupdomains_rollup(cfg_result4):
    """GroupDomains 1 rolls referrer hosts to their last label: one
    'example' domain row whose hits equal all referrer-bearing rows."""
    res, _ = cfg_result4
    gd = res.reports["grouped_domains"].toPandas()
    assert gd["domain"].tolist() == ["example"]
    n_ref = res.enriched.filter(F.col("engine_host").isNotNull()).count()
    assert int(gd["hits"].iloc[0]) == n_ref > 0
