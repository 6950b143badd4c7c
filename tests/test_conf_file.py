"""webalizer.conf-grammar config file: parser unit tests + a subprocess
CLI run proving a reference-style conf drives the engine end-to-end."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from webalizer_spark.config import parse_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SAMPLE = """
# webalizer.conf excerpt (reference grammar)
VisitTimeout 900
TopURLs     5
TopKSites   3
MangleAgents 3
IgnoreURL   msg/*
IncludeURL  msg/keep*
HideUser    u3*
GroupURL    py*  python-tools
GroupReferrer *eng-5*
DumpURLs    yes
DumpSites   no
# presentation-only keywords are ignored with a warning, like the
# reference warns and continues
BGColor     #E8E8E8
HTMLHead    <b>x</b>
# so is TopCountries: transcripts carry no country dimension
TopCountries 5
# and Incremental: the CLI's --checkpoint DIR restores and saves state
Incremental yes
"""


def test_parse_conf_reference_grammar():
    cfg, unknown = parse_conf(SAMPLE)
    assert cfg.visit_timeout_s == 900
    assert cfg.topn.urls == 5 and cfg.topn.sites_by_kb == 3
    assert cfg.mangle_agents == 3
    assert cfg.lists.ignore_url == ("msg/*",)
    assert cfg.lists.include_url == ("msg/keep*",)
    assert cfg.lists.hide_user == ("u3*",)
    assert cfg.lists.group_url == (("py*", "python-tools"),)
    # label defaults to the pattern when omitted
    assert cfg.lists.group_referrer == (("*eng-5*", "*eng-5*"),)
    assert cfg.dumps == ("tools",)
    assert sorted(unknown) == ["BGColor", "HTMLHead", "Incremental",
                               "TopCountries"]


def test_parse_conf_defaults_when_empty():
    cfg, unknown = parse_conf("# nothing\n")
    assert cfg.visit_timeout_s == 1800 and cfg.topn.urls == 30
    assert cfg.dumps == () and unknown == []


@pytest.mark.parametrize("bad", ["VisitTimeout abc", "TopURLs x"])
def test_parse_conf_bad_numbers_warn_not_crash(bad):
    """Non-numeric values for numeric keywords are conf noise: the
    reference's atoi-style parse never aborts — warn and keep defaults."""
    cfg, unknown = parse_conf(bad)
    assert cfg.visit_timeout_s == 1800 and cfg.topn.urls == 30
    assert unknown == [bad.split()[0]]


def test_parse_conf_numeric_takes_first_token():
    """An inline comment after a number still parses (atoi semantics):
    'VisitTimeout 900 # 15min' -> 900, not a crash."""
    cfg, unknown = parse_conf("VisitTimeout 900 # 15min\nTopURLs 5 extra\n")
    assert cfg.visit_timeout_s == 900 and cfg.topn.urls == 5
    assert unknown == []


def test_parse_conf_valueless_lines_warn_not_crash():
    """A dangling keyword (no value) is conf noise: warn and continue
    like the reference — and never become an empty pattern that would
    substring-match everything."""
    cfg, unknown = parse_conf(
        "GroupURL\nIgnoreURL\nVisitTimeout\nTopURLs 7\n")
    assert sorted(unknown) == ["GroupURL", "IgnoreURL", "VisitTimeout"]
    assert cfg.lists.ignore_url == () and cfg.lists.group_url == ()
    assert cfg.topn.urls == 7


def test_parse_conf_dump_last_wins():
    """Dump* follows the same last-directive-wins override semantics as
    every scalar keyword; duplicates never double the dump plan."""
    cfg, _ = parse_conf("DumpURLs yes\nDumpURLs no\n")
    assert cfg.dumps == ()
    cfg, _ = parse_conf("DumpURLs yes\nDumpURLs yes\nDumpSites no\n")
    assert cfg.dumps == ("tools",)


def test_cli_conf_file_drives_pipeline(tmp_path, fixture_dir):
    """A conf file alone reshapes the CLI run: TopURLs caps the table,
    IgnoreURL drops records, GroupURL emits the grouped report, DumpURLs
    writes the full all_tools dump."""
    conf = tmp_path / "engine.conf"
    conf.write_text(
        "TopURLs 3\nIgnoreURL msg/*\nGroupURL py* python-tools\n"
        "DumpURLs yes\nBGColor #fff\n")
    out = str(tmp_path / "out")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_pipeline.py"),
         "--input", fixture_dir,
         "--output", out, "--conf", str(conf)],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"})
    assert res.returncode == 0, res.stderr[-2000:]
    assert "ignoring" in res.stdout and "BGColor" in res.stdout
    top = duckdb.sql(
        f"SELECT * FROM '{out}/reports/top_tools/*.parquet'").df()
    assert len(top) == 3                                  # TopURLs 3
    grouped = duckdb.sql(
        f"SELECT * FROM '{out}/reports/grouped_tools/*.parquet'").df()
    assert "python-tools" in grouped["group_name"].dropna().tolist()
    n_all = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/reports/all_tools/*.parquet'"
    ).fetchone()[0]
    assert n_all > 3                                      # full dump
    # IgnoreURL dropped msg/* turns before aggregation
    n_msg = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/by_role/*/*.parquet' "
        f"WHERE path LIKE 'msg/%'").fetchone()[0]
    assert n_msg == 0


def test_cli_overrides_conf_both_directions(tmp_path):
    """An explicit --visit-timeout overrides the conf file in both
    directions, 0 included (not treated as unset); absence of the flag
    defers to the conf."""
    from jobs.run_pipeline import resolve_config

    p = tmp_path / "w.conf"
    p.write_text("VisitTimeout 900\n")
    cfg, _ = resolve_config(str(p), None)
    assert cfg.visit_timeout_s == 900
    cfg, _ = resolve_config(str(p), 0)
    assert cfg.visit_timeout_s == 0
    p.write_text("VisitTimeout 0\n")
    cfg, _ = resolve_config(str(p), 2400)
    assert cfg.visit_timeout_s == 2400


def test_parse_conf_pagetype_searchengine_groupdomains():
    """Round-4 keyword surface: PageType accumulates patterns,
    SearchEngine accumulates (host, param) pairs with reference-style
    trailing '=' tolerated and 'q' defaulted, GroupDomains is numeric."""
    cfg, unknown = parse_conf(
        "PageType htm*\nPageType cgi\n"
        "SearchEngine eng-0.example q=\nSearchEngine other.example\n"
        "GroupDomains 2\n")
    assert cfg.page_types == ("htm*", "cgi")
    assert cfg.search_engines == (("eng-0.example", "q"),
                                  ("other.example", "q"))
    assert cfg.group_domains == 2 and unknown == []


def test_parse_conf_negative_numbers_warn_not_crash():
    """Negative numerics are conf noise (limit(-1) would crash at plan
    time; GroupDomains -2 would silently flip get_domain's direction)."""
    cfg, unknown = parse_conf("TopURLs -1\nGroupDomains -2\n")
    assert cfg.topn.urls == 30 and cfg.group_domains == 0
    assert sorted(unknown) == ["GroupDomains", "TopURLs"]


def test_parse_conf_pagetype_searchengine_inline_comments():
    """Inline '#' comments end PageType/SearchEngine lines instead of
    becoming match-everything patterns or corrupt params; re-listing a
    SearchEngine host is last-wins (a duplicate host in the broadcast
    dim would duplicate joined rows)."""
    cfg, _ = parse_conf(
        "PageType htm* # pages\n"
        "SearchEngine eng-1.example p= # the engine\n"
        "SearchEngine eng-1.example q=\n"
        "SearchEngine eng-2.example # param defaults\n")
    assert cfg.page_types == ("htm*",)
    assert cfg.search_engines == (("eng-1.example", "q"),
                                  ("eng-2.example", "q"))


def test_parse_conf_searchengine_comment_only_line():
    """A comment-only 'SearchEngine # ...' line must NOT register host
    '#': any non-empty cfg.search_engines replaces the dims-table engine
    dim in run_pipeline, so junk here would silently swap the real dim
    for a never-matching one (round-4 advice). Warn-and-continue, like
    the PageType branch."""
    cfg, unknown = parse_conf("SearchEngine # just a comment\n")
    assert cfg.search_engines == ()
    assert unknown == ["SearchEngine"]
    # and a comment line does not clobber previously-registered engines
    cfg2, _ = parse_conf("SearchEngine real.example q\n"
                         "SearchEngine # noise\n")
    assert cfg2.search_engines == (("real.example", "q"),)
