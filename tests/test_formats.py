"""Multi-format decode dispatch (S2): combined / squid / xferlog analogs
normalized to the canonical raw-field struct."""

from __future__ import annotations

from webalizer_spark.functions.formats import apply_grok_multi

LINES = [
    # combined (FIXTURES grammar)
    ('assistant - u7 [28/Feb/2024:11:42:11 +0000] "SAY /browser PROTO/1.1"'
     ' 206 29939 "proto://eng-1.example/?q=a+b" "claude/6.7 (linux)"',
     "combined",
     dict(actor="assistant", verb="SAY", path="browser", status_text="206",
          bytes_text="29939", auth_user="u7")),
    # squid-native analog: epoch.ms elapsed actor code/status bytes verb path user
    ("1709120531.123   250 conv-42 HIT/200 5120 CALL /python u3 -",
     "squid",
     dict(actor="conv-42", verb="CALL", path="/python", status_text="200",
          bytes_text="5120", auth_user="u3", dt_text="1709120531")),
    # FTP xferlog analog
    ("Wed Feb 28 11:42:11 2024 3 conv-9 4096 /data/file.bin b _ o r u9 ftp 0 * c",
     "xferlog",
     dict(actor="conv-9", bytes_text="4096", path="/data/file.bin",
          auth_user="u9")),
    # garbage
    ("total garbage line", "combined", dict(actor=None, status_text=None)),
]


def test_detect_and_extract(spark):
    df = spark.createDataFrame([(l,) for l, _, _ in LINES], "text string")
    rows = {r["text"]: r for r in apply_grok_multi(df).collect()}
    for line, fmt, fields in LINES:
        r = rows[line]
        assert r["log_format"] == fmt, line
        for k, v in fields.items():
            assert r[k] == v, f"{fmt}.{k}: {r[k]!r} != {v!r}"


import datetime as dt  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from webalizer_spark.operators.parse import parse_transcripts_multi  # noqa: E402

W3C_FIELDS = ("#Fields: date time c-ip cs-username cs-method cs-uri-stem "
              "sc-status sc-bytes cs(Referer) cs(User-Agent)")

MIXED = [
    ('alice - u7 [05/Jan/2024:10:00:00 +0000] "CALL /pytest PROTO/1.1" '
     '200 512 "proto://eng-1.example/?q=a+b" "claude/3.5 (linux)"'),
    "1704448800.123    45 10.0.0.1 TCP_HIT/200 2048 GET /api/fetch bob",
    ("Fri Jan  5 10:00:00 2024 3 host1 4096 /files/data.bin "
     "b _ o r carol ftp 0 * c"),
    "#Version: 1.0",
    W3C_FIELDS,
    ("2024-01-05 10:00:00 10.1.1.1 dave GET /w3c/page 200 128 "
     "http://ref.example/ w3cagent/1.0"),
    "1704448800.123 oops corrupt squid",
]


def _mixed_df(spark):
    return spark.createDataFrame(
        [("c1", i, "user", t, None, dt.datetime(2024, 1, 5, 10, 0, i))
         for i, t in enumerate(MIXED)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")


def test_multi_format_end_to_end_typed(spark):
    """S2 end-to-end: every format produces a REAL timestamp + typed
    fields + per-format parse_ok (round-1 gap: squid/xferlog never
    reassembled ts; W3C parser missing)."""
    out = {r["turn_idx"]: r
           for r in parse_transcripts_multi(_mixed_df(spark)).collect()}
    want_ts = dt.datetime(2024, 1, 5, 10, 0, 0)
    # combined
    assert out[0]["log_format"] == "combined" and out[0]["parse_ok"]
    assert out[0]["ts_text"] == want_ts and out[0]["status"] == 200
    # squid: epoch seconds -> timestamp; ms dropped (second granularity)
    assert out[1]["log_format"] == "squid" and out[1]["parse_ok"]
    assert out[1]["ts_text"] == want_ts
    assert out[1]["actor"] == "10.0.0.1" and out[1]["nbytes"] == 2048
    assert out[1]["auth_user"] == "bob" and out[1]["verb"] == "GET"
    # xferlog: Mon/dd/time/yyyy reassembled; verb/status exempt from
    # parse_ok (the format has none); xfertype NOT misread as agent
    assert out[2]["log_format"] == "xferlog" and out[2]["parse_ok"]
    assert out[2]["ts_text"] == want_ts
    assert out[2]["verb"] is None and out[2]["status"] is None
    assert out[2]["agent_str"] is None
    assert out[2]["auth_user"] == "carol" and out[2]["nbytes"] == 4096
    # w3c: #Fields-driven order; directives dropped entirely
    assert 3 not in out and 4 not in out
    assert out[5]["log_format"] == "w3c" and out[5]["parse_ok"]
    assert out[5]["ts_text"] == want_ts
    assert out[5]["actor"] == "10.1.1.1" and out[5]["auth_user"] == "dave"
    assert out[5]["referrer"] == "http://ref.example/"
    assert out[5]["agent_str"] == "w3cagent/1.0"
    # corrupt squid-shaped line routes bad, never errors
    assert out[6]["log_format"] == "squid" and not out[6]["parse_ok"]


def test_w3c_field_order_variants(spark):
    """#Fields order is honored per directive, incl. reordered fields
    and cs-bytes fallback; conflicting directives raise."""
    from webalizer_spark.functions.formats import w3c_field_order

    alt = ("#Fields: c-ip date time cs-method cs-uri-stem cs-bytes "
           "sc-status")
    df = spark.createDataFrame(
        [("c", 0, "u", alt, None, dt.datetime(2024, 1, 5)),
         ("c", 1, "u", "9.9.9.9 2024-01-05 10:00:00 GET /zz 777 201",
          None, dt.datetime(2024, 1, 5))],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    r = parse_transcripts_multi(df).collect()[0]
    assert r["actor"] == "9.9.9.9" and r["path"] == "/zz"
    assert r["nbytes"] == 777 and r["status"] == 201
    assert r["ts_text"] == dt.datetime(2024, 1, 5, 10, 0, 0)

    both = df.unionByName(spark.createDataFrame(
        [("c", 2, "u", W3C_FIELDS, None, dt.datetime(2024, 1, 5))],
        df.schema))
    import pytest
    with pytest.raises(ValueError, match="conflicting"):
        w3c_field_order(both)


def test_pipeline_grok_strategy_multi(spark, dims):
    """run_pipeline(grok_strategy='multi') flows a mixed-format table
    through parse -> aggregate; per-format rows land in the reports."""
    from webalizer_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, _mixed_df(spark), dims, grok_strategy="multi")
    spine = res.enriched
    assert spine.count() == 4  # 4 parse-ok rows (directives dropped)
    assert spine.filter(F.col("log_format") == "xferlog").count() == 1
    daily = res.reports["daily"].collect()
    assert sum(r["hits"] for r in daily) == 4
    assert res.errors.count() == 1  # the corrupt squid line
    res.unpersist()


def test_json_lines_parse(spark):
    """S2 JSON-lines: shape detection on '{', nginx AND generic key
    vocabularies, ISO-8601 + epoch-seconds timestamps, numeric or
    string-typed status/bytes, '-' -> NULL, malformed JSON routed bad —
    alongside a CLF row in the same table (mixed-format dispatch)."""
    import datetime as dt

    from webalizer_spark.operators.parse import parse_transcripts_multi

    rows = [
        '{"remote_addr":"10.0.0.1","remote_user":"alice",'
        '"time_iso8601":"2024-01-16T10:00:00Z","request_method":"GET",'
        '"request_uri":"/a/b.html","status":200,"body_bytes_sent":1234,'
        '"http_referer":"http://r.example/","http_user_agent":"curl/8"}',
        '{"ip":"10.0.0.2","ts":1705399200,"method":"POST","path":"/c",'
        '"status":"404","bytes":"99","user_agent":"-"}',
        '{"broken json',
        '10.0.0.3 - - [16/Jan/2024:10:00:00 +0000] '
        '"GET /clf HTTP/1.1" 200 7 "-" "UA"',
    ]
    df = spark.createDataFrame(
        [(str(i), i, "user", r, None, None) for i, r in enumerate(rows)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    out = {r["turn_idx"]: r for r in parse_transcripts_multi(df).collect()}

    nginx = out[0]
    assert nginx["log_format"] == "json" and nginx["parse_ok"]
    assert nginx["actor"] == "10.0.0.1" and nginx["auth_user"] == "alice"
    assert nginx["verb"] == "GET" and nginx["path"] == "/a/b.html"
    assert nginx["status"] == 200 and nginx["nbytes"] == 1234
    assert nginx["referrer"] == "http://r.example/"
    assert nginx["ts_text"] == dt.datetime(2024, 1, 16, 10, 0, 0)

    generic = out[1]
    assert generic["parse_ok"] and generic["actor"] == "10.0.0.2"
    assert generic["status"] == 404 and generic["nbytes"] == 99
    assert generic["agent_str"] is None          # '-' nullified
    assert generic["ts_text"] == dt.datetime(2024, 1, 16, 10, 0, 0)

    assert out[2]["log_format"] == "json" and not out[2]["parse_ok"]
    assert out[3]["log_format"] == "combined" and out[3]["parse_ok"]


def test_json_from_json_runs_once_per_row(spark):
    """The packed record binds the parsed map via a 1-element transform
    lambda: exactly ONE from_json in the plan, not one per key alias."""
    from webalizer_spark.operators.parse import parse_transcripts_multi

    df = spark.createDataFrame(
        [("c", 0, "user", '{"ip":"1.2.3.4"}', None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    plan = parse_transcripts_multi(df)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("from_json") == 1, plan



def test_alb_lines_parse(spark):
    """AWS ALB access logs: listener-type detection, client ip from
    client:port, verb/path from the quoted ABSOLUTE URL (query kept,
    authority stripped), the ELB's own status on 503-without-target
    lines, sent_bytes, quoted agents with spaces, trailing
    cipher/ARN/trace fields ignored, truncated lines -> all-NULL."""
    lines = [
        ('http 2024-01-02T10:20:30.186641Z app/lb/50dc 10.0.3.7:2817 '
         '10.0.0.1:80 0.000 0.001 0.000 200 200 34 366 '
         '"GET http://www.example.com:80/cart/e7?q=3 HTTP/1.1" '
         '"curl/7.46.0" - - arn:aws:elb:x "Root=1-abc" "-" "-" 0 '
         '2024-01-02T10:20:29.3Z "forward" "-" "-" "10.0.0.1:80" '
         '"200" "-" "-"',
         dict(actor="10.0.3.7", verb="GET", path="/cart/e7?q=3",
              status_text="200", bytes_text="366", dt_text="2024-01-02T10:20:30",
              agent_str="curl/7.46.0", referrer=None)),
        # target never responded: '-' target, -1 times, ELB's own 503
        ('https 2024-01-02T10:20:31.000001Z app/lb/50dc 10.0.3.8:443 '
         '- -1 -1 -1 503 - 10 0 "POST https://ex.com:443/ HTTP/2.0" '
         '"Mozilla/5.0 (X11; Linux)" ECDHE-RSA TLSv1.2',
         dict(actor="10.0.3.8", verb="POST", path="/", status_text="503",
              bytes_text="0", agent_str="Mozilla/5.0 (X11; Linux)")),
        ('h2 2024-01-02T10:bad truncated',
         dict(actor=None, verb=None, path=None, status_text=None)),
    ]
    df = spark.createDataFrame([(l,) for l, _ in lines], "text string")
    rows = {r["text"]: r for r in apply_grok_multi(df).collect()}
    for line, fields in lines:
        r = rows[line]
        assert r["log_format"] == "alb", line[:40]
        for k, v in fields.items():
            assert r[k] == v, f"alb.{k}: {r[k]!r} != {v!r}"


def test_haproxy_lines_parse(spark):
    """HAProxy `option httplog` syslog lines: 64-char-head detection
    (long hostnames push the tag past the 40-char window), client ip
    from client:port, accept date truncated past millis, negative
    error timers, logasap '+'-prefixed bytes, zero/one/two optional
    {header captures}, <BADREQ> request lines -> all-NULL (bad
    record)."""
    lines = [
        ('Feb 06 12:14:14 lb1.very-long-hostname.internal.example '
         'haproxy[14389]: 10.0.1.2:33317 [06/Feb/2009:12:14:14.655] '
         'http-in static/srv1 10/0/30/69/109 200 2750 - - ---- '
         '1/1/1/1/0 0/0 "GET /index.html HTTP/1.1"',
         dict(actor="10.0.1.2", verb="GET", path="/index.html",
              status_text="200", bytes_text="2750",
              dt_text="06/Feb/2009:12:14:14", referrer=None,
              agent_str=None)),
        # error row: negative timers, logasap '+' bytes, two captures
        ('Jan 03 09:00:01 lb0 haproxy[1000]: 10.9.8.7:51000 '
         '[03/Jan/2024:09:00:01.001] http-in be2/srv3 -1/-1/-1/-1/+30 '
         '503 +194 - - sC-- 3/3/1/1/0 1/0 {Mozilla/5.0|keep-alive} '
         '{text/html} "POST /api/v1?x=2 HTTP/1.1"',
         dict(actor="10.9.8.7", verb="POST", path="/api/v1?x=2",
              status_text="503", bytes_text="194",
              dt_text="03/Jan/2024:09:00:01")),
        ('Jan 03 09:00:02 lb0 haproxy[1000]: 10.9.8.7:51001 '
         '[03/Jan/2024:09:00:02.002] http-in be2/srv3 0/0/0/0/5 400 '
         '187 - - PR-- 1/1/0/0/0 0/0 "<BADREQ>"',
         dict(actor=None, verb=None, path=None, status_text=None)),
    ]
    df = spark.createDataFrame([(l,) for l, _ in lines], "text string")
    rows = {r["text"]: r for r in apply_grok_multi(df).collect()}
    for line, fields in lines:
        r = rows[line]
        assert r["log_format"] == "haproxy", line[:40]
        for k, v in fields.items():
            assert r[k] == v, f"haproxy.{k}: {r[k]!r} != {v!r}"



def test_parse_multi_fuzz_never_crashes(spark):
    """Fuzz invariant for the multi-format path: ARBITRARY lines —
    including ones that start like each grammar but break off — never
    raise; every row either parses (parse_ok with actor/path/ts/nbytes
    all present) or routes as a bad record. Runs as ONE Spark job per
    hypothesis example (lines batched into a single DataFrame)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from webalizer_spark.operators.parse import parse_transcripts_multi

    prefix = st.sampled_from([
        "", "{", '{"ts":', "http 2024-01-02T", "https 9999-99-99T",
        "1709120531.123 ", "Wed Feb 28 ", "#Fields: ", "2024-01-02 ",
        "a b c [", "h2 2024-01-02T10:20:30.1Z x ", "\x00\x01",
    ])
    body = st.text(
        alphabet=st.characters(codec="utf-8",
                               exclude_characters="\n\r"),
        max_size=80)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.tuples(prefix, body), min_size=1, max_size=40))
    def prop(pairs):
        lines = [(f"c{i}", i, "user", p + b, None, None)
                 for i, (p, b) in enumerate(pairs)]
        df = spark.createDataFrame(
            lines, "conv_id string, turn_idx int, role string,"
                   " text string, tool string, ts timestamp")
        rows = parse_transcripts_multi(df).collect()
        # W3C '#' directive rows are dropped, every other row comes back
        assert len(rows) == sum(not ln[3].startswith("#") for ln in lines)
        for r in rows:
            if r["parse_ok"]:
                assert r["actor"] is not None
                assert r["path"] is not None
                assert r["ts_text"] is not None
                assert r["nbytes"] is not None

    prop()


def test_json_iso8601_offset_forms(spark):
    """Round-5 advice: nginx time_iso8601 emits COLON offsets
    (+03:00) on non-UTC boxes — a bare ssX pattern NULLs them. All
    four public ISO-8601 offset shapes must parse to the same UTC
    instant."""
    import datetime as dt

    from webalizer_spark.operators.parse import parse_transcripts_multi

    forms = [
        "2024-01-16T10:00:00Z",          # UTC designator
        "2024-01-16T13:00:00+03:00",     # colon offset (nginx shape)
        "2024-01-16T13:00:00+03",        # hour-only offset
        "2024-01-16T06:30:00-03:30",     # negative half-hour offset
        "2024-01-16T13:00:00+0300",      # compact 4-digit offset
    ]
    rows = [f'{{"ip":"10.0.0.{i}","time":"{t}","method":"GET",'
            f'"path":"/x","status":200,"bytes":1}}'
            for i, t in enumerate(forms)]
    df = spark.createDataFrame(
        [(str(i), i, "user", r, None, None) for i, r in enumerate(rows)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    out = {r["turn_idx"]: r for r in parse_transcripts_multi(df).collect()}
    want = dt.datetime(2024, 1, 16, 10, 0, 0)
    for i in range(len(forms)):
        assert out[i]["parse_ok"], forms[i]
        assert out[i]["ts_text"] == want, forms[i]
