from __future__ import annotations


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_spans_semantics(spark):
    """C4-style span dedup on hand-built docs: the FIRST occurrence
    (by doc_id, span_idx) survives, later copies vanish — within a doc
    and across docs — the <n tail always survives, and docs shorter
    than n pass through untouched."""
    from webalizer_spark.operators.quality import (
        dedup_spans,
        duplicate_spans,
    )

    df = _docs(spark, [
        # doc 1: span "a b" repeated twice + tail "t"
        (1, "a b a b t"),
        # doc 2: copies doc 1's span -> removed here, kept there
        (2, "a b z z"),
        # doc 3: unique spans only
        (3, "p q r s"),
        # doc 4: shorter than n
        (4, "x"),
    ])
    rm = {(r["doc_id"], r["span_idx"])
          for r in duplicate_spans(df, n=2).collect()}
    assert rm == {(1, 1), (2, 0)}
    out = {r["doc_id"]: r for r in dedup_spans(df, n=2).collect()}
    assert out[1]["text"] == "a b t"
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["text"] == "z z"
    assert out[3]["text"] == "p q r s"
    assert out[3]["n_spans_removed"] == 0
    assert out[4]["text"] == "x"

    # all-spans-removed doc rebuilds to the empty string, not NULL
    df2 = _docs(spark, [(1, "a b"), (2, "a b")])
    out2 = {r["doc_id"]: r["text"]
            for r in dedup_spans(df2, n=2).collect()}
    assert out2 == {1: "a b", 2: ""}


def test_duplicate_spans_shuffles_keys_not_text(spark):
    """The candidate shuffle carries only (id, idx, 16-hex key) — the
    corpus text column never enters an Exchange on the decision path."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from webalizer_spark.operators.quality import duplicate_spans
    plan = duplicate_spans(df, n=8)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_lm_perplexity_known_values(spark):
    """Unigram LM on a 2-doc corpus, checked against hand-computed
    add-alpha probabilities, including the UNK fallback for a token
    the LM never saw."""
    import math

    from webalizer_spark.operators.quality import (
        lm_perplexity,
        unigram_logprobs,
    )

    train = _docs(spark, [(1, "a a b"), (2, "b c")])
    # counts: a=2 b=2 c=1, total=5, vocab=3; denom = 5 + .5*4 = 7
    lm = unigram_logprobs(train)
    got = {r["token"]: r["logp"] for r in lm.collect()}
    assert abs(got["a"] - math.log(2.5 / 7)) < 1e-12
    assert abs(got["c"] - math.log(1.5 / 7)) < 1e-12
    assert abs(got[None] - math.log(0.5 / 7)) < 1e-12

    score = _docs(spark, [(9, "a c zz")])      # zz is OOV -> UNK logp
    row = lm_perplexity(score, lm=lm).collect()[0]
    expect = -(round(math.log(2.5 / 7), 6) + round(math.log(1.5 / 7), 6)
               + round(math.log(0.5 / 7), 6))
    assert row["ntok"] == 3
    assert abs(row["nll"] - round(expect, 6)) < 1e-9
    assert abs(row["ppl"] - round(math.exp(expect / 3), 6)) < 1e-9


def test_lm_perplexity_no_text_through_exchange(spark):
    """The scoring path explodes tokens WITHOUT the text column and
    broadcasts the LM: no Exchange carries corpus text, and the per-doc
    collapse is the only wide stage."""
    from webalizer_spark.operators.quality import lm_perplexity
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = lm_perplexity(df)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_mixing_weights_semantics(spark):
    """Mixture planning rules: un-normalized priorities normalize to
    shares; the max-epochs cap binds for over-demanded small sources
    (realized < desired); sources absent from targets mix at zero; and
    realized shares sum to 1."""
    from webalizer_spark.operators.quality import mixing_weights

    docs = spark.createDataFrame(
        [(i, "tok " * (10 if i % 3 == 0 else 500)
          + "end", "small" if i % 3 == 0 else
          ("untargeted" if i % 3 == 1 else "big"))
         for i in range(30)],
        "doc_id long, text string, source string")
    targets = spark.createDataFrame(
        [("small", 3.0), ("big", 1.0)],   # un-normalized priorities
        "source string, target_share double")
    out = {r["source"]: r.asDict()
           for r in mixing_weights(docs, targets, budget_tokens=10_000,
                                   max_epochs=2.0).collect()}
    assert abs(out["small"]["target_share"] - 0.75) < 1e-9
    assert abs(out["big"]["target_share"] - 0.25) < 1e-9
    # small: desired 7500 tokens >> available (10 docs * 11 tok) -> cap
    assert out["small"]["epochs"] == 2.0
    assert out["small"]["realized_tok"] == 2 * out["small"]["available_tok"]
    assert out["small"]["realized_tok"] < out["small"]["desired_tok"]
    # big is under-demanded -> uncapped, realized == desired (rounded)
    assert out["big"]["epochs"] < 2.0
    assert abs(out["big"]["realized_tok"] - out["big"]["desired_tok"]) <= 1
    # untargeted mixes at zero
    assert out["untargeted"]["target_share"] == 0.0
    assert out["untargeted"]["epochs"] == 0.0
    assert out["untargeted"]["realized_tok"] == 0
    assert abs(sum(r["realized_share"] for r in out.values()) - 1.0) < 1e-6


def test_pagerank_matches_dense_reference(spark):
    """PageRank on a small graph matches a dense numpy power iteration
    with dangling redistribution (tolerance covers the operator's 6dp
    contribution rounding), total mass stays ~1, and a dangling node
    still receives and donates rank."""
    import numpy as np

    from webalizer_spark.operators.quality import pagerank

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("d", "a"), ("c", "e")]          # e: dangling (no out-edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, n_iters=8).collect()}

    names = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(names)}
    n = len(names)
    out = np.zeros(n)
    m = np.zeros((n, n))
    for s, d in edges:
        m[idx[d], idx[s]] += 1
        out[idx[s]] += 1
    col = np.divide(m, out, out=np.zeros_like(m), where=out > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        dang = r[out == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (col @ r + dang / n)
    for name in names:
        assert abs(got[name] - r[idx[name]]) < 5e-5, name
    assert abs(sum(got.values()) - 1.0) < 1e-3
    assert got["e"] > (1 - 0.85) / n      # dangling node still scores


def test_normalize_text_rules(spark):
    """NFC composes combining sequences and keeps compatibility forms,
    C0/C1 controls strip while tab/newline collapse as whitespace,
    `changed` marks only rewritten rows, and NULL text passes
    through."""
    from webalizer_spark.operators.quality import normalize_text

    docs = spark.createDataFrame(
        [(1, "éclair  stuffed"),        # combining acute + ws run
         (2, "clean text"),
         (3, "ctl\x01\x02here"),
         (4, "ﬁne ligature"),            # ﬁ — a compatibility form
         (5, None),
         (6, "c1\x85ctl")],              # U+0085 NEL, a C1 control
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert out[1]["text"] == "éclair stuffed" and out[1]["changed"]
    assert out[2]["text"] == "clean text" and not out[2]["changed"]
    assert out[3]["text"] == "ctlhere" and out[3]["changed"]
    assert out[4]["text"] == "ﬁne ligature"    # NFC keeps ligature
    assert not out[4]["changed"]
    assert out[5]["text"] is None and not out[5]["changed"]
    # C1 controls (U+0085 NEL and friends) strip per the C0/C1 contract
    assert out[6]["text"] == "c1ctl" and out[6]["changed"]


def test_normalize_text_idempotent(spark):
    """Normalization is a projection: applying the pass to its own
    output changes nothing (NFC is idempotent, the collapse and strip
    leave no residue), so changed=False on every second-pass row."""
    from webalizer_spark.operators.quality import normalize_text

    docs = spark.createDataFrame(
        [(1, "éclair  x\x01 ligature ﬁ end\t"),
         (2, "plain"),
         (3, None)],
        "doc_id long, text string")
    once = normalize_text(docs)
    twice = normalize_text(once)
    rows = {r["doc_id"]: r for r in twice.collect()}
    assert not any(r["changed"] for r in rows.values())
    first = {r["doc_id"]: r["text"] for r in once.collect()}
    assert {k: v["text"] for k, v in rows.items()} == first


def test_tf_idf_weights(spark):
    """Every (doc, term) pair gets its exact tf and df, hapax terms
    included; idf is the smoothed form."""
    import math

    from webalizer_spark.operators.quality import tf_idf

    docs = _docs(spark, [(1, "apple banana apple"),
                         (2, "banana cherry"),
                         (3, "banana")])
    out = {(r["doc_id"], r["term"]): r for r in tf_idf(docs).collect()}
    assert set(out) == {(1, "apple"), (1, "banana"), (2, "banana"),
                        (2, "cherry"), (3, "banana")}
    assert out[(1, "banana")]["tf"] == 1 and out[(1, "banana")]["df"] == 3
    expect = round(1 * (math.log((3 + 1) / (3 + 1)) + 1.0), 6)
    assert out[(3, "banana")]["tfidf"] == expect   # idf = 1 at df == N
    assert out[(1, "apple")]["tf"] == 2 and out[(1, "apple")]["df"] == 1
    expect = round(2 * (math.log((3 + 1) / (1 + 1)) + 1.0), 6)
    assert out[(1, "apple")]["tfidf"] == expect


def test_lm_perplexity_rejects_lm_without_unk(spark):
    """Round-5 advice: a caller-supplied lm with no NULL-token row used
    to crossJoin an empty frame and silently drop every doc; it must
    raise instead."""
    import pytest

    from webalizer_spark.operators.quality import lm_perplexity

    bad_lm = spark.createDataFrame(
        [("a", 0.5), ("b", -1.0)], "token string, logp double")
    docs = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="UNK"):
        lm_perplexity(docs, lm=bad_lm)


def test_dedup_substrings_any_length_semantics(spark):
    """ExactSubstr keeper semantics on a hand-checked corpus: the
    corpus-first occurrence of a repeat survives intact; later
    occurrences vanish WHOLESALE whatever their length (any-length, not
    span-aligned); intra-doc repeats drop their second copy; docs
    shorter than min_len, NULL docs and clean docs pass through."""
    from webalizer_spark.operators.quality import dedup_substrings

    rows = [
        (1, "a b x1 x2 x3 x4 x5 x6 c d"),   # first occurrence (6-token run)
        (2, "q x1 x2 x3 x4 x5 x6 r"),        # cross-doc repeat -> removed
        (3, "x1 x2 x3 x4 x5 x6 m x1 x2 x3 x4 x5 x6"),  # both covered (keeper=1)
        (4, "no dups here at all"),
        (5, None),
        (6, "x1 x2 x3"),                     # shorter than min_len
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dedup_substrings(df, min_len=4).collect()}
    assert out[1]["text"] == rows[0][1] and out[1]["n_tokens_removed"] == 0
    # the repeat is 6 tokens long with min_len=4: ALL 6 removed
    assert out[2]["text"] == "q r" and out[2]["n_tokens_removed"] == 6
    assert out[3]["text"] == "m" and out[3]["n_tokens_removed"] == 12
    assert out[4]["n_tokens_removed"] == 0
    assert out[5]["text"] is None and out[5]["n_tokens_removed"] == 0
    assert out[6]["text"] == "x1 x2 x3" and out[6]["n_tokens_removed"] == 0


def test_dedup_substrings_intra_doc_keeper(spark):
    """A repeat that exists ONLY within one doc keeps its first copy."""
    from webalizer_spark.operators.quality import dedup_substrings

    df = spark.createDataFrame(
        [(7, "k1 k2 k3 k4 z k1 k2 k3 k4")], "doc_id int, text string")
    row = dedup_substrings(df, min_len=4).collect()[0]
    assert row["text"] == "k1 k2 k3 k4 z"
    assert row["n_tokens_removed"] == 4


def test_dedup_substrings_no_text_through_anchor_exchange(spark):
    """The gram-key groupBy is the anchor Exchange: it must carry only
    (id, int, 16-hex key) — never the text column (the 100 TB
    constraint for sliding-window dedup)."""
    from webalizer_spark.operators.quality import dedup_substrings

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = dedup_substrings(df, min_len=16)._jdf.queryExecution() \
        .executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_profile_table_semantics(spark):
    """profile_table: null counting, exact distincts and the min/max
    render policy (double -> DECIMAL(18,6) string)."""
    from webalizer_spark.operators.quality import profile_table

    rows = [(1, 2.5, "a"), (2, None, "b"), (3, 0.1234567, "b"),
            (None, 2.5, None)]
    df = spark.createDataFrame(rows, "id bigint, score double, tag string")
    prof = {r["column_name"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "score", "tag"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert prof["id"]["n_nulls"] == 1 and prof["id"]["n_distinct"] == 3
    assert prof["score"]["n_nulls"] == 1 and prof["score"]["n_distinct"] == 2
    # 7th decimal rounds away under the 6dp policy
    assert prof["score"]["min_val"] == "0.123457"
    assert prof["score"]["max_val"] == "2.500000"
    assert prof["tag"]["min_val"] == "a" and prof["tag"]["max_val"] == "b"


def test_bigram_perplexity_semantics(spark):
    """lm_perplexity_bigram vs a from-scratch numpy re-derivation on a
    tiny corpus: doc-initial tokens score unigram-only, seen bigrams
    get the interpolated conditional, unseen bigrams fall to the
    smoothing floor; word order MATTERS (the property unigram
    perplexity lacks)."""
    import math

    import pytest

    from webalizer_spark.operators.quality import lm_perplexity_bigram

    rows = [(1, "a b a b"), (2, "b a b a"), (3, "a a b b")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in lm_perplexity_bigram(docs).collect()}

    toks = {i: t.split(" ") for i, t in rows}
    cnt = {}
    for t in toks.values():
        for w in t:
            cnt[w] = cnt.get(w, 0) + 1
    total, vocab, alpha, lam = sum(cnt.values()), len(cnt), 0.5, 0.8
    vw, v = {}, {}
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            vw[(a, b)] = vw.get((a, b), 0) + 1
            v[a] = v.get(a, 0) + 1

    def p_uni(w):
        return math.exp(math.log(
            (cnt[w] + alpha) / (total + alpha * (vocab + 1))))

    for did, t in toks.items():
        s = 0
        for i, w in enumerate(t):
            if i == 0:
                p = p_uni(w)
            else:
                pb = ((vw.get((t[i - 1], w), 0) + alpha)
                      / (v.get(t[i - 1], 0) + alpha * (vocab + 1)))
                p = lam * pb + (1 - lam) * p_uni(w)
            s += round(math.log(p), 6)
        nll = round(-s, 6)
        assert got[did]["ntok"] == len(t)
        assert got[did]["nll"] == pytest.approx(nll, abs=2e-6)
        assert got[did]["ppl"] == pytest.approx(
            round(math.exp(nll / len(t)), 6), abs=2e-6)

    # word salad: same unigram distribution, scrambled order -> higher
    # bigram perplexity than the naturally ordered corpus majority
    docs2 = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a b"), (3, "b b a a")],
        "doc_id bigint, text string")
    g2 = {r["doc_id"]: r["ppl"] for r in lm_perplexity_bigram(docs2).collect()}
    assert g2[3] > g2[1]


def test_pii_stats_chain_order_and_counts(spark):
    """pii_stats counts in chain order on the progressively-replaced
    text: each pattern counts its matches, which then become its
    placeholder, so an email's host is NOT re-counted by later rules.
    Multiple spans per doc count individually, NULL text counts zero
    everywhere, and every REDACT_PATTERNS shape is pinned: each PII
    kind counts once in its own column, while the bare digit runs log
    corpora are full of (epoch millis, numeric ids, compact
    timestamps) count nothing."""
    from webalizer_spark.operators.quality import pii_stats

    rows = [
        (1, "mail a@b.co and c@d.org plus ip 10.0.0.1"),
        (2, "card 4111 1111 1111 1111 then ssn 123-45-6789"),
        (3, None),
        (4, "clean text with number 20240201100000"),
        (10, "contact me at alice.smith+x@example.co.uk thanks"),
        (11, "server 192.168.1.200 responded"),
        (12, "card 4111 1111 1111 1111 exp 12/26"),
        (13, "call +1 (555) 123-4567 now"),
        (14, "ssn 123-45-6789 on file"),
        (15, "nothing sensitive here at all"),
        (20, "epoch 1706782800000 ms"),
        (21, "order id 123456789"),
        (22, "ts 20240201100000 compact"),
        (23, "bytes 4096 status 200"),
        (24, "contiguous card 4111111111111111 though"),
        (25, "local phone (555) 123-4567 though"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    assert (got[1]["n_email"], got[1]["n_ip"]) == (2, 1)
    assert got[1]["n_pii"] == 3 and got[1]["has_pii"]
    assert (got[2]["n_card"], got[2]["n_ssn"]) == (1, 1)
    assert got[3]["n_pii"] == 0 and not got[3]["has_pii"]
    # compact timestamps must NOT look like cards (the CARD rule's
    # network-prefix guard)
    assert got[4]["n_pii"] == 0
    for did, col in ((10, "n_email"), (11, "n_ip"), (12, "n_card"),
                     (13, "n_phone"), (14, "n_ssn")):
        assert got[did][col] == 1 and got[did]["n_pii"] == 1, got[did]
    for did in (15, 20, 21, 22, 23):
        assert got[did]["n_pii"] == 0 and not got[did]["has_pii"], got[did]
    assert got[24]["n_card"] == 1
    assert got[25]["n_phone"] == 1


def test_profile_table_wide_double_render(spark):
    """Review regression: epoch-millis-scale doubles (~1.7e12) must
    render, not overflow the decimal cast."""
    from webalizer_spark.operators.quality import profile_table

    df = spark.createDataFrame([(1, 1.7e12), (2, 2.5)],
                               "id bigint, v double")
    prof = {r["column_name"]: r for r in profile_table(df).collect()}
    assert prof["v"]["max_val"] == "1700000000000.000000"
    assert prof["v"]["min_val"] == "2.500000"


def test_column_top_values_semantics(spark):
    """column_top_values: per-column count-desc value-asc ranking,
    NULL counts as a value (and sorts first among ties), k cuts,
    unknown/empty columns refuse."""
    import pytest

    from webalizer_spark.operators.quality import column_top_values

    rows = [("a", 1), ("a", 1), ("b", 1), (None, 2), (None, 2)]
    df = spark.createDataFrame(rows, "tag string, v bigint")
    got = [(r["column_name"], r["value"], r["cnt"], r["rnk"])
           for r in column_top_values(df, ["tag", "v"], k=2)
           .orderBy("column_name", "rnk").collect()]
    assert got == [
        ("tag", "a", 2, 1), ("tag", None, 2, 2),   # NULL ties, a < NULL?
        ("v", "1", 3, 1), ("v", "2", 2, 2),
    ] or got == [
        ("tag", None, 2, 1), ("tag", "a", 2, 2),
        ("v", "1", 3, 1), ("v", "2", 2, 2),
    ]
    # pin the actual NULL placement so the oracle and engine stay in
    # lockstep: Spark asc() is NULLS FIRST
    assert got[0] == ("tag", None, 2, 1)

    with pytest.raises(ValueError, match="unknown"):
        column_top_values(df, ["nope"])
    with pytest.raises(ValueError, match="at least one"):
        column_top_values(df, [])
