"""Regenerate PLANS.md: the committed physical-plan audit.

Captures `explain(formatted)` for the heaviest graded/ungraded paths so
plan regressions show up in review diffs, not just in test assertions
(tests/test_plans.py pins the invariants; this file shows the whole
plan). Run: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical-plan audit of the heaviest paths

Generated by `tools/dump_plans.py` (sf0.001 inputs — plan SHAPE is
scale-independent; AQE may still re-plan shuffle sides at runtime).
The invariants named in each section are pinned by tests/test_plans.py;
this file exists so a plan regression is visible in a review diff.
"""

SECTIONS = [
    ("tr2_sessions — parse -> sessionize -> entry/exit",
     "ONE hash Exchange on conv_id: the entry/exit aggregate reuses the "
     "session window's partitioning; the grok regex evaluates once.",
     lambda spark: _query(spark, "tr2_sessions")),
    ("tr2_top_tools — report ranking path",
     "Zero WindowExec: N-cut via TakeOrderedAndProject, rank via bounded "
     "broadcast self-join, share via scalar-aggregate broadcast.",
     lambda spark: _query(spark, "tr2_top_tools")),
    ("emb_ann_topk — LSH candidates + exact rank",
     "Literal-weight signatures (no Exchange carries vectors); candidate "
     "equi-join on (table, signature); per-query ranking window only.",
     lambda spark: _query(spark, "emb_ann_topk")),
    ("emb_semdedup_keep — cluster-bucketed semantic dedup",
     "Centroids broadcast, corpus shuffles once on cell_id, cosine only "
     "on within-cell candidates, CC pointer-jump tail.",
     lambda spark: _ungraded(spark, "emb_semdedup_keep")),
    ("doc_mixture_rows — mixture materialization",
     "Broadcast plan join + explode(sequence): NO corpus hash Exchange.",
     lambda spark: _ungraded(spark, "doc_mixture_rows")),
    ("evt_ip_class — CIDR longest-prefix classify",
     "Literal struct-array blocks: no join, no Exchange before the tiny "
     "rollup.",
     lambda spark: _ungraded(spark, "evt_ip_class")),
    ("doc_substring_dedup — any-length repeat removal",
     "Only 16-hex gram keys through the anchor Exchange (no text); "
     "min-struct keeper; one (id, starts-array) row per affected doc.",
     lambda spark: _ungraded(spark, "doc_substring_dedup")),
    ("doc_lm_ppl2 — interpolated bigram perplexity",
     "Windowless HOF pair explode (no text in any Exchange); count "
     "tables on natural keys (AQE-sized); unigram LM broadcast; "
     "decimal-sum per-doc collapse.",
     lambda spark: _ungraded(spark, "doc_lm_ppl2")),
    ("evt_profile — one-pass table profile (exact tier)",
     "ONE aggregate over the table (the exact multi-distinct Expand is "
     "the documented trade for oracle parity), then a narrow "
     "literal-array explode — no per-column scans.",
     lambda spark: _ungraded(spark, "evt_profile")),
]


def _query(spark, name):
    from webalizer_spark.queries import QUERIES

    return QUERIES[name](spark, SF)


def _ungraded(spark, name):
    # registry-agnostic: graded-window rotations move rows between
    # QUERIES and UNGRADED without changing what they compute
    from webalizer_spark.queries import QUERIES, UNGRADED

    return {**UNGRADED, **QUERIES}[name](spark, SF)


def main() -> None:
    from webalizer_spark import get_spark

    spark = get_spark(app_name="plans",
                      extra_confs={"spark.ui.showConsoleProgress": "false"})
    out = [HEADER]
    for title, note, fn in SECTIONS:
        df = fn(spark)
        plan = df._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution  # noqa: SLF001
            .ExplainMode.fromString("formatted"))
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan.rstrip()}\n```\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("PLANS.md written:", sum(len(s) for s in out), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
