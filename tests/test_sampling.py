"""Deterministic mixture execution (operators/sampling.py)."""

from __future__ import annotations

from webalizer_spark.operators.sampling import materialize_mixture


def test_materialize_mixture_rules(spark):
    """Mixture execution: epochs=2.0 duplicates every doc exactly
    twice; epochs=0.3 keeps a deterministic ~30% once; epochs=0 drops
    the source; copy indices are dense 1..n; and the draw is
    reproducible run-to-run."""

    docs = spark.createDataFrame(
        [(i, ["dbl", "frac", "zero"][i % 3]) for i in range(3000)],
        "doc_id long, source string")
    weights = spark.createDataFrame(
        [("dbl", 2.0), ("frac", 0.3), ("zero", 0.0)],
        "source string, epochs double")
    out = materialize_mixture(docs, weights).toPandas()
    dbl = out[out.source == "dbl"]
    assert len(dbl) == 2000 and set(dbl["copy"]) == {1, 2}
    assert dbl.groupby("doc_id")["copy"].count().eq(2).all()
    frac = out[out.source == "frac"]
    assert (frac["copy"] == 1).all()
    assert 0.22 <= len(frac) / 1000 <= 0.38       # ~30%, hash-deterministic
    assert (out.source != "zero").all()
    again = materialize_mixture(docs, weights).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "copy"]].values))
    assert key(out) == key(again)
