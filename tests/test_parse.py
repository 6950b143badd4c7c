from __future__ import annotations

from pyspark.sql import functions as F

from webalizer_spark.functions import GROK_FIELDS, apply_grok, sanitize
from webalizer_spark.operators.parse import parse_transcripts


def _grokked(transcripts, strategy):
    """Raw GROK_FIELDS of the sanitized text plus parse_ok, per turn."""
    key = ["conv_id", "turn_idx"]
    clean = transcripts.withColumn("text", sanitize(F.col("text")))
    raw = apply_grok(clean, "text", strategy).select(*key, *GROK_FIELDS)
    ok = parse_transcripts(transcripts, strategy).select(*key, "parse_ok")
    return raw.join(ok, key)


def test_grok_strategies_agree(spark, transcripts):
    """The pandas strategy equals the default split strategy row by row,
    keyed on (conv_id, turn_idx), on every raw field and on parse_ok."""
    split = _grokked(transcripts, "split").cache()
    pandas = _grokked(transcripts, "pandas").cache()
    try:
        by_ok = dict(split.groupBy("parse_ok").count().collect())
        assert set(by_ok) == {True, False}
        assert sum(by_ok.values()) == transcripts.count()
        assert split.exceptAll(pandas).count() == 0
        assert pandas.exceptAll(split).count() == 0
    finally:
        split.unpersist()
        pandas.unpersist()


def test_parse_ok_bad_split(spark, transcripts):
    parsed = parse_transcripts(transcripts)
    total = transcripts.count()
    n_ok = parsed.filter(F.col("parse_ok")).count()
    n_bad = parsed.filter(~F.col("parse_ok")).count()
    assert n_ok + n_bad == total
    # corruption rate ~1% (FIXTURES.md): every corrupt line and only
    # corrupt-ish lines route to the errors sink
    assert 0.003 < n_bad / total < 0.02


def test_per_turn_text_equality(spark, transcripts):
    """input_hint invariant: the datetime grokked out of `text` equals ts
    exactly, per turn, under stable (conv_id, turn_idx) ordering."""
    parsed = parse_transcripts(transcripts)
    assert parsed.filter("parse_ok and ts_text != ts").count() == 0
    assert parsed.filter("parse_ok and actor != role").count() == 0


def test_bytes_dash_is_zero(spark, transcripts):
    parsed = parse_transcripts(transcripts)
    dash = parsed.filter(F.col("text").rlike(r'" \d{3} - "'))
    assert dash.count() > 0
    assert dash.filter("parse_ok and nbytes != 0").count() == 0
