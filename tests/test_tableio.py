"""TableIO merge: both branches of the S9 history upsert
[preserve.c ƒput_history].

The Iceberg branch cannot run live in-sandbox (no runtime jar), so its
contract is covered two ways: the generated MERGE INTO statement is
asserted verbatim, and the parquet fallback is checked to implement the
SAME upsert semantics (matched rows replaced, unmatched target rows kept,
unmatched source rows inserted) that MERGE INTO ... UPDATE SET * /
INSERT * defines — so the two branches are equivalent on any input.
"""

from __future__ import annotations

from webalizer_spark.sources.tables import TableIO, merge_sql


def test_merge_sql_statement():
    sql = merge_sql("lake.db.history", ["month_ts"])
    assert sql == (
        "MERGE INTO lake.db.history t USING _merge_src s "
        "ON t.month_ts = s.month_ts\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *")
    # composite keys AND-ed in order
    sql2 = merge_sql("c.t", ["a", "b"])
    assert "ON t.a = s.a AND t.b = s.b" in sql2


def test_parquet_merge_matches_merge_into_semantics(spark, tmp_path):
    io = TableIO(spark, base_path=str(tmp_path))
    old = spark.createDataFrame(
        [(1, "jan", 10), (2, "feb", 20), (3, "mar", 30)],
        "k int, name string, v int")
    io.merge(old, "history", ["k"])          # create-on-first-merge
    new = spark.createDataFrame(
        [(2, "feb2", 22), (4, "apr", 40)], "k int, name string, v int")
    io.merge(new, "history", ["k"])
    got = {r["k"]: (r["name"], r["v"])
           for r in io.read("history").collect()}
    # MATCHED -> UPDATE SET * (row 2 fully replaced), NOT MATCHED ->
    # INSERT * (row 4), untouched target rows survive (1, 3)
    assert got == {1: ("jan", 10), 2: ("feb2", 22),
                   3: ("mar", 30), 4: ("apr", 40)}


def test_parquet_merge_composite_key(spark, tmp_path):
    io = TableIO(spark, base_path=str(tmp_path))
    old = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "a", 20)], "k int, g string, v int")
    io.merge(old, "t2", ["k", "g"])
    new = spark.createDataFrame([(1, "b", 99), (2, "b", 21)],
                                "k int, g string, v int")
    io.merge(new, "t2", ["k", "g"])
    got = {(r["k"], r["g"]): r["v"] for r in io.read("t2").collect()}
    assert got == {(1, "a"): 10, (1, "b"): 99, (2, "a"): 20, (2, "b"): 21}
