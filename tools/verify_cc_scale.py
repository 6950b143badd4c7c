"""Scale-stability check for the connected-components dedup family at
sf0.1 (round-3 verdict item #5).

The graded oracles verify doc_dup_components / doc_near_dup_keep /
emb_near_dup_keep against a recursive-CTE transitive closure — correct,
but quadratic in closure size, so it exceeds any reasonable budget at
sf0.1 (10x). This tool closes that gap with a CHEAPER independent
oracle: it materializes the SAME edge sets (the shared _DUP_EDGES_CTE /
_EMB_EDGES_CTE from queries.py, so candidate generation + verification
are identical to the graded SQL) and then computes components by
iterative min-label materialization in DuckDB temp tables — O(rounds x
edges), rounds = component diameter — instead of O(closure^2).

The engine side runs the real operators (pointer-jumping
connected_min_label etc.) at sf0.1; both sides must agree exactly.

Usage: python tools/verify_cc_scale.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def iterative_components(con, edges_tbl: str, a: str, b: str) -> dict:
    """Min-label fixpoint over temp tables: v -> component min-id."""
    con.execute(f"""CREATE OR REPLACE TEMP TABLE sym AS
        SELECT {a} AS v, {b} AS u FROM {edges_tbl}
        UNION ALL SELECT {b}, {a} FROM {edges_tbl}""")
    con.execute("""CREATE OR REPLACE TEMP TABLE lbl AS
        SELECT v, LEAST(v, MIN(u)) AS label FROM sym GROUP BY v""")
    rounds = 0
    while True:
        rounds += 1
        con.execute("""CREATE OR REPLACE TEMP TABLE lbl2 AS
            SELECT s.v, LEAST(l.label, MIN(lu.label)) AS label
            FROM sym s
            JOIN lbl l ON l.v = s.v
            JOIN lbl lu ON lu.v = s.u
            GROUP BY s.v, l.label""")
        changed = con.sql(
            """SELECT COUNT(*) FROM lbl JOIN lbl2 USING (v)
               WHERE lbl.label <> lbl2.label""").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE lbl AS FROM lbl2")
        if changed == 0:
            break
        if rounds > 10_000:
            raise RuntimeError("min-label propagation did not converge")
    print(f"    converged in {rounds} rounds")
    return dict(con.sql("SELECT v, label FROM lbl").fetchall())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import duckdb

    from webalizer_spark import get_spark
    from webalizer_spark.queries import (
        _DUP_EDGES_CTE,
        _EMB_EDGES_CTE,
        QUERIES,
    )

    spark = get_spark(extra_confs={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    fails = 0

    # --- documents family -------------------------------------------------
    t0 = time.time()
    con.execute("CREATE OR REPLACE TEMP TABLE doc_edges AS "
                + _DUP_EDGES_CTE + " SELECT doc_a, doc_b FROM verified")
    n_edges = con.sql("SELECT COUNT(*) FROM doc_edges").fetchone()[0]
    print(f"doc edges: {n_edges} ({time.time()-t0:.1f}s)")
    labels = iterative_components(con, "doc_edges", "doc_a", "doc_b")

    t0 = time.time()
    got = {r["v"]: r["label"]
           for r in QUERIES["doc_dup_components"](spark, sf_dir).collect()}
    ok = got == labels
    print(f"doc_dup_components: {len(got)} rows, "
          f"{'PASS' if ok else 'FAIL'} ({time.time()-t0:.1f}s)")
    fails += 0 if ok else 1

    dropped = {v for v, lbl in labels.items() if lbl != v}
    expect_keep = {r[0] for r in con.sql(
        "SELECT doc_id FROM documents").fetchall()} - dropped
    t0 = time.time()
    got_keep = {r["doc_id"]
                for r in QUERIES["doc_near_dup_keep"](spark, sf_dir).collect()}
    ok = got_keep == expect_keep
    print(f"doc_near_dup_keep: {len(got_keep)} kept, "
          f"{'PASS' if ok else 'FAIL'} ({time.time()-t0:.1f}s)")
    fails += 0 if ok else 1

    # --- embeddings family ------------------------------------------------
    t0 = time.time()
    con.execute("CREATE OR REPLACE TEMP TABLE emb_edges AS WITH "
                + _EMB_EDGES_CTE + " SELECT va, vb FROM edges")
    n_edges = con.sql("SELECT COUNT(*) FROM emb_edges").fetchone()[0]
    print(f"emb edges: {n_edges} ({time.time()-t0:.1f}s)")
    labels = iterative_components(con, "emb_edges", "va", "vb")
    dropped = {v for v, lbl in labels.items() if lbl != v}
    expect_keep = {r[0] for r in con.sql(
        "SELECT vec_id FROM embeddings").fetchall()} - dropped
    t0 = time.time()
    got_keep = {r["vec_id"]
                for r in QUERIES["emb_near_dup_keep"](spark, sf_dir).collect()}
    ok = got_keep == expect_keep
    print(f"emb_near_dup_keep: {len(got_keep)} kept, "
          f"{'PASS' if ok else 'FAIL'} ({time.time()-t0:.1f}s)")
    fails += 0 if ok else 1

    print(f"== {3 - fails} pass / {fails} fail ==")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
