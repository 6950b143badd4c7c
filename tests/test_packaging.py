"""Packaging claim made executable: the engine must run with the
package importable ONLY from a zip (the `spark-submit --py-files
engine.zip` deployment shape, SURVEY §7 M9) — not from the repo
checkout."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import sys
assert any(p.endswith("engine.zip") for p in sys.path), sys.path
import webalizer_spark
assert "engine.zip" in webalizer_spark.__file__, webalizer_spark.__file__

from pyspark.sql import functions as F

from webalizer_spark import get_spark
from webalizer_spark.operators.parse import parse_transcripts
from webalizer_spark.operators.sessionize import sessionize

spark = get_spark(app_name="zip_pkg_test", shuffle_partitions=2)
line = ('actor0 - - [01/Feb/2024:10:00:0{i} +0000] '
        '"GET /t/x PROTO/1.1" 200 10 "-" "a/1.0 (os)"')
rows = [("c1", i, "user", line.format(i=i), None, None) for i in range(3)]
df = spark.createDataFrame(
    rows, "conv_id string, turn_idx int, role string, text string,"
          " tool string, ts timestamp")
parsed = parse_transcripts(df)
sess = sessionize(parsed.withColumn("ts", F.col("ts_text")))
n_ok = parsed.filter("parse_ok").count()
n_sessions = sess.filter("is_new_session").count()
print(f"ZIPRUN ok={n_ok} sessions={n_sessions}")
"""


def test_engine_runs_from_zip_only(tmp_path):
    zip_path = tmp_path / "engine.zip"
    pkg = os.path.join(REPO, "webalizer_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))

    driver = tmp_path / "driver.py"
    driver.write_text(_DRIVER)
    env = {**os.environ, "PYTHONPATH": str(zip_path),
           "SPARK_GRAFT_CPUS": "2"}
    out = subprocess.run(
        [sys.executable, str(driver)], capture_output=True, text=True,
        timeout=300, cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIPRUN ok=3 sessions=1" in out.stdout


def test_driver_import_path_registers_every_query():
    """__spark_entry__ imports queries_synth BEFORE queries, which triggers
    a circular import: queries.py finishes while queries_synth is still
    empty, so its 16 tr2_* rows register last. The registry must still
    hold all 50 graded queries, each with its oracle SQL."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "import __spark_entry__ as E\n"
        "q, o = E.queries(), E.oracle_sql()\n"
        "assert len(q) == 50 and list(q) == list(o), (len(q), len(o))\n"
        "assert sum(n.startswith('tr2_') for n in q) == 16, sorted(q)\n"
        % REPO)
    r = subprocess.run([sys.executable, "-c", code],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-1000:]


def _py_files():
    for root, dirs, files in os.walk(REPO):
        # skip VCS, caches and generated data (.git, _gen, __pycache__)
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _foreign_aliases(tree, origins: dict) -> set[str]:
    """Names a file binds to modules from outside the repo (``pq`` in
    ``import pyarrow.parquet as pq``). ``origins`` caches each top-level
    module's file across calls."""
    import ast
    import importlib.util

    def foreign(module: str) -> bool:
        top = module.split(".")[0]
        if top not in origins:
            spec = importlib.util.find_spec(top)
            origins[top] = spec.origin if spec else None
        origin = origins[top]
        return origin is not None and not origin.startswith(REPO + os.sep)

    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out |= {a.asname or a.name.split(".")[0]
                    for a in n.names if foreign(a.name)}
        elif (isinstance(n, ast.ImportFrom) and not n.level
              and foreign(n.module)):
            out |= {a.asname or a.name for a in n.names}
    return out


def test_every_engine_name_is_referenced():
    """Dead-code guard: every top-level function, class and assignment in
    webalizer_spark/ is loaded (by name, attribute or import) somewhere in
    the repo's Python outside its own definition. Decorated functions are
    exempt: a decorator such as the query registry's @q(...) is their
    reference. Two things do not count as a load: a package __init__.py
    re-exporting the name, and an attribute read off a module from
    outside the repo (pyarrow's ``pq.<name>`` is not a use of an engine
    function called ``<name>``)."""
    import ast

    pkg = os.path.join(REPO, "webalizer_spark")
    defined = []   # (name, path, top-level statement index)
    loaded = {}    # name -> {(path, top-level statement index)}
    origins = {}
    for path in _py_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        in_pkg = path.startswith(pkg + os.sep)
        reexports = in_pkg and os.path.basename(path) == "__init__.py"
        foreign = _foreign_aliases(tree, origins)
        for i, stmt in enumerate(tree.body):
            if in_pkg:
                if isinstance(stmt, ast.ClassDef) or (
                        isinstance(stmt, (ast.FunctionDef,
                                          ast.AsyncFunctionDef))
                        and not stmt.decorator_list):
                    defined.append((stmt.name, path, i))
                targets = (stmt.targets if isinstance(stmt, ast.Assign)
                           else [stmt.target]
                           if isinstance(stmt, ast.AnnAssign) else [])
                for t in targets:
                    for n in ast.walk(t):
                        if (isinstance(n, ast.Name) and n.id
                                not in ("__all__", "__version__")):
                            defined.append((n.id, path, i))
            for n in ast.walk(stmt):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                    name = n.id
                elif isinstance(n, ast.Attribute) and not (
                        isinstance(n.value, ast.Name)
                        and n.value.id in foreign):
                    name = n.attr
                elif isinstance(n, ast.alias) and not reexports:
                    name = n.name.rsplit(".", 1)[-1]
                else:
                    continue
                loaded.setdefault(name, set()).add((path, i))
    dead = sorted(
        f"{os.path.relpath(path, pkg)}:{name}"
        for name, path, i in defined
        if not loaded.get(name, set()) - {(path, i)})
    assert dead == [], dead
