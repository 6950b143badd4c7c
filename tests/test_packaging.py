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

spark = get_spark(app_name="zip_pkg_test",
                  extra_confs={"spark.sql.shuffle.partitions": "2"})
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


def _repo_module(dotted: str) -> bool:
    """Whether a dotted import path names a module file of this repo."""
    base = os.path.join(REPO, *dotted.split("."))
    return (os.path.isfile(base + ".py")
            or os.path.isfile(os.path.join(base, "__init__.py")))


def _module_aliases(tree) -> set[str]:
    """Names a file binds to the repo's own modules by an import: ``D``
    in ``from webalizer_spark.operators import dedup as D``, ``E`` in
    ``import __spark_entry__ as E``, ``webalizer_spark`` in ``import
    webalizer_spark.queries``."""
    import ast

    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                bound = a.name if a.asname else a.name.split(".")[0]
                if _repo_module(bound):
                    out.add(a.asname or bound)
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            out |= {a.asname or a.name for a in n.names
                    if _repo_module(f"{n.module}.{a.name}")}
    return out


# Engine names that only tests load, kept on purpose: ROADMAP item 5
# either gives operators/equality.py a contract use (checking the errors
# sink's text per turn) or deletes it.
_TEST_ONLY_NAMES = ("operators/equality.py:drill_down",
                    "operators/equality.py:per_turn_text_equal")


def test_every_engine_name_is_referenced():
    """Dead-code guard: every top-level function, class and assignment in
    webalizer_spark/ is loaded (by name, attribute or import) somewhere in
    the repo's Python outside its own definition and outside any tests/
    directory: a name only a test calls is not used by the engine, so it
    is dead unless _TEST_ONLY_NAMES lists it. Decorated functions are
    exempt: a decorator such as the query registry's @q(...) is their
    reference. A package __init__.py re-exporting the name does not count
    as a load, and ``x.<name>`` counts only when ``x`` is bound to one of
    the repo's modules by an import: pyarrow's ``pq.write_table`` or a
    local ``writer.write_table(...)`` is not a use of an engine function
    called ``write_table``."""
    import ast

    pkg = os.path.join(REPO, "webalizer_spark")
    defined = []   # (name, path, top-level statement index)
    loaded = {}    # name -> {(path, top-level statement index)}
    for path in _py_files():
        if "tests" in os.path.relpath(path, REPO).split(os.sep):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        in_pkg = path.startswith(pkg + os.sep)
        reexports = in_pkg and os.path.basename(path) == "__init__.py"
        modules = _module_aliases(tree)
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
                elif isinstance(n, ast.Attribute):
                    root = n.value
                    while isinstance(root, ast.Attribute):
                        root = root.value
                    if not (isinstance(root, ast.Name)
                            and root.id in modules):
                        continue
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
    assert dead == sorted(_TEST_ONLY_NAMES), dead


# Parameter defaults that may go unset outside tests, kept on purpose:
# the hot-key caps and their pass-throughs guard the dedup self-joins
# against pathological input (tools/bench_slope_capped.py sets the first
# three), and ROADMAP item 5 decides the fate of operators/equality.py
# as a whole.
_UNSET_DEFAULTS_KEPT = (
    "operators/dedup.py:lsh_candidate_pairs.max_bucket_size",
    "operators/dedup.py:simhash_pairs.max_block_freq",
    "operators/dedup.py:winnow_copy_pairs.max_fp_freq",
    "operators/dedup.py:near_dup_remove.max_bucket_size",
    "operators/similarity.py:near_dup_remove_lsh.max_bucket_size",
    "operators/similarity.py:semantic_dedup.max_cell_size")


def test_every_default_parameter_is_set():
    """Option guard: every defaulted parameter of a top-level function in
    webalizer_spark/ is set, by keyword or by position, by some call
    outside tests/. A default that no caller overrides is one
    configuration dressed up as an option; it belongs in the body as a
    constant. A call matches by the function's name, bare or as
    ``x.<name>`` with ``x`` bound to one of the repo's modules, and
    ``partial(f, ...)`` counts as a call of ``f``."""
    import ast

    pkg = os.path.join(REPO, "webalizer_spark")
    params = {}   # function name -> [(qualified name, name, index|None)]
    calls = {}    # function name -> [(n positional, starred, keywords, at)]
    for path in _py_files():
        if "tests" in os.path.relpath(path, REPO).split(os.sep):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, pkg)
        if (path.startswith(pkg + os.sep)
                and rel != os.path.join("operators", "equality.py")):
            for fn in tree.body:
                if not isinstance(fn, (ast.FunctionDef,
                                       ast.AsyncFunctionDef)):
                    continue
                a = fn.args
                pos = a.posonlyargs + a.args
                for i, arg in enumerate(pos[len(pos) - len(a.defaults):],
                                        len(pos) - len(a.defaults)):
                    params.setdefault(fn.name, []).append(
                        (f"{rel}:{fn.name}.{arg.arg}", arg.arg, i))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        params.setdefault(fn.name, []).append(
                            (f"{rel}:{fn.name}.{arg.arg}", arg.arg, None))
        modules = _module_aliases(tree)

        def callee(func):
            if isinstance(func, ast.Name):
                return func.id
            if isinstance(func, ast.Attribute):
                root = func.value
                while isinstance(root, ast.Attribute):
                    root = root.value
                if isinstance(root, ast.Name) and root.id in modules:
                    return func.attr
            return None

        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            args = n.args
            name = callee(n.func)
            if name == "partial" and args:
                name, args = callee(args[0]), args[1:]
            if name is None:
                continue
            starred = any(isinstance(x, ast.Starred) for x in args)
            calls.setdefault(name, []).append(
                (len(args), starred, {k.arg for k in n.keywords},
                 f"{path}:{n.lineno}"))
    splats = [at for name in params for *_, kws, at in calls.get(name, ())
              if None in kws]
    # a **kwargs splat hides which parameters the call sets
    assert not splats, splats
    unset = sorted(
        qual for name, ps in params.items() for qual, arg, i in ps
        if qual not in _UNSET_DEFAULTS_KEPT
        and not any(arg in kws or (i is not None and (starred or npos > i))
                    for npos, starred, kws, _ in calls.get(name, ())))
    assert not unset, unset
