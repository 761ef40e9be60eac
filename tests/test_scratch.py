"""Every dir a bounded run makes has one owner: the process's scratch root
(``session.scratch_dir``), removed when the process exits. A foreachBatch
sink keeps its checkpoint inside its own root (``epochs.start``), so no
sink builder takes a separate checkpoint dir."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile

from tests.helpers import run_query_vs_oracle

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_REPO, "rlink_rs_spark")


def test_scratch_root_is_removed_at_exit(tmp_path):
    """A process that made scratch dirs leaves its temp dir as it found it."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os\n"
        "from rlink_rs_spark.session import scratch_dir\n"
        "a, b = scratch_dir('rlink_a_'), scratch_dir('rlink_b_')\n"
        "assert os.path.dirname(a) == os.path.dirname(b) != os.path.dirname(os.path.dirname(a))\n"
        "open(os.path.join(a, 'f'), 'w').close()\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp), "PYTHONPATH": _REPO}
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=120)
    assert os.listdir(tmp) == []


def test_registry_sinks_make_nothing_outside_the_scratch_root(spark, duck, sf_dir):
    """A foreachBatch sink query and a run_to_parquet query equal their
    oracles and add no entry to the temp dir besides the scratch root."""
    from rlink_rs_spark import session

    before = set(os.listdir(tempfile.gettempdir()))
    for name in ("streaming_kmv_distinct", "stream_stream_interval_join"):
        run_query_vs_oracle(spark, duck, sf_dir, name)
    root = getattr(session, "_scratch_root", None) or ""
    made = set(os.listdir(tempfile.gettempdir())) - before - {os.path.basename(root)}
    assert not made, sorted(made)
    assert os.path.dirname(root) == tempfile.gettempdir()


def test_cdc_snapshot_artifact_holds_only_the_snapshot(spark, sf_dir):
    """The artifacts/cdc_snapshots cache keeps the drained snapshot and its
    commit marker, not the checkpoint of the stream that built it."""
    from rlink_rs_spark.queries.relational import _cdc_snapshot_artifact

    work = _cdc_snapshot_artifact(spark, sf_dir, retain=8)
    os.remove(os.path.join(work, "_SUCCESS"))  # force a rebuild
    assert _cdc_snapshot_artifact(spark, sf_dir, retain=8) == work
    assert sorted(os.listdir(work)) == ["_SUCCESS", "snap"]


def _functions(tree: ast.AST):
    """Every function in a module, nested ones included."""
    return [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _calls(node: ast.AST):
    """Every call under `node` with the called name: `f(...)` and `x.f(...)`
    both give "f"."""
    for c in ast.walk(node):
        if isinstance(c, ast.Call):
            f = c.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name:
                yield c, name


def _starts_an_epoch_sink(tree: ast.AST, fn: ast.AST) -> bool:
    """Whether `fn` calls epochs.start, as ``epochs.start(...)`` or as the
    ``start`` its module imported from streaming.epochs."""
    imported = any(
        isinstance(n, ast.ImportFrom) and n.module == "rlink_rs_spark.streaming.epochs"
        and any(a.name == "start" and a.asname is None for a in n.names)
        for n in ast.walk(tree)
    )
    for c, name in _calls(fn):
        if name == "start":
            f = c.func
            if (isinstance(f, ast.Name) and imported) or (
                isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                and f.value.id == "epochs"
            ):
                return True
    return False


def test_one_mkdtemp_and_no_checkpoint_beside_a_sink_root():
    """The package's only mkdtemp calls are in session.scratch_dir, and no
    function that starts a sink through epochs.start -- directly or through
    another such function, like delta_sink's callers -- takes a
    ``checkpoint`` parameter."""
    modules = {}
    for d, _, files in os.walk(_PACKAGE):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), _REPO)[:-3].replace(os.sep, ".")
                with open(os.path.join(d, f)) as fh:
                    modules[rel] = ast.parse(fh.read())

    found = {
        (mod, c.lineno) for mod, tree in modules.items() for c, name in _calls(tree)
        if name == "mkdtemp"
    }
    allowed = {
        ("rlink_rs_spark.session", c.lineno)
        for fn in _functions(modules["rlink_rs_spark.session"]) if fn.name == "scratch_dir"
        for c, name in _calls(fn) if name == "mkdtemp"
    }
    assert allowed and found == allowed, sorted(found - allowed)

    funcs = [(mod, tree, fn) for mod, tree in modules.items() for fn in _functions(tree)]
    starters = {fn.name for _, tree, fn in funcs if _starts_an_epoch_sink(tree, fn)}
    while True:
        grown = starters | {
            fn.name for _, _, fn in funcs if any(n in starters for _, n in _calls(fn))
        }
        if grown == starters:
            break
        starters = grown
    assert "delta_sink" in starters and "streaming_bm25_index_sink" in starters
    found = sorted(
        f"{mod}:{fn.lineno} {fn.name}"
        for mod, _, fn in funcs
        if fn.name in starters
        and "checkpoint" in [a.arg for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs]
    )
    assert not found, found
