"""The artifact store (``rlink_rs_spark/artifacts.py``): every
fingerprint-keyed entry is built beside its path and renamed into place,
so concurrent, failed and torn builds never serve a wrong entry, and no
other module writes under the store's root."""

from __future__ import annotations

import ast
import os
import re
import threading

import pytest
from pyspark.sql import functions as F

from rlink_rs_spark import artifacts

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_REPO, "rlink_rs_spark")
_ROWS = 100_000


def _read(df) -> tuple[int, int]:
    r = df.agg(F.count(F.lit(1)), F.sum("id")).collect()[0]
    return r[0], r[1]


@pytest.mark.parametrize("builders", [2, 4])
def test_concurrent_builders_each_read_exactly_the_built_rows(spark, tmp_path, monkeypatch, builders):
    """N builders of one entry, all inside their build at once: each reads
    the built rows, and one committed dir is left with no staging sibling."""
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    inside = threading.Barrier(builders, timeout=120)
    got, errors = [], []

    def build():
        inside.wait()  # every builder has missed the marker before any commits
        return spark.range(_ROWS)

    def run():
        try:
            got.append(_read(artifacts.parquet(spark, "fam", "k", build)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(builders)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == [(_ROWS, _ROWS * (_ROWS - 1) // 2)] * builders
    assert os.listdir(tmp_path / "fam") == ["k"]
    assert os.path.exists(tmp_path / "fam" / "k" / "_SUCCESS")


def test_failed_write_leaves_neither_a_staging_nor_a_final_dir(tmp_path):
    path = str(tmp_path / "fam" / "k")

    def write(stage):
        os.makedirs(stage)
        open(os.path.join(stage, "part-0"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.commit(path, write)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path / "fam") == []


def test_torn_dir_is_rebuilt_and_never_read(spark, tmp_path, monkeypatch):
    """A final dir without ``_SUCCESS`` (an in-place write cut short) is
    replaced by a fresh build; a committed entry is served without one."""
    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    torn = tmp_path / "fam" / "k"
    spark.range(7).write.parquet(str(torn))
    os.remove(torn / "_SUCCESS")

    assert _read(artifacts.parquet(spark, "fam", "k", lambda: spark.range(5))) == (5, 10)
    assert os.listdir(tmp_path / "fam") == ["k"]

    def no_build():
        raise AssertionError("a committed entry was rebuilt")

    assert _read(artifacts.parquet(spark, "fam", "k", no_build)) == (5, 10)


def test_bench_sweep_keeps_the_current_rollup_entry(sf_dir, tmp_path, monkeypatch):
    """The rollup entry is keyed by the events fingerprint; the sweep's
    live set must hold it, or every bench prewarm deletes it."""
    from bench import sweep_stale_artifacts

    monkeypatch.setattr(artifacts, "ROOT", str(tmp_path))
    live = tmp_path / "daily_rollup" / f"rollup_{artifacts.fingerprint(sf_dir, 'events')}"
    dead = tmp_path / "daily_rollup" / "rollup_0123456789abcdef"
    for d in (live, dead):
        d.mkdir(parents=True)
    assert sweep_stale_artifacts(sf_dir) == [os.path.join("daily_rollup", dead.name)]
    assert os.listdir(tmp_path / "daily_rollup") == [live.name]


def _modules():
    """(path relative to the repo, AST) of every module that could name
    the store's root: the package, bench.py and tools/."""
    paths = [os.path.join(_REPO, "bench.py")]
    for d in (_PACKAGE, os.path.join(_REPO, "tools")):
        for root, _, files in os.walk(d):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        with open(p) as fh:
            yield os.path.relpath(p, _REPO), ast.parse(fh.read())


def _mentions_root(node: ast.AST) -> bool:
    return any(
        (isinstance(n, ast.Name) and n.id == "ROOT") or (isinstance(n, ast.Attribute) and n.attr == "ROOT")
        for n in ast.walk(node)
    )


def _overwrites(call: ast.Call) -> bool:
    """Whether ``call`` is a DataFrameWriter save after ``.mode("overwrite")``."""
    f = call.func
    while isinstance(f, (ast.Attribute, ast.Call)):
        if isinstance(f, ast.Call) and isinstance(f.func, ast.Attribute) and f.func.attr == "mode":
            if any(isinstance(a, ast.Constant) and a.value == "overwrite" for a in f.args):
                return True
        f = f.func if isinstance(f, ast.Call) else f.value
    return False


def test_only_the_store_writes_under_its_root():
    """Outside artifacts.py: no "artifacts" path literal, no os.rename but
    the Python datasource writer's commit, no load_or_* taking a
    cache_dir, and no overwrite write into a ROOT path."""
    found = []
    for rel, tree in _modules():
        if rel == os.path.join("rlink_rs_spark", "artifacts.py"):
            continue
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and not re.search(r"\s", n.value):
                if "artifacts" in re.split(r"[/\\]", n.value):
                    found.append(f"{rel}:{n.lineno} path literal {n.value!r}")
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                if n.func.attr == "rename" and isinstance(n.func.value, ast.Name) and n.func.value.id == "os":
                    if rel != os.path.join("rlink_rs_spark", "sources", "python_datasource.py"):
                        found.append(f"{rel}:{n.lineno} os.rename")
                if _overwrites(n) and any(_mentions_root(a) for a in n.args):
                    found.append(f"{rel}:{n.lineno} overwrite into ROOT")
            if isinstance(n, ast.FunctionDef) and n.name.startswith("load_or_"):
                if "cache_dir" in [a.arg for a in n.args.args + n.args.kwonlyargs]:
                    found.append(f"{rel}:{n.lineno} {n.name}(cache_dir)")
    assert not found, found
