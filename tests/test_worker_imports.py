"""Python workers keep no zip finder between tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, which re-reads the central directory of every zip finder in
``sys.path_importer_cache`` (functions/worker.py).  Every ``mapInPandas``
body in the engine first drops those finders and the spark-core jar
path entry, and imports must keep working afterwards.
"""

from __future__ import annotations

import ast
import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd

import islamic_ner_spark
from islamic_ner_spark.functions.worker import drop_zip_importers


def _zip_finders() -> list:
    return [
        path for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]


def test_drop_zip_importers_keeps_imports_working(tmp_path, monkeypatch) -> None:
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zipmod_first.py", "VALUE = 1\n")
        zf.writestr("_zipmod_second.py", "VALUE = 2\n")
    monkeypatch.setattr(
        sys, "path", [str(archive), str(tmp_path / "spark-core.jar"), *sys.path]
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    try:
        import _zipmod_first

        assert _zipmod_first.VALUE == 1
        assert str(archive) in _zip_finders()

        drop_zip_importers()
        assert _zip_finders() == []
        assert not [p for p in sys.path if p.endswith(".jar")]

        import _zipmod_second

        assert _zipmod_second.VALUE == 2
        assert isinstance(_zipmod_second.__loader__, zipimport.zipimporter)
    finally:
        sys.modules.pop("_zipmod_first", None)
        sys.modules.pop("_zipmod_second", None)


def test_worker_has_no_zip_finder_after_invalidate(spark) -> None:
    def worker_state(batches):
        drop_zip_importers()
        importlib.invalidate_caches()  # what the worker runs before a task
        zips = sum(
            isinstance(finder, zipimport.zipimporter)
            for finder in sys.path_importer_cache.values()
        )
        jars = sum(isinstance(p, str) and p.endswith(".jar") for p in sys.path)
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "jars": [jars]})

    rows = (
        spark.range(8).repartition(4)
        .mapInPandas(worker_state, schema="zips long, jars long")
        .collect()
    )
    assert len(rows) == 4
    assert [(r.zips, r.jars) for r in rows] == [(0, 0)] * 4


def _callee(node) -> str | None:
    """The name a call node calls (``f()`` or ``x.f()``); None otherwise."""
    if isinstance(node, ast.Call):
        return getattr(node.func, "attr", None) or getattr(node.func, "id", None)
    return None


def test_every_map_in_pandas_body_drops_zip_importers() -> None:
    """Each function the package hands to ``mapInPandas`` starts with
    ``drop_zip_importers()`` (after its docstring, if any)."""
    package = Path(islamic_ner_spark.__file__).parent
    sites, checked, missing = set(), set(), []
    for path in sorted(package.rglob("*.py")):
        name = str(path.relative_to(package))
        tree = ast.parse(path.read_text(encoding="utf-8"))
        sites |= {
            (name, n.lineno) for n in ast.walk(tree) if _callee(n) == "mapInPandas"
        }
        for outer in ast.walk(tree):
            if not isinstance(outer, ast.FunctionDef):
                continue
            local = {n.name: n for n in outer.body if isinstance(n, ast.FunctionDef)}
            for call in ast.walk(outer):
                if _callee(call) != "mapInPandas" or call.args[0].id not in local:
                    continue
                checked.add((name, call.lineno))
                body = local[call.args[0].id].body
                if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                    body = body[1:]
                if not (isinstance(body[0], ast.Expr)
                        and _callee(body[0].value) == "drop_zip_importers"):
                    missing.append((name, call.lineno))
    assert len(sites) >= 20
    assert checked == sites
    assert missing == []
