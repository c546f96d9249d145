"""The zip re-read guard (docling_api_spark/_zipguard.py): an unchanged
zip is not re-parsed on ``importlib.invalidate_caches()``, a zip
rewritten in place still is, and the guard reaches the Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from docling_api_spark import _zipguard

needs_guard = pytest.mark.skipif(sys.version_info >= (3, 12), reason="guard only below 3.12")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_guard
def test_rewritten_zip_is_reread(zip_on_path):
    _write_zip(zip_on_path, {"zg_first": "X = 1\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_first").X == 1
    importlib.invalidate_caches()  # the guard has now read this archive once
    st = os.stat(zip_on_path)
    _write_zip(zip_on_path, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("zg_second").Y == 2


@needs_guard
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"zg_first": "X = 1\n"})
    importlib.invalidate_caches()
    importlib.import_module("zg_first")
    importlib.invalidate_caches()  # the guard has now read this archive once
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert sys.path_importer_cache[zip_on_path]._files is zipimport._zip_directory_cache[zip_on_path]


def test_not_installed_from_python_312(monkeypatch):
    unguarded = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__", None)
    unguarded = unguarded or zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unguarded)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    _zipguard.install()
    assert zipimport.zipimporter.invalidate_caches is unguarded


@needs_guard
def test_guard_reaches_python_workers(spark):
    """A task that unpickles a package function runs with the guard."""

    def probe(batches):
        # the module reference makes the worker import the package, as
        # unpickling any package function does
        guarded = getattr(zipimport.zipimporter.invalidate_caches, _zipguard.MARKER, False)
        for pdf in batches:
            yield pd.DataFrame({"guarded": [guarded] * len(pdf)})

    rows = spark.range(8).repartition(4).mapInPandas(probe, "guarded boolean").collect()
    assert len(rows) == 8
    assert all(r.guarded for r in rows)
