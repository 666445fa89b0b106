"""The lazy ``zipimporter.invalidate_caches`` installed by ``session``.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task.  On CPython < 3.13 that re-parsed every zip archive on
``sys.path`` (pyspark.zip: 1,328 entries, 0.15-0.28 s per task); the
package's wrapper re-reads an archive only when it changed on disk or left
``zipimport._zip_directory_cache``.
"""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from arrow_udf_spark import Registry, session, udf


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with module ``zlazy_a`` on ``sys.path``, already imported from."""
    archive = tmp_path / "lazy.zip"
    _write_zip(archive, {"zlazy_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zlazy_a", "zlazy_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zlazy_a")
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    yield archive
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.fixture
def reads(monkeypatch):
    """The archive paths ``zipimport._read_directory`` is called with."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    importlib.invalidate_caches()  # the first call may read each archive once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    # an archive dropped from the directory cache is read again
    zipimport._zip_directory_cache.pop(str(zip_on_path))
    importlib.invalidate_caches()
    assert reads == [str(zip_on_path)]


def test_zip_rewritten_in_place_is_picked_up(zip_on_path):
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zlazy_b")
    _write_zip(zip_on_path, {"zlazy_a": "X = 1\n", "zlazy_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zlazy_b").Y == 2


def test_importing_twice_installs_one_wrapper():
    probe = (
        "import importlib, zipimport\n"
        "import arrow_udf_spark.session as s\n"
        "first = zipimport.zipimporter.invalidate_caches\n"
        "importlib.reload(s)\n"
        "s._lazy_zip_invalidation()\n"
        "now = zipimport.zipimporter.invalidate_caches\n"
        "print(now is first, now.__wrapped__.__module__)\n"
    )
    root = str(Path(__file__).resolve().parent.parent)
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == ["True", "zipimport"]


def test_stdlib_left_alone_from_cpython_3_13(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(current, "__wrapped__", current)
    assert stdlib.__module__ == "zipimport"
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_spark_worker_runs_the_lazy_wrapper(spark):
    reg = Registry()

    @udf(input_types=["bigint"], result_type="string", registry=reg)
    def which_invalidate(x):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f"{f.__module__}.{f.__qualname__}"

    got = {r[0] for r in spark.range(2).select(which_invalidate("id")).collect()}
    expected = "arrow_udf_spark.session._lazy_zip_invalidation.<locals>.invalidate_caches"
    if sys.version_info >= (3, 13):
        expected = "zipimport.zipimporter.invalidate_caches"
    assert got == {expected}
