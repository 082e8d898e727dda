"""``session._reuse_unchanged_zip_directories``: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed (no Spark).

PySpark's Python worker calls ``invalidate_caches()`` on every task, and
before CPython 3.13 every ``zipimporter`` then re-parses its archive.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from windowsession_using_kafka_flink_docker_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ re-reads zip directories lazily; nothing is installed",
)


def _write_zip(path: str, modules: dict[str, str], mtime: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.utime(path, (mtime, mtime))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipreuse_first": "X = 1\n"}, mtime=1_000_000_000)
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipreuse_first", "zipreuse_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zipreuse_first").X == 1
    # the directory read at import predates any stamp: the first call reads once
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread(archive, monkeypatch):
    importlib.import_module("zipreuse_first")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zipreuse_second")
    _write_zip(archive, {"zipreuse_first": "X = 1\n", "zipreuse_second": "Y = 2\n"},
               mtime=1_000_000_100)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zipreuse_second").Y == 2


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    session._reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed
