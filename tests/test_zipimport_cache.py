"""The stat-keyed zip directory cache that ``import osmpbf_spark`` installs
(osmpbf_spark/_zipimport_cache.py): an unchanged archive's directory is
read once, a changed one again, and a Python worker call in a live
session reads no zip directory."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from osmpbf_spark import _zipimport_cache

_MEMBERS = {
    "zpkg/__init__.py": "",
    **{f"zpkg/{s}/__init__.py": "" for s in "abc"},
    **{f"zpkg/{s}/mod.py": f"NAME = {s!r}\n" for s in "abc"},
}


def _write_zip(archive: str, members: dict[str, str]) -> None:
    tmp = archive + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    os.replace(tmp, archive)


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zpkg`` and its subpackages a, b and c,
    each imported, so the archive has one zipimporter per directory."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, _MEMBERS)
    monkeypatch.syspath_prepend(archive)
    for s in "abc":
        importlib.import_module(f"zpkg.{s}.mod")
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for entry in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[entry]
    zipimport._zip_directory_cache.pop(archive, None)


def _reads_per_pass(monkeypatch, archive: str, passes: int) -> list[int]:
    """Directory reads of ``archive`` in each of ``passes`` successive
    ``importlib.invalidate_caches()`` calls."""
    read = zipimport._read_directory
    reads: list[str] = []

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    out = []
    for _ in range(passes):
        del reads[:]
        importlib.invalidate_caches()
        out.append(reads.count(archive))
    return out


def _importers(archive: str) -> int:
    return sum(
        isinstance(imp, zipimport.zipimporter) and imp.archive == archive
        for imp in sys.path_importer_cache.values()
    )


def test_unchanged_archive_is_read_once(zpkg, monkeypatch):
    import osmpbf_spark  # noqa: F401  (installs the cache)

    assert _importers(zpkg) >= 4
    assert _reads_per_pass(monkeypatch, zpkg, 3) == [1, 0, 0]


def test_changed_archive_is_read_again(zpkg, monkeypatch):
    import osmpbf_spark  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(zpkg, {**_MEMBERS, "zpkg/b/new.py": "NAME = 'new'\n"})
    (reads,) = _reads_per_pass(monkeypatch, zpkg, 1)
    assert reads >= 1
    assert importlib.import_module("zpkg.b.new").NAME == "new"
    assert all(
        imp._files == zipimport._zip_directory_cache[zpkg]
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == zpkg
    )


def test_installs_nothing_from_python_3_12(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    assert _zipimport_cache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_python_worker_call_reads_no_zip_directory(spark):
    """In an executor task, the second ``importlib.invalidate_caches()``
    after importing the engine reads no zip directory (Spark makes one
    such call at the start of every Python worker call)."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import osmpbf_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        read, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        on_path = any(p.endswith(".zip") and os.path.isfile(p)
                      for p in sys.path)
        yield pa.RecordBatch.from_pydict(
            {"reads": [len(reads)], "zip_on_path": [on_path]}
        )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "reads long, zip_on_path boolean"
    ).collect()
    if not row.zip_on_path:
        pytest.skip("the Python workers import nothing from a zip archive")
    assert row.reads == 0
