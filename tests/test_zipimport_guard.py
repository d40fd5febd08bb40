"""The package's zipimporter guard: an unchanged archive is not re-parsed on
`importlib.invalidate_caches()`, a changed one still is, and executor Python
workers run with the guard installed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import osm_hadoop_spark  # noqa: F401  (installs the guard)

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zipped_m1(tmp_path, monkeypatch):
    """A zip holding module m1 on sys.path, imported; yields (archive, reads)
    where `reads` lists every directory read of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    try:
        import m1

        assert m1.NAME == "m1"
        yield archive, reads
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13+ invalidates zip caches lazily")
def test_unchanged_archive_is_not_reread(zipped_m1):
    _archive, reads = zipped_m1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(not GUARDED, reason="CPython 3.13+ invalidates zip caches lazily")
def test_changed_archive_is_reread(zipped_m1):
    archive, reads = zipped_m1
    _write_zip(archive, ["m1", "m2"])
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    import m2

    assert m2.NAME == "m2"
    importlib.invalidate_caches()
    assert reads == [archive]


def test_guard_reaches_executors(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        import osm_hadoop_spark  # noqa: F401

        guarded = getattr(
            zipimport.zipimporter.invalidate_caches, "_osm_stat_guard", False
        )
        for pdf in batches:
            yield pd.DataFrame({"guarded": [guarded] * len(pdf)})

    rows = spark.range(0, 8, 1, 8).mapInPandas(probe, "guarded boolean").collect()
    assert len(rows) == 8
    assert all(r.guarded is GUARDED for r in rows)
