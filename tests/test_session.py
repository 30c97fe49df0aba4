"""The engine's zip import-cache wrapper (``image_feature_extraction_spark``'s
``__init__``): PySpark calls ``importlib.invalidate_caches()`` at the start of
every Python task, and before CPython 3.13 every zip importer then re-reads its
archive. A reused worker that holds the engine must re-read nothing, and an
archive that changed must still be re-read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from CPython 3.13",
)


def _rereads_during_invalidate() -> list[str]:
    """Archives re-read by one ``importlib.invalidate_caches()``."""
    read, archives = zipimport._read_directory, []
    zipimport._read_directory = lambda a: archives.append(a) or read(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return archives


def test_reused_worker_rereads_no_zip(spark):
    """Each task reports whether its worker already held the engine, how many
    zip archives one ``invalidate_caches()`` re-read, and how many zip
    importers the worker holds. On the second run every worker that held the
    engine before its task re-reads nothing; at least one did, since the first
    run's workers are reused. The probe is a closure, so it ships by value
    and the worker imports nothing from the tests; it repeats
    ``_rereads_during_invalidate`` for that reason."""

    def probe(batches):
        import pyarrow as pa

        had_engine = "image_feature_extraction_spark" in sys.modules
        import image_feature_extraction_spark  # noqa: F401

        for _ in batches:
            pass
        read, rereads = zipimport._read_directory, []
        zipimport._read_directory = lambda a: rereads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict({
            "had_engine": [had_engine],
            "rereads": [len(rereads)],
            "importers": [importers],
        })

    schema = "had_engine boolean, rereads long, importers long"
    df = spark.range(0, 4, 1, 4).mapInArrow(probe, schema)
    df.collect()
    second = df.collect()
    assert all(r.importers > 0 for r in second), second
    reused = [r for r in second if r.had_engine]
    assert reused, second
    assert [r.rereads for r in reused] == [0] * len(reused), second


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    """An unchanged archive is not re-read, and a rewritten one is: a module
    added to it imports after the next ``invalidate_caches()``."""
    import image_feature_extraction_spark  # noqa: F401

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("ife_zip_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("ife_zip_first").VALUE == 1
        importlib.invalidate_caches()  # takes the archive's stamp
        assert archive not in _rereads_during_invalidate()

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("ife_zip_first.py", "VALUE = 1\n")
            z.writestr("ife_zip_second.py", "VALUE = 2\n")
        assert archive in _rereads_during_invalidate()
        assert importlib.import_module("ife_zip_second").VALUE == 2
    finally:
        for name in ("ife_zip_first", "ife_zip_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
