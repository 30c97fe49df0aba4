"""The engine's zip import-cache wrapper (``image_feature_extraction_spark``'s
``__init__``): PySpark calls ``importlib.invalidate_caches()`` at the start of
every Python task, and before CPython 3.13 every zip importer then re-reads its
archive. A reused worker that holds the engine must re-read nothing, and an
archive that changed must still be re-read.

``session.get_spark`` turns PySpark's DataFrame call-site capture off, so
building a query costs the driver fewer py4j round trips."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import threading
import zipfile
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

zip_rereads = pytest.mark.skipif(
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


@zip_rereads
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


@zip_rereads
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


def _round_trips(build) -> int:
    """py4j commands ``build()`` sends to the JVM from this thread. py4j
    frees the Java objects of collected Python proxies from another
    thread, whenever a collection runs, so those are not counted."""
    from py4j.clientserver import ClientServerConnection

    send, me, n = ClientServerConnection.send_command, threading.get_ident(), [0]

    def counting(self, command):
        n[0] += threading.get_ident() == me
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return n[0]


def test_get_spark_turns_call_site_capture_off(spark, monkeypatch):
    """With the capture on, every Column and functions call walks the
    stack and sets the JVM origin: building ``q_asof_join`` sends 1,270
    commands with it and 430 without it."""
    from pyspark.errors import utils

    from image_feature_extraction_spark.plans.queries import q_asof_join
    from scripts.plan_audit import SF_DIR

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert utils.is_debugging_enabled() is False
    q_asof_join(spark, SF_DIR)  # the table's schema is inferred once
    off = _round_trips(lambda: q_asof_join(spark, SF_DIR))
    assert off <= 600, off
    monkeypatch.setattr(utils, "_enable_debugging_cache", True)
    on = _round_trips(lambda: q_asof_join(spark, SF_DIR))
    assert on >= 2 * off, (on, off)


_FRESH_DRIVER = """
import sys
sys.path.insert(0, {root!r})
from image_feature_extraction_spark.plans.queries import q_asof_join
from image_feature_extraction_spark.session import get_spark
from scripts.plan_audit import SF_DIR

spark = get_spark(app_name="call-site-capture", master="local[1]", shuffle_partitions=1)
q_asof_join(spark, SF_DIR)
assert "IPython" not in sys.modules
spark.stop()
print("ok")
"""


def test_fresh_driver_never_imports_ipython(tmp_path):
    """The capture imports IPython (when installed) on its first call; a
    driver that builds a query under get_spark never does."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", SPARK_LOCAL_DIRS=str(tmp_path))
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_DRIVER.format(root=ROOT)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), res.stderr[-3000:]
