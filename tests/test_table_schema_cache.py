"""Table reads reuse Spark's inferred parquet schema: ``plans/queries.py::_t``
infers a table's schema (a one-task Spark job) once per SparkContext while
the files under its path and the inference confs are unchanged. Every
change to them, a new context and a path that cannot be stat-ed locally
infer again."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from image_feature_extraction_spark.plans.queries import _t
from tests.test_asof_index_cache import _jobs_while

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, name="a", values=(1, 2, 3), typ=pa.int64()):
    """A one-column parquet file whose size depends only on the row count,
    the type and the length of the column name: plain encoding, no
    compression and no statistics."""
    pq.write_table(
        pa.table({name: pa.array(values, typ)}),
        str(path), compression="none", use_dictionary=False, write_statistics=False,
    )


def _read(spark, sf_dir, group):
    """(``_t`` of table ``t`` under ``sf_dir``, Spark jobs it started)."""
    return _jobs_while(spark, group, lambda: _t(spark, str(sf_dir), "t"))


def test_unchanged_table_reuses_its_schema(spark, tmp_path):
    _write(tmp_path / "t.parquet")
    first, jobs = _read(spark, tmp_path, "schema-miss")
    assert jobs == 1  # the inference job
    second, jobs = _read(spark, tmp_path, "schema-hit")
    assert jobs == 0
    assert second.schema == first.schema
    assert second.semanticHash() == first.semanticHash()
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """Same path, inode and size, another column name: only the mtime
    tells the files apart, and the schema must follow the file."""
    path = tmp_path / "t.parquet"
    _write(path, "a")
    before = os.stat(path)
    assert _read(spark, tmp_path, "schema-old")[0].columns == ["a"]

    _write(path, "b", values=(7, 8, 9))
    # on a file system with coarse timestamps the rewrite could keep the
    # mtime; the key cannot see such a rewrite, so push it past one tick
    mtime = before.st_mtime_ns + 1_000_000_000
    os.utime(path, ns=(mtime, mtime))
    assert (os.stat(path).st_size, os.stat(path).st_ino) == (before.st_size, before.st_ino)
    df, jobs = _read(spark, tmp_path, "schema-rewritten")
    assert jobs == 1
    assert sorted(r["b"] for r in df.collect()) == [7, 8, 9]


def test_file_added_to_directory_table_is_inferred_again(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", values=(1,))
    assert _read(spark, tmp_path, "schema-one-file")[0].count() == 1
    assert _read(spark, tmp_path, "schema-one-file-again")[1] == 0

    _write(table / "part-1.parquet", values=(2, 3))
    df, jobs = _read(spark, tmp_path, "schema-added-file")
    assert jobs == 1
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    """``spark.sql.parquet.binaryAsString`` turns a binary column into a
    string column: flipping it infers again, both ways."""
    _write(tmp_path / "t.parquet", values=(b"x", b"y"), typ=pa.binary())
    key = "spark.sql.parquet.binaryAsString"
    assert _read(spark, tmp_path, "schema-binary")[0].schema["a"].dataType == T.BinaryType()
    spark.conf.set(key, "true")
    try:
        df, jobs = _read(spark, tmp_path, "schema-as-string")
        assert jobs == 1
        assert df.schema["a"].dataType == T.StringType()
        assert sorted(r["a"] for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.unset(key)
    df, jobs = _read(spark, tmp_path, "schema-binary-again")
    assert jobs == 1
    assert df.schema["a"].dataType == T.BinaryType()


def test_unstattable_path_is_inferred_on_every_read(spark, tmp_path):
    """A glob reads as one table in Spark but is no file to ``os.stat``."""
    (tmp_path / "sf").mkdir()
    _write(tmp_path / "sf" / "t.parquet")
    for i in range(2):
        df, jobs = _read(spark, tmp_path / "s?", f"schema-glob-{i}")
        assert jobs == 1
        assert df.count() == 3


def test_concurrent_reads_share_one_entry(spark, tmp_path):
    """Driver threads reading one table at once each get its schema and
    rows, and leave one entry that the next read reuses."""
    from concurrent.futures import ThreadPoolExecutor

    _write(tmp_path / "t.parquet")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(_t, spark, str(tmp_path), "t") for _ in range(24)]
            dfs = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert {tuple(df.columns) for df in dfs} == {("a",)}
    assert sorted(r["a"] for r in dfs[-1].collect()) == [1, 2, 3]
    assert _read(spark, tmp_path, "schema-after-threads")[1] == 0


_FRESH_CONTEXT = """
import sys
sys.path.insert(0, {root!r})
from image_feature_extraction_spark.plans.queries import _t
from image_feature_extraction_spark.session import get_spark

def jobs(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    df = _t(spark, {sf_dir!r}, "t")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.count() == 3
    return len(sc.statusTracker().getJobIdsForGroup(group))

for ctx in range(2):
    spark = get_spark(app_name="table-schema-context", master="local[1]", shuffle_partitions=1)
    assert [jobs(spark, f"{{ctx}}-{{i}}") for i in range(2)] == [1, 0]
    spark.stop()
print("ok")
"""


def test_new_context_infers_again(tmp_path):
    """The schemas live on the SparkContext: a new context infers again."""
    _write(tmp_path / "t.parquet")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", SPARK_LOCAL_DIRS=str(tmp_path))
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_CONTEXT.format(root=ROOT, sf_dir=str(tmp_path))],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), res.stderr[-3000:]
