"""The broadcast as-of index cache: asof_join_broadcast collects and
broadcasts a right side read from unchanged local files once per
SparkContext. A changed file, a different column set and every right side
whose data the key cannot see must rebuild."""

import json

import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import Broadcast
from pyspark.sql import functions as F

from image_feature_extraction_spark.operators.asof import (
    asof_index_cache_stats,
    asof_join_broadcast,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _left(spark):
    return spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "k2": [0, 0, 0], "ts": [15, 30, 30]})
    )


def _write_stats(path, v, keys=(1, 2)):
    """A parquet file whose size depends only on its row count: plain
    encoding, no compression and no statistics."""
    n = len(keys)
    pq.write_table(
        pa.table({
            "k": pa.array(keys, pa.int64()),
            "k2": pa.array([0] * n, pa.int64()),
            "ts": pa.array([10] * n, pa.int64()),
            "a": pa.array([v] * n, pa.float64()),
            "b": pa.array([v + 100] * n, pa.float64()),
        }),
        path, compression="none", use_dictionary=False, write_statistics=False,
    )


def _counts(spark):
    s = asof_index_cache_stats(spark)
    return s["hits"], s["misses"]


def _broadcast_id(df):
    """Id of the Broadcast the as-of batch function of ``df`` reads."""
    fn = df._arrow_chain[1][-1]
    (b,) = [c.cell_contents for c in fn.__closure__ if isinstance(c.cell_contents, Broadcast)]
    return b._jbroadcast.id()


def _jobs_while(spark, group, build):
    """(result of ``build()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _a(df):
    return {(r["k"], r["ts"]): r["a"] for r in df.collect()}


def test_asof_index_reused_for_unchanged_parquet(spark, tmp_path):
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0)
    left = _left(spark)
    hits, misses = _counts(spark)

    stats = spark.read.parquet(path)
    first, jobs = _jobs_while(
        spark, "asof-index-miss",
        lambda: asof_join_broadcast(left, stats, on="ts", by="k", right_cols=["a"]),
    )
    assert jobs >= 1  # the collect: the job-group count sees build-time jobs
    assert _counts(spark) == (hits, misses + 1)

    stats = spark.read.parquet(path)  # a new DataFrame over the same file
    second, jobs = _jobs_while(
        spark, "asof-index-hit",
        lambda: asof_join_broadcast(left, stats, on="ts", by="k", right_cols=["a"]),
    )
    assert jobs == 0
    assert _counts(spark) == (hits + 1, misses + 1)
    assert _broadcast_id(second) == _broadcast_id(first)
    # the batch function is rebuilt per call: another direction, same index
    fwd = asof_join_broadcast(left, stats, on="ts", by="k", right_cols=["a"], direction="forward")
    assert _broadcast_id(fwd) == _broadcast_id(first)
    assert _counts(spark) == (hits + 2, misses + 1)
    assert _a(second) == _a(first) == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): 1.0}
    assert _a(fwd) == {(1, 15): None, (1, 30): None, (2, 30): None}


def test_asof_index_rebuilt_when_stats_rewritten(spark, tmp_path):
    """Same path, same size, new contents: only the mtime tells them
    apart, and the result must follow the file."""
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0)
    left = _left(spark)
    before = os.stat(path)
    assert _a(asof_join_broadcast(left, spark.read.parquet(path), on="ts", by="k", right_cols=["a"])) \
        == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): 1.0}

    _write_stats(path, 2.0)
    # on a file system with coarse timestamps the rewrite could keep the
    # mtime; the key cannot see such a rewrite, so push it past one tick
    mtime = before.st_mtime_ns + 1_000_000_000
    os.utime(path, ns=(mtime, mtime))
    assert (os.stat(path).st_size, os.stat(path).st_ino) == (before.st_size, before.st_ino)
    hits, misses = _counts(spark)
    out = asof_join_broadcast(left, spark.read.parquet(path), on="ts", by="k", right_cols=["a"])
    assert _counts(spark) == (hits, misses + 1)
    assert _a(out) == {(1, 15): 2.0, (1, 30): 2.0, (2, 30): 2.0}


def test_asof_index_rebuilt_when_file_added(spark, tmp_path):
    d = tmp_path / "stats"
    d.mkdir()
    _write_stats(str(d / "part-0.parquet"), 1.0, keys=(1,))
    left = _left(spark)
    assert _a(asof_join_broadcast(left, spark.read.parquet(str(d)), on="ts", by="k", right_cols=["a"])) \
        == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): None}

    _write_stats(str(d / "part-1.parquet"), 3.0, keys=(2,))
    hits, misses = _counts(spark)
    out = asof_join_broadcast(left, spark.read.parquet(str(d)), on="ts", by="k", right_cols=["a"])
    assert _counts(spark) == (hits, misses + 1)
    assert _a(out) == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): 3.0}


def test_asof_index_separate_entries_per_columns_and_keys(spark, tmp_path):
    """The same files under other right columns or keys are other entries:
    each change of them misses, and repeating the last one hits."""
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0)
    left = _left(spark)
    hits, misses = _counts(spark)

    def join(**kw):
        out = asof_join_broadcast(left, spark.read.parquet(path), on="ts", **kw).collect()
        return sorted(tuple(r) for r in out)

    a = join(by="k", right_cols=["a"])
    b = join(by="k", right_cols=["b"])
    kk = join(by=["k", "k2"], right_cols=["b"])
    assert _counts(spark) == (hits, misses + 3)
    assert [r[-1] for r in a] == [1.0] * 3
    assert [r[-1] for r in b] == [101.0] * 3
    assert kk == b
    assert join(by=["k", "k2"], right_cols=["b"]) == b
    assert _counts(spark) == (hits + 1, misses + 3)
    # one entry: going back to an earlier key builds it again
    assert join(by="k", right_cols=["a"]) == a
    assert _counts(spark) == (hits + 1, misses + 4)


def test_asof_index_rebuilt_for_uncacheable_right(spark, tmp_path):
    """A right side whose data the key cannot see is collected on every
    call: in-memory rows, a nondeterministic column over a file, and a
    column that reads the clock."""
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0)
    left = _left(spark)
    rights = [
        lambda: spark.createDataFrame(pd.read_parquet(path)),
        lambda: spark.read.parquet(path).withColumn("r", F.rand(7)),
        lambda: spark.read.parquet(path).where(F.col("ts") < F.unix_seconds(F.current_timestamp())),
    ]
    for make in rights:
        right = make()
        for _ in range(2):
            hits, misses = _counts(spark)
            _out, jobs = _jobs_while(
                spark, "asof-index-uncached",
                lambda: asof_join_broadcast(left, right, on="ts", by="k", right_cols=["a"]),
            )
            assert _counts(spark) == (hits, misses + 1)
            assert jobs >= 1


def test_asof_index_rebuilt_for_union_with_non_file_source(spark, tmp_path):
    """A file read unioned with a non-file source (here a Python data
    source; a JDBC read is another) has input files, but the other
    source's rows can change while the files and the plan stay the same:
    it is collected on every call and follows the source."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class SideRows(DataSource):
        """Rows of a JSON list at the ``rows`` option, read at scan time."""

        @classmethod
        def name(cls):
            return "asof_side_rows"

        def schema(self):
            return "k long, k2 long, ts long, a double, b double"

        def reader(self, schema):
            rows = self.options["rows"]

            class Reader(DataSourceReader):
                def read(self, partition):
                    import json

                    with open(rows) as f:
                        yield from map(tuple, json.load(f))

            return Reader()

    spark.dataSource.register(SideRows)
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0, keys=(1,))
    rows = tmp_path / "side.json"
    rows.write_text(json.dumps([[2, 0, 10, 5.0, 0.0]]))
    left = _left(spark)

    # one DataFrame, joined twice: its plan and files do not change
    side = spark.read.format("asof_side_rows").option("rows", str(rows)).load()
    right = spark.read.parquet(path).unionByName(side)

    def join():
        return _a(asof_join_broadcast(left, right, on="ts", by="k", right_cols=["a"]))

    hits, misses = _counts(spark)
    assert join() == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): 5.0}
    rows.write_text(json.dumps([[2, 0, 10, 6.0, 0.0]]))
    assert join() == {(1, 15): 1.0, (1, 30): 1.0, (2, 30): 6.0}
    assert _counts(spark) == (hits, misses + 2)


_FRESH_CONTEXT = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from image_feature_extraction_spark.operators.asof import asof_index_cache_stats, asof_join_broadcast
from image_feature_extraction_spark.session import get_spark

left = pd.DataFrame({{"k": [1], "ts": [15]}})
for _ in range(2):
    spark = get_spark(app_name="asof-index-context", master="local[1]", shuffle_partitions=1)
    out = asof_join_broadcast(
        spark.createDataFrame(left), spark.read.parquet({path!r}), on="ts", by="k", right_cols=["a"]
    ).collect()
    assert [r["a"] for r in out] == [1.0], out
    assert asof_index_cache_stats(spark) == {{"hits": 0, "misses": 1}}
    spark.stop()
print("ok")
"""


def test_asof_index_starts_empty_in_a_fresh_context(tmp_path):
    """The cache lives on the SparkContext: a new context rebuilds, and
    never reads a Broadcast of a stopped one (whose ids a new context
    reuses)."""
    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 1.0)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", SPARK_LOCAL_DIRS=str(tmp_path))
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_CONTEXT.format(root=ROOT, path=path)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), res.stderr[-3000:]


def test_asof_index_cache_under_concurrent_builds(spark, tmp_path):
    """Driver threads building joins at once share one cache: every call
    is counted once, as a hit or a miss, and each gets the right rows."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "stats.parquet")
    _write_stats(path, 4.0)
    left = _left(spark)
    stats = spark.read.parquet(path)
    hits, misses = _counts(spark)
    calls = 24

    def build(i):
        cols = ["a"] if i % 2 else ["b"]
        return asof_join_broadcast(left, stats, on="ts", by="k", right_cols=cols), cols[0]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            built = [f.result(timeout=300) for f in [pool.submit(build, i) for i in range(calls)]]
    finally:
        sys.setswitchinterval(old)
    h, m = _counts(spark)
    assert (h - hits) + (m - misses) == calls
    assert m - misses >= 2  # one entry: alternating column sets miss at least once each
    for df, col in built[:2]:
        assert {r[col] for r in df.collect()} == ({4.0} if col == "a" else {104.0})
