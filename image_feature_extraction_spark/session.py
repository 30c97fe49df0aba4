"""SparkSession builder tuned for the feature-engineering engine.

Local defaults mirror what a 1000-executor cluster deployment would set:
Arrow-batched Python UDF transfer, AQE with skew-join handling, explicit
shuffle partition count. On a real cluster the same builder is used with
``master`` unset (taken from spark-submit) and shuffle partitions sized to
2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Token docs are heavy rows (~4 KiB avg); keep Arrow batches moderate so a
# batch of hot 8192-token docs stays well under executor memory.
ARROW_BATCH_ROWS = 512


def get_spark(
    app_name: str = "image-feature-extraction-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make this package importable by Python workers regardless of the
    # caller's cwd. On a real cluster the same is achieved with
    # `spark-submit --py-files image_feature_extraction_spark.zip`; in local
    # mode workers inherit the driver env, so PYTHONPATH must be set BEFORE
    # the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    # Under spark-submit (detected via the pre-launched JVM gateway env)
    # the master comes from --master — setting one here would silently
    # override a cluster master with local[N]. Only default to local[N]
    # for plain-python launches, which have no other source of a master.
    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    master = master or os.environ.get("SPARK_MASTER") or (
        None if under_spark_submit else f"local[{cpus}]"
    )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    # driver heap: half of physical RAM, capped at 16g (local mode runs
    # every task inside this JVM, so the heap must fit the host)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_memory = os.environ.get(
        "SPARK_DRIVER_MEMORY", f"{max(1024, min(16384, ram_mb // 2))}m"
    )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        # keep per-task numpy single-threaded; parallelism comes from tasks
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # no [Stage N:> progress bars in scripts' output
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's DataFrame call-site capture walks the Python stack and
        # sends it to the JVM on every Column and functions call: about half
        # the py4j round trips of building a query, and it imports IPython
        # into the driver when installed. The call site it would record is a
        # frame of this package, so error messages lose nothing a caller
        # could act on. PySpark reads it once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make this package importable by Python workers of an EXISTING session
    (e.g. the driver's own SparkSession, created before our PYTHONPATH
    export). Ships the package as a zip via addPyFile — the local-mode
    equivalent of `spark-submit --py-files`."""
    import tempfile
    import zipfile

    if getattr(spark, "_ife_pyfiles_added", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._ife_pyfiles_added = True


def local_path(uri: str) -> str:
    """Local file-system path of an ``inputFiles()`` URI (``file:`` scheme,
    percent-encoded). Other schemes come back unchanged, so ``os.stat``
    fails on them (a remote store)."""
    from urllib.parse import unquote, urlparse

    u = urlparse(uri)
    return unquote(u.path) if u.scheme == "file" else uri


def file_stamps(paths) -> tuple | None:
    """Sorted (path, inode, size, mtime_ns) of every file among ``paths``
    (local paths or ``inputFiles()`` URIs) and under those that are
    directories: data read from them is unchanged while this is. None when
    there is no file, or one cannot be stat-ed locally (a remote store, a
    glob, a missing path)."""
    files = []
    for p in map(local_path, paths):
        if os.path.isdir(p):
            files += [os.path.join(d, n) for d, _, names in os.walk(p, followlinks=True)
                      for n in names]
        else:
            files.append(p)
    stamps = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except OSError:
            return None
        stamps.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(stamps) or None


def widen_small_scan(df, target: int | None = None):
    """Repartition a SMALL file scan up to the session's default
    parallelism before compute-heavy per-row work.

    A file smaller than one split scans as ONE task, serializing every
    downstream narrow operator (measured 10x on shingling at sf0.1: one
    580 KB parquet file -> 32 tasks, 7.9s -> 0.7s). The exchange moves
    only the small input. An input of at most one split is widened unless
    Spark plans ``target`` tasks that each read whole files. A planned
    count alone does not tell: parquet gives each row group to the byte
    range holding its midpoint, so ranges cut from one file can be empty
    (13.5 MB in 10 row groups plans 4 splits on 4 cores but scans in 3
    tasks). The byte count stops at that bound, so a 400k-file
    production scan keeps its plan after its first files. Unstattable
    paths (object stores) and non-file sources pass through."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    conf = df.sparkSession.conf
    max_split = int(_parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m")))
    open_cost = int(_parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4m")))
    total = biggest = 0
    for p in files:
        try:
            size = os.path.getsize(local_path(p))
        except OSError:
            return df  # can't stat (remote store): keep Spark's plan
        total, biggest = total + size, max(biggest, size)
        if total > max_split:
            return df  # big input: widening would outweigh the gain
    # Spark splits no file of at most min(openCostInBytes, maxPartitionBytes)
    # bytes, so then every planned task reads a whole file and has rows
    if biggest <= min(open_cost, max_split) and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def map_in_arrow(df, fn, schema, prepare=None):
    """``df.mapInArrow(fn, schema)`` for the engine's Arrow operators. When
    ``df`` is itself this function's output, ``fn`` joins its batch
    functions in ONE stage over its source (mapped by ``prepare``), so rows
    cross the JVM<->Python boundary once. A derived DataFrame (filter,
    select, ...) or a cached one (``cache()`` returns self) starts a stage."""
    source, fns = (df, ()) if df.is_cached else getattr(df, "_arrow_chain", (df, ()))
    source, fns = (prepare or (lambda s: s))(source), fns + (fn,)

    def chained(batches):
        for f in fns:
            batches = f(batches)
        return batches

    out = source.mapInArrow(chained, schema)
    out._arrow_chain = (source, fns)
    return out


def _parse_bytes(v) -> float:
    """'128m' / '128mb' / '1g' / plain-number byte-size conf values."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmg":
        mult = {"k": 2**10, "m": 2**20, "g": 2**30}[s[-1]]
        s = s[:-1]
    return float(s) * mult
