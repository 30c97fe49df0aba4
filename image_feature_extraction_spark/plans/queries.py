"""Named queries over the driver testdata + their DuckDB oracle SQL.

Each entry maps an operator row of SURVEY.md §2 to (a) a Spark DataFrame
program and (b) an ANSI-ish SQL string DuckDB can run on the same parquet
views. The driver compares row count, schema, and an order-insensitive
value hash — so:

- results are multisets: no query ends in a display sort and no oracle
  in a top-level ORDER BY (order matters only under a LIMIT, q_topk);
- every computed column is aliased identically on both sides;
- float AGGREGATES go through DECIMAL casts (exact integer arithmetic →
  bit-identical across engines; raw double sums are partition-order
  dependent and can flip a rounded digit);
- per-row float arithmetic (lag/lead diffs, divisions of exact values) is
  IEEE-deterministic and kept as double;
- timestamps returned to the driver are formatted as strings (TZ-free,
  microsecond precision) to dodge engine-specific timestamp rendering.

Determinism notes are given per query.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import file_stamps

QUERIES: dict = {}
ORACLE_SQL: dict = {}


def _register(name: str, fn, sql=None):
    """sql: oracle SQL string, or a ZERO-ARG CALLABLE returning one for
    oracles that are expensive to build (VALUES literals computed from the
    independent numpy generators) — resolved lazily by oracle_sql() so
    plain imports (bench, tests) never pay the generation cost."""
    QUERIES[name] = fn
    if sql is not None:
        ORACLE_SQL[name] = sql


def resolve_oracle_sql() -> dict:
    """ORACLE_SQL with lazy entries resolved to their SQL strings (cached:
    a generator runs at most once per process)."""
    out = {}
    for name, sql in ORACLE_SQL.items():
        if callable(sql):
            sql = sql()
            ORACLE_SQL[name] = sql
        out[name] = sql
    return out


# the confs that change the schema Spark infers from parquet footers
_INFER_CONFS = tuple(
    f"spark.sql.parquet.{c}"
    for c in ("binaryAsString", "int96AsTimestamp", "inferTimestampNTZ.enabled", "mergeSchema")
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The parquet table ``name`` under ``sf_dir``. Inferring its schema is
    a one-task Spark job, so the inferred schema is kept on the
    SparkContext, one entry per path, and handed back to the reader while
    the files under the path and the inference confs are unchanged. A path
    that cannot be stat-ed locally (a remote store, a glob, a default file
    system that is not local) infers on every read."""
    path = f"{sf_dir}/{name}.parquet"
    sc = spark.sparkContext
    # a path without a scheme is on the default file system
    fs = urlparse(path).scheme or sc._jsc.hadoopConfiguration().get("fs.defaultFS", "file:")
    stamps = file_stamps([path]) if fs.startswith("file") else None
    key = stamps and (stamps, tuple(spark.conf.get(c) for c in _INFER_CONFS))
    schemas = vars(sc).setdefault("_ife_parquet_schemas", {})
    hit = schemas.get(path)
    if key and hit and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key:
        schemas[path] = (key, df.schema)
    return df


def _dec(col, scale=2):
    return F.col(col).cast(f"decimal(18,{scale})")


_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ---------------------------------------------------------------------------
# Elementwise / projection / filter family (SURVEY §2.2 P1-P6, P11)
# ---------------------------------------------------------------------------

def q_elementwise_revenue(spark, sf_dir):
    """P1/P2 multiply-divide, P3 cast, aggregated pricing summary.

    Decimal pipeline keeps sums exact (see module docstring)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    revtax = rev * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal internally for exact sums; DOUBLE on the wire (driver
            # hashes pandas dtypes — Decimal objects are hash-fragile)
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(rev).cast("double").alias("sum_rev"),
            F.sum(revtax).cast("double").alias("sum_rev_tax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_register(
    "q_elementwise_revenue",
    q_elementwise_revenue,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS sum_rev,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
                    (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
                AS DOUBLE) AS sum_rev_tax,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)


def q_clamp_threshold_mask(spark, sf_dir):
    """P4 clamp, P5 threshold, P6 mask: events value windowed to [5,15],
    thresholded indicator, masked value (0 outside mask)."""
    ev = _t(spark, sf_dir, "events")
    clamped = F.least(F.greatest(_dec("value"), F.lit(5).cast("decimal(18,2)")),
                      F.lit(15).cast("decimal(18,2)"))
    thresh = F.when(F.col("value") > 10.0, 1).otherwise(0)
    masked = F.when(F.col("event_type") != "error", _dec("value")).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(clamped).cast("double").alias("sum_clamped"),
            F.sum(thresh).cast("long").alias("n_above"),
            F.sum(masked).cast("double").alias("sum_masked"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_register(
    "q_clamp_threshold_mask",
    q_clamp_threshold_mask,
    """
    SELECT event_type,
           CAST(SUM(CAST(LEAST(GREATEST(CAST(value AS DECIMAL(18,2)), CAST(5 AS DECIMAL(18,2))),
                          CAST(15 AS DECIMAL(18,2))) AS DECIMAL(18,2))) AS DOUBLE) AS sum_clamped,
           CAST(SUM(CASE WHEN value > 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(SUM(CASE WHEN event_type <> 'error' THEN CAST(value AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_masked,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)


def q_membership(spark, sf_dir):
    """P8 set-membership relabel + O3 sorted include set."""
    o = _t(spark, sf_dir, "orders")
    inside = F.when(F.col("o_orderstatus").isin("F", "P"), F.lit("kept")).otherwise(
        F.lit("dropped")
    )
    return (
        o.withColumn("membership", inside)
        .groupBy("o_orderpriority", "membership")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )


_register(
    "q_membership",
    q_membership,
    """
    SELECT o_orderpriority,
           CASE WHEN o_orderstatus IN ('F','P') THEN 'kept' ELSE 'dropped' END AS membership,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
)


def q_intensity_window(spark, sf_dir):
    """P11 affine intensity windowing [level±width/2] -> [0,255] clamped,
    per part container."""
    p = _t(spark, sf_dir, "part")
    # window retailprice: level=1000, width=1000 -> [500,1500] -> [0,255]
    lo, hi = 500.0, 1500.0
    scaled = (F.col("p_retailprice") - F.lit(lo)) / F.lit(hi - lo) * F.lit(255.0)
    windowed = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(255.0))
    # per-row affine + clamp is IEEE-exact; bucket to int for hashing
    return (
        p.groupBy("p_brand")
        .agg(
            F.sum(F.floor(windowed)).cast("long").alias("sum_win"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


_register(
    "q_intensity_window",
    q_intensity_window,
    """
    SELECT p_brand,
           CAST(SUM(FLOOR(LEAST(GREATEST((p_retailprice - 500.0)/1000.0*255.0, 0.0), 255.0))) AS BIGINT) AS sum_win,
           COUNT(*) AS n_parts
    FROM part
    GROUP BY p_brand
    """,
)


# ---------------------------------------------------------------------------
# Histogram family (SURVEY §2.5 A1/A2)
# ---------------------------------------------------------------------------

_HIST_EDGES = [1000.0, 10000.0, 25000.0, 50000.0, 75000.0]


def _bin_expr(col, edges):
    """Right-closed binning (-inf,e0], (e0,e1], ... matching
    DenseHistogram.h:45-53 (lower_bound insert)."""
    expr = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(F.col(col) <= F.lit(edges[i]), F.lit(i)).otherwise(expr)
    return expr


def _bin_sql(col, edges):
    cases = " ".join(
        f"WHEN {col} <= {e} THEN {i}" for i, e in enumerate(edges)
    )
    return f"CASE {cases} ELSE {len(edges)} END"


def q_histogram_fixed(spark, sf_dir):
    """A1/A2 dense histogram with fixed edges over l_extendedprice:
    bin counts + relative frequencies (exact-count division -> double is
    IEEE-deterministic)."""
    li = _t(spark, sf_dir, "lineitem")
    total = li.count()
    return (
        li.withColumn("bin", _bin_expr("l_extendedprice", _HIST_EDGES))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("bin_count"))
        .withColumn("frequency", F.col("bin_count") / F.lit(float(total)))
    )


_register(
    "q_histogram_fixed",
    q_histogram_fixed,
    f"""
    SELECT {_bin_sql('l_extendedprice', _HIST_EDGES)} AS bin,
           COUNT(*) AS bin_count,
           COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem) AS frequency
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Aggregation family (A5 mode, A6 masked mean, A7 bbox)
# ---------------------------------------------------------------------------

def q_mode_label(spark, sf_dir):
    """A5 majority label per group with deterministic tie-break (count desc,
    label asc) — ExtractLabels.cxx:159-212 semantics. Option-free call of
    the same operator q_mode_label_options exercises fully."""
    from ..operators.labels import mode_label

    ev = _t(spark, sf_dir, "events")
    return (
        mode_label(ev, by="user_id", label_col="event_type")
        .select(
            "user_id",
            F.col("mode_label").alias("mode_event"),
            F.col("mode_count"),
        )
    )


_register(
    "q_mode_label",
    q_mode_label,
    """
    SELECT user_id, event_type AS mode_event, cnt AS mode_count
    FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC) AS rn
      FROM events
      WHERE event_type IS NOT NULL  -- mirrors mode_label: nulls never vote
      GROUP BY user_id, event_type
    )
    WHERE rn = 1
    """,
)


def q_masked_mean(spark, sf_dir):
    """A6 masked mean with empty-mask -> 0 (coalesce), per user: mean click
    value. Exact decimal sum / exact count -> double division."""
    ev = _t(spark, sf_dir, "events")
    clicks = F.when(F.col("event_type") == "click", _dec("value"))
    return ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(clicks).cast("double")
            / F.sum(F.when(clicks.isNotNull(), 1)).cast("double"),
            F.lit(0.0),
        ).alias("mean_click_value")
    )


_register(
    "q_masked_mean",
    q_masked_mean,
    """
    SELECT user_id,
           COALESCE(
             CAST(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CASE WHEN event_type='click' THEN 1 END) AS DOUBLE),
             0.0) AS mean_click_value
    FROM events
    GROUP BY user_id
    """,
)


def q_bounding_box(spark, sf_dir):
    """A7 bounding box of foreground: min/max extents per user over
    non-error events; timestamps rendered as strings."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") != "error")
    return (
        ev.groupBy("user_id")
        .agg(
            F.date_format(F.min("ts"), _TS_FMT_SPARK).alias("ts_min"),
            F.date_format(F.max("ts"), _TS_FMT_SPARK).alias("ts_max"),
            F.min(_dec("value")).cast("double").alias("value_min"),
            F.max(_dec("value")).cast("double").alias("value_max"),
            F.count(F.lit(1)).alias("n_fg"),
        )
    )


_register(
    "q_bounding_box",
    q_bounding_box,
    f"""
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS ts_min,
           strftime(MAX(ts), '{_TS_FMT_DUCK}') AS ts_max,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_min,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_max,
           COUNT(*) AS n_fg
    FROM events
    WHERE event_type <> 'error'
    GROUP BY user_id
    """,
)


# ---------------------------------------------------------------------------
# Join family (J1 equi, J2 range, + broadcast)
# ---------------------------------------------------------------------------

def q_join_equi(spark, sf_dir):
    """J1 equi join on keys (image x mask analog): orders x lineitem,
    revenue per order priority. Large-large -> sort-merge/shuffled hash by
    Catalyst + AQE."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev).cast("double").alias("sum_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_register(
    "q_join_equi",
    q_join_equi,
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS sum_rev,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)


_QTY_BANDS = [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 60.0, "high")]


def q_join_range(spark, sf_dir):
    """J2 range/containment join: lineitem quantity vs broadcast band table
    (ROI box containment analog, MakeBag.cxx:425-458). The tiny dim side is
    explicitly broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_QTY_BANDS, "lo double, hi double, band string")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_quantity") > F.col("lo")) & (F.col("l_quantity") <= F.col("hi")),
        "inner",
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


_register(
    "q_join_range",
    q_join_range,
    """
    WITH bands(lo, hi, band) AS (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), (25.0, 60.0, 'high'))
    SELECT band, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN bands ON l_quantity > lo AND l_quantity <= hi
    GROUP BY band
    """,
)


def q_topk(spark, sf_dir):
    """O1/O5 top-k with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("totalprice"),
            "o_orderpriority",
        )
    )


_register(
    "q_topk",
    q_topk,
    """
    SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)


# ---------------------------------------------------------------------------
# Window family (N1 lag/lead, N4 backfill, R1/R2 sessionize)
# ---------------------------------------------------------------------------

def q_lag_lead(spark, sf_dir):
    """N1 central differences along the entity-time axis; per-row IEEE
    arithmetic (deterministic). Ordered by (ts, event_id) for tie safety."""
    from ..operators.windows import lag_lead

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    out = lag_lead(ev, by="user_id", order=["ts", "event_id"], value="value")
    return out.select(
        "event_id", "user_id", "value_lag", "value_lead", "value_d1", "value_d2"
    )


_register(
    "q_lag_lead",
    q_lag_lead,
    """
    SELECT event_id, user_id,
           LAG(value) OVER w AS value_lag,
           LEAD(value) OVER w AS value_lead,
           (LEAD(value) OVER w - LAG(value) OVER w) / 2.0 AS value_d1,
           LEAD(value) OVER w - 2.0*value + LAG(value) OVER w AS value_d2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


def q_backfill(spark, sf_dir):
    """N4 causal backfill (normalized-convolution missing-data semantics):
    error events' values are treated as missing and forward-filled."""
    from ..operators.windows import backfill

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    out = backfill(ev, by="user_id", order=["ts", "event_id"], cols="v")
    return out.select("event_id", "user_id", "v", "v_filled")


_register(
    "q_backfill",
    q_backfill,
    """
    SELECT event_id, user_id,
           CASE WHEN event_type <> 'error' THEN value END AS v,
           LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM events
    """,
)


def q_sessionize(spark, sf_dir):
    """R1/R2 session boundaries (gap rule, 30 min): one row per session with
    event count and duration in seconds."""
    from ..operators.windows import session_stats

    ev = _t(spark, sf_dir, "events")
    out = session_stats(ev, by="user_id", ts="ts", gap=1800.0)
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        F.date_format("session_start", _TS_FMT_SPARK).alias("start_s"),
        F.date_format("session_end", _TS_FMT_SPARK).alias("end_s"),
        F.round("duration_sec", 6).alias("duration_sec"),
    )


_register(
    "q_sessionize",
    q_sessionize,
    f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800.0
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '{_TS_FMT_DUCK}') AS start_s,
           strftime(MAX(ts), '{_TS_FMT_DUCK}') AS end_s,
           ROUND(epoch(MAX(ts)) - epoch(MIN(ts)), 6) AS duration_sec
    FROM sess
    GROUP BY user_id, session_id
    """,
)


# ---------------------------------------------------------------------------
# As-of join (J3/N6) — DuckDB ASOF JOIN oracle
# ---------------------------------------------------------------------------

def _clicks_purchases(spark, sf_dir):
    """The as-of queries' two sides: clicks, and purchases deduped on
    (user, ts) by max(value) so a match is unambiguous in every engine."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("value").alias("click_value")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return clicks, purchases


_SQL_CLICKS_PURCHASES = """
    clicks AS (
      SELECT user_id, ts, event_id, value AS click_value
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )"""


def _clicks_asof_out(out, value="purchase_value"):
    """The as-of queries' output columns; `value` names the matched one."""
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "click_value", value,
    )


def q_asof_join(spark, sf_dir):
    """J3 point-in-time join: for each click, the latest purchase value at
    or before it, per user (the entity-window merge, backward)."""
    from ..operators.asof import asof_join

    clicks, purchases = _clicks_purchases(spark, sf_dir)
    return _clicks_asof_out(asof_join(clicks, purchases, on="ts", by="user_id"))


_ASOF_BACKWARD_SQL = f"""
    WITH {_SQL_CLICKS_PURCHASES}
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '{_TS_FMT_DUCK}') AS ts_s,
           c.click_value, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """

_register("q_asof_join", q_asof_join, _ASOF_BACKWARD_SQL)


# ---------------------------------------------------------------------------
# Set ops / dedup / slice selection (SURVEY §2.9, R5)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash (md5 of text): per-source unique/total
    counts (the survivor table itself is dedup.exact_dedup, pytest-gated)."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select("source", "doc_id", F.md5(F.col("text")).alias("h"))
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
    )


_register(
    "q_dedup_exact",
    q_dedup_exact,
    """
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents
    GROUP BY source
    """,
)


def q_slice_selection(spark, sf_dir):
    """R5 fractional slice selection with window expansion + dedup
    (ExtractSlices.cxx:166-204): per user pick events at fractional
    positions {0, 0.5, 1} of their ordered history, expand ±1, dedup."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    idx = ev.withColumn("rn", F.row_number().over(w) - 1)
    cnt = idx.groupBy("user_id").agg(F.max("rn").alias("max_rn"))
    locs = [0.0, 0.5, 1.0]
    sel = (
        cnt.select(
            F.col("user_id").alias("sel_user_id"),
            F.explode(
                F.array_distinct(
                    F.flatten(
                        F.array(
                            *[
                                F.array(
                                    F.round(F.lit(loc) * F.col("max_rn")).cast("long") - 1,
                                    F.round(F.lit(loc) * F.col("max_rn")).cast("long"),
                                    F.round(F.lit(loc) * F.col("max_rn")).cast("long") + 1,
                                )
                                for loc in locs
                            ]
                        )
                    )
                )
            ).alias("want_rn"),
        )
        .where((F.col("want_rn") >= 0))
    )
    return sel.join(
        idx,
        (F.col("sel_user_id") == F.col("user_id")) & (F.col("want_rn") == F.col("rn")),
    ).select("user_id", "event_id", "rn")


_register(
    "q_slice_selection",
    q_slice_selection,
    """
    WITH idx AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), cnt AS (
      SELECT user_id, MAX(rn) AS max_rn FROM idx GROUP BY user_id
    ), want AS (
      SELECT DISTINCT c.user_id, CAST(ROUND(loc * c.max_rn) AS BIGINT) + off AS want_rn
      FROM cnt c,
           (VALUES (0.0), (0.5), (1.0)) AS l(loc),
           (VALUES (-1), (0), (1)) AS o(off)
      WHERE CAST(ROUND(loc * c.max_rn) AS BIGINT) + off >= 0
    )
    SELECT i.user_id, i.event_id, i.rn
    FROM want w JOIN idx i ON w.user_id = i.user_id AND w.want_rn = i.rn
    """,
)


# ---------------------------------------------------------------------------
# Flagship (non-SQL-expressible): token feature extraction + equalized edges
# ---------------------------------------------------------------------------

FLAGSHIP_DOCS = 256


def digest_col(vec_col):
    """Arrow-vectorized digest of an array<double> column via the SHARED
    formatter (kernels.vec_digest) — the same function the VALUES-literal
    oracle generators call, so Spark result and oracle go through one
    float->text rendering (a Catalyst format_string would use Java's
    HALF_UP %e, which differs from Python on exact decimal ties)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def dig(vals):
        from image_feature_extraction_spark.functions.kernels import vec_digest

        return vals.map(lambda v: None if v is None else vec_digest(v))

    return dig(vec_col)


def q_flagship_features(spark, sf_dir):
    """The reference's flagship per-sample pipeline (§3.1+§3.3): synthetic
    token table -> 8 features x 2 scales -> histogram feature vector per
    doc. The vector rides as a deterministic digest (the driver
    canonicalizer needs scalar columns); the full vectors stay
    allclose-gated against the numpy oracle in tests/test_features_e2e.py,
    and the digest is value-checked against the VALUES-literal oracle
    built from the INDEPENDENT per-doc numpy path (_flagship_features_sql)."""
    from .. import synth
    from ..operators.features import extract_features

    df = synth.token_table(spark, FLAGSHIP_DOCS)
    out = extract_features(df, scales=(1.0, 2.0))
    return out.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "source",
        F.size("features").cast("long").alias("vec_len"),
        digest_col(F.col("features")).alias("feat_digest"),
    )


def _flagship_features_sql() -> str:
    """VALUES-literal oracle (q_checkpoint_ledger pattern): expected rows
    computed from the INDEPENDENT per-doc numpy oracle — K.doc_feature_vector,
    the unfused single-document reference path that the fused batch kernel
    (K.batch_feature_vectors, used by the Spark query) is separately tested
    bit-identical to — over the same deterministic synth model. Mirrors the
    reference's golden-literal contract surface (tools/MakeBag.cxx:473-490
    scalar bag rows, test/Symmetric3x3EigenvalueSolverTest.cxx:48-90)."""
    import numpy as np

    from .. import synth
    from ..functions import kernels as K

    vals = []
    for i in range(FLAGSHIP_DOCS):
        r = synth.doc_row(i)
        vec = K.doc_feature_vector(np.asarray(r["tokens"]), (1.0, 2.0), None)
        vals.append(
            f"('{r['doc_id']}', {int(r['n_tok'])}, '{r['source']}', "
            f"{len(vec)}, '{K.vec_digest(vec)}')"
        )
    return f"""
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, source,
           CAST(vec_len AS BIGINT) AS vec_len, feat_digest
    FROM (VALUES {", ".join(vals)})
         AS t(doc_id, n_tok, source, vec_len, feat_digest)
    """


_register("q_flagship_features", q_flagship_features, _flagship_features_sql)


EQUALIZED_DOCS = 128
EQUALIZED_CELLS = 32
EQUALIZED_BINS = 4


def q_equalized_edges(spark, sf_dir):
    """A3 equi-depth edges over sampled corpus feature values (two-phase
    flow §3.2). Exact duplicate-aware algorithm; value-checked against a
    VALUES-literal oracle recomputed with pure numpy (_equalized_edges_sql)."""
    import pandas as pd

    from .. import synth
    from ..operators.features import compute_equalized_edges, sample_feature_values

    df = synth.token_table(spark, EQUALIZED_DOCS)
    long_df = sample_feature_values(
        df, scales=(1.0,), doc_fraction=1.0, cells_per_doc=EQUALIZED_CELLS
    )
    edges = compute_equalized_edges(long_df, n_scales=1, n_bins=EQUALIZED_BINS)
    # exploded (scale, feature, edge_idx) rows: scalar columns only, so the
    # driver canonicalizer can sort/hash them
    rows = [
        {
            "scale_idx": si,
            "feature_idx": fi,
            "edge_idx": ei,
            "edge_value": float(v),
        }
        for si in range(edges.shape[0])
        for fi in range(edges.shape[1])
        for ei, v in enumerate(edges[si, fi])
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "scale_idx long, feature_idx long, edge_idx long, edge_value double",
    )


def _equalized_edges_sql() -> str:
    """VALUES-literal oracle: the whole two-phase sampling + equi-depth
    flow recomputed WITHOUT Spark — per-doc foreground cells, the
    deterministic md5 cell-choice rng (seed spec of
    features.sample_feature_values), kernel values, then exact
    duplicate-aware edges over the sorted multiset. The distributed path's
    row-cap window never drops rows at this size (4096 << sample_cap), so
    the multisets are identical and the edges bit-equal."""
    import hashlib

    import numpy as np

    from .. import synth
    from ..functions import kernels as K

    acc: dict = {}
    for i in range(EQUALIZED_DOCS):
        r = synth.doc_row(i)
        img, cert = K.pad_to_cube(np.asarray(r["tokens"]))
        fg = np.flatnonzero(cert.reshape(-1))
        if len(fg) == 0:
            continue
        dseed = int.from_bytes(
            hashlib.md5(f"cells:42:{r['doc_id']}".encode()).digest()[:8], "little"
        )
        rng = np.random.Generator(np.random.PCG64(dseed))
        take = min(EQUALIZED_CELLS, len(fg))
        chosen = rng.choice(fg, size=take, replace=False)
        for si, sigma in enumerate((1.0,)):
            feats = K.emphysema_features(img, cert, sigma)
            flat = feats.reshape(-1, K.NUM_FEATURES)[chosen]
            for fi in range(K.NUM_FEATURES):
                acc.setdefault((si, fi), []).append(flat[:, fi])
    vals = []
    for (si, fi), chunks in sorted(acc.items()):
        sorted_vals = np.sort(np.concatenate(chunks))
        for ei, v in enumerate(K.equalized_edges(sorted_vals, EQUALIZED_BINS)):
            # Quoted string literal: a bare numeric literal parses as
            # DECIMAL first and can lose the final ulp on the way to
            # DOUBLE (observed on q_lm_score probabilities).
            vals.append(f"({si}, {fi}, {ei}, CAST('{float(v)!r}' AS DOUBLE))")
    return f"""
    SELECT CAST(scale_idx AS BIGINT) AS scale_idx,
           CAST(feature_idx AS BIGINT) AS feature_idx,
           CAST(edge_idx AS BIGINT) AS edge_idx,
           edge_value
    FROM (VALUES {", ".join(vals)})
         AS t(scale_idx, feature_idx, edge_idx, edge_value)
    """


_register("q_equalized_edges", q_equalized_edges, _equalized_edges_sql)


# Training-data-pipeline queries (dedup / similarity / text / extra window
# coverage) live in a sibling module; importing it extends the registry.
from . import queries_datapipe  # noqa: E402,F401  (registration side effect)
