"""Physical-plan regression pins for EVERY Window-building operator.

Round 4's audit found the same latent defect in five operators: chained
``withColumn`` interleaves Projects that defeat CollapseWindow, silently
multiplying Window operators — each extra Window is a full extra buffer
pass per partition (measured 3-4x where the docs claimed one). The
encoder family got a plan pin that round; this extends it to every
operator that builds a Window, so the trap cannot be re-introduced
anywhere (VERDICT r4 next-round #3).

Counts pinned here are the AUDITED structural minima, not whatever the
code happened to produce: 1 Window for independent window expressions
over one spec; 2 for genuinely nested dependencies (sessionize's
cumulative sum consumes lag's output — two passes over ONE exchange+sort
is the floor; mode_label's rank consumes the count aggregate). Exchange
counts are pinned exactly as audited (PLANS.md documents each shape).

The similarity operators are pinned too (Window, Exchange and Arrow
counts, no row-at-a-time Python), so their single numpy path keeps its
shape, and so are the dedup band joins, the chained Arrow stages of the
flagship, its checkpoint unit and the scan -> as-of -> features
pipeline. No registered query may end in a display sort.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark.operators import asof as AS
from image_feature_extraction_spark.operators import dedup as D
from image_feature_extraction_spark.operators import encode as EN
from image_feature_extraction_spark.operators import features as FE
from image_feature_extraction_spark.operators import labels as LB
from image_feature_extraction_spark.operators import sequences as SQ
from image_feature_extraction_spark.operators import similarity as S
from image_feature_extraction_spark.operators import windows as W
from image_feature_extraction_spark.operators.curation import (
    temporal_holdout as _temporal_holdout,
)
from image_feature_extraction_spark.operators.quantiles import (
    exact_quantile_values,
)
from image_feature_extraction_spark.plans.audit import counts_of, plan_counts, plan_of


def _events(spark):
    rows = [
        (i, i % 3, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=30 * i),
         float(i % 7))
        for i in range(30)
    ]
    return spark.createDataFrame(
        rows, "id long, ent long, ts timestamp, value double"
    )


# name -> (builder(spark), expected Window count, expected Exchange count,
#          why that count is the floor)
CASES = {
    "lag_lead": (
        lambda s: W.lag_lead(_events(s), by="ent", order="ts", value="value"),
        1, 1, "4 expressions, one spec",
    ),
    "backfill_multi_col": (
        lambda s: W.backfill(
            _events(s), by="ent", order="ts", cols=["value", "id"]
        ),
        1, 1, "per-column last() shares one spec",
    ),
    "sessionize": (
        lambda s: W.sessionize(_events(s), by="ent", ts="ts", gap=60.0),
        2, 1, "cumsum consumes lag output: nested, 2 passes / 1 exchange",
    ),
    "session_stats": (
        lambda s: W.session_stats(_events(s), by="ent", ts="ts", gap=60.0),
        2, 1, "sessionize plans + partial-agg before its exchange",
    ),
    "nearest_event_distance": (
        lambda s: W.nearest_event_distance(
            _events(s), by="ent", ts="ts", marker=F.col("value") > 5
        ),
        2, 1, "running frames walking time up and down: two sorts over "
              "one exchange (a single sort needs an O(n^2) frame)",
    ),
    "moving_aggregate": (
        lambda s: W.moving_aggregate(
            _events(s), by="ent", ts="ts", value="value", width=60.0
        ),
        1, 1, "count+sum share one RANGE frame; mean reuses columns",
    ),
    "expanding_zscore": (
        lambda s: EN.expanding_zscore(
            _events(s), by="ent", ts="ts", value="value"
        ),
        1, 1, "incl/peer frames in one projection",
    ),
    "expanding_robust_stats": (
        lambda s: EN.expanding_robust_stats(
            _events(s), by="ent", ts="ts", value="value", id_col="id"
        ),
        1, 1, "3 percentiles + count share one frame",
    ),
    "bucketed_robust_stats": (
        lambda s: EN.bucketed_robust_stats(
            _events(s), by="ent", ts="ts", value="value", bucket_seconds=10.0
        ),
        1, 1, "bucket-frozen RANGE frame",
    ),
    "frequency_encode": (
        lambda s: EN.frequency_encode(_events(s), by="ent", ts="ts"),
        1, 1, "one strict-precedence count",
    ),
    "target_encode": (
        lambda s: EN.target_encode(
            _events(s).withColumnRenamed("id", "event_id"),
            by="ent", ts="ts", label="value",
        ),
        1, 4, "bucket partials agg + window over buckets + join back "
              "(exchanges carry per-bucket partials, never the corpus)",
    ),
    "decayed_features": (
        lambda s: EN.decayed_features(
            _events(s), by="ent", ts="ts", value="value", bucket_seconds=10.0
        ),
        1, 5, "within-bucket window + bucket-aggregate carry join",
    ),
    "winsorize": (
        lambda s: EN.winsorize(_events(s), by="ent", value="value"),
        0, 1, "groupBy percentile + broadcast join back: NO window",
    ),
    "pack_sequences": (
        lambda s: SQ.pack_sequences(
            s.createDataFrame(
                [(i, f"s{i % 2}", 10 + i) for i in range(20)],
                "doc_id long, source string, n_tok long",
            ),
            capacity=64,
        ),
        1, 1, "one running-sum exchange on the group key",
    ),
    "mode_label": (
        lambda s: LB.mode_label(
            s.createDataFrame(
                [(i % 5, f"L{i % 3}") for i in range(30)],
                "grp long, label string",
            ),
            by="grp", label_col="label",
        ),
        2, 2, "rank consumes the count aggregate: nested by definition",
    ),
    "exact_quantile_values": (
        lambda s: exact_quantile_values(_events(s), "value", "ent", 4),
        1, 1, "row_number + full-frame count share one operator",
    ),
    "asof_join_bucketed": (
        lambda s: AS.asof_join(
            _events(s),
            _events(s).withColumnRenamed("value", "rv").drop("id"),
            on="ts", by="ent", direction="nearest",
        ),
        2, 1, "union partitioned by entity: one row-scale exchange, one "
              "Window per fill direction (nearest fills both)",
    ),
    "asof_join_cubic": (
        lambda s: AS.asof_join(
            _events(s),
            _events(s).withColumnRenamed("value", "rv").drop("id"),
            on="ts", by="ent", direction="cubic",
        ),
        4, 1, "the same union and exchange; per walk, the stencil neighbour "
              "then the fill that carries it (nested: 2 Windows, 1 sort)",
    ),
    "gaussian_time_smooth": (
        lambda s: W.gaussian_time_smooth(
            _events(s), by="ent", ts="ts", value="value", sigma=30.0
        ),
        0, 3, "banded self-join + aggregation: NO window (explode + "
              "equi-join + groupBy)",
    ),
    "temporal_holdout": (
        lambda s: _temporal_holdout(
            _events(s), by="ent", ts="ts", id_col="id"
        ),
        1, 1, "ROW_NUMBER + COUNT share the ordered spec "
              "(full-partition ROWS frame trick)",
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_windowed_operator_plan_pinned(spark, name):
    build, want_win, want_ex, why = CASES[name]
    # shared regexes with scripts/plan_audit.py (plans/audit.py) so the
    # pins and the committed artifact can never count different operator
    # sets. BroadcastExchange deliberately NOT counted here: broadcasts
    # are the cheap path; this pin is about shuffles and window passes.
    c = plan_counts(build(spark))
    got_win, got_ex = c["win"], c["exch"]
    assert c["pyrow"] == c["arrow"] == 0, f"{name}: a Python node in the plan"
    assert got_win == want_win, (
        f"{name}: {got_win} Window operators, audited floor is {want_win} "
        f"({why}) — a chained-withColumn Project between Windows defeats "
        f"CollapseWindow and multiplies buffer passes"
    )
    assert got_ex == want_ex, (
        f"{name}: {got_ex} Exchanges, audited shape has {want_ex} ({why})"
    )


def test_no_window_frame_runs_to_unbounded_following(spark):
    """Spark re-aggregates a frame from the current row to UNBOUNDED
    FOLLOWING for every row (UnboundedFollowingWindowFunctionFrame), so
    it costs O(n^2) per partition; a hot entity made that minutes. The
    as-of merge (every direction) and nearest_event_distance walk time
    descending over a running frame instead. Whole-partition frames are
    O(n) and stay allowed."""
    right = _events(spark).withColumnRenamed("value", "rv").drop("id")
    builds = {
        d: AS.asof_join(_events(spark), right, on="ts", by="ent", direction=d)
        for d in ("backward", "forward", "nearest", "interpolate", "cubic")
    }
    builds["nearest_event_distance"] = W.nearest_event_distance(
        _events(spark), by="ent", ts="ts", marker=F.col("value") > 5
    )
    for name, df in builds.items():
        plan = plan_of(df)
        assert "unboundedpreceding$(), currentrow$()" in plan, name
        assert "currentrow$(), unboundedfollowing$()" not in plan, name


def test_flagship_is_one_python_stage(spark):
    """The flagship's public operators (synth, the as-of match, the feature
    kernel) chain into ONE mapInArrow over Range. Three separate stages
    instead add two JVM<->Python Arrow crossings (measured ~19% slower on
    local[4]); a broadcast stats index and a file-less source mean no
    shuffle."""
    from image_feature_extraction_spark.plans.flagship import flagship_pipeline

    c = plan_counts(flagship_pipeline(spark, 200))
    assert (c["arrow"], c["exch"]) == (1, 0), c


def test_flagship_unit_is_one_python_stage(spark):
    """scripts/run_flagship.py's checkpoint unit (token_table_for_ids ->
    as-of -> features) is one Arrow stage over its id repartition."""
    import importlib.util
    import os

    from image_feature_extraction_spark.plans.flagship import flagship_stats

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "run_flagship.py",
    )
    spec = importlib.util.spec_from_file_location("run_flagship", path)
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    unit = script.unit_frame(spark, [1, 2, 3, 5, 8], flagship_stats(spark, 10), (1.0,))
    c = plan_counts(unit)
    assert (c["arrow"], c["exch"]) == (1, 1), c


def test_tokens_pipeline_one_stage_over_widened_scan(spark, token_parquet):
    """scan -> asof_join_broadcast -> extract_features runs as ONE
    mapInArrow over the scan, widened by one round-robin exchange. A
    derived or cached DataFrame between the operators keeps its own
    stage."""
    from image_feature_extraction_spark.plans.flagship import flagship_stats

    scan = spark.read.parquet(token_parquet)
    stats = flagship_stats(spark, 60)

    def pipeline(between):
        joined = AS.asof_join_broadcast(scan, stats, on="ts", by="source")
        return FE.extract_features(between(joined), scales=(1.0,))

    fused = pipeline(lambda d: d)
    plan = plan_of(fused)
    c = counts_of(plan)
    assert (c["arrow"], c["exch"]) == (1, 1), c
    assert "RoundRobinPartitioning" in plan
    assert plan_counts(pipeline(lambda d: d.filter("n_tok > 0")))["arrow"] == 2
    joined = AS.asof_join_broadcast(scan, stats, on="ts", by="source").cache()
    try:
        assert "InMemoryTableScan" in plan_of(FE.extract_features(joined))
    finally:
        joined.unpersist()


def _embeddings(spark):
    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _query_vectors(spark):
    return _embeddings(spark).where(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


# name -> (builder(spark), expected Window, Exchange, Arrow counts, why).
# Every similarity path runs its vector math in Arrow batches: a
# row-at-a-time Python node (pyrow) is never allowed.
SIMILARITY_CASES = {
    "lsh_topk": (
        lambda s: S.lsh_topk(
            _embeddings(s), _query_vectors(s), k=3, n_planes=2, n_tables=2, dim=8
        ),
        1, 8, 3,
        "bucket UDF per side (once per row: posexplode_outer infers no "
        "non-empty filter to push below it) + one cosine UDF",
    ),
    "cosine_topk": (
        lambda s: S.cosine_topk(_embeddings(s), _query_vectors(s), k=3),
        1, 1, 1, "cartesian product + one cosine UDF + the top-k window",
    ),
    "embedding_neardup_pairs_bucketed": (
        lambda s: D.embedding_neardup_pairs_bucketed(
            _embeddings(s), threshold=0.5, n_planes=2, n_tables=2, dim=8
        ),
        0, 2, 2,
        "bucket UDF (once, as in lsh_topk) + per-bucket applyInPandas; "
        "(tbl, bkt) exchange + pair distinct",
    ),
}


def _assert_pinned(spark, name, case) -> dict[str, int]:
    """Check a (builder, Window, Exchange, Arrow, why) case; return the
    plan's counts."""
    build, want_win, want_ex, want_arrow, why = case
    c = plan_counts(build(spark))
    assert c["pyrow"] == 0, f"{name}: row-at-a-time Python in the plan"
    got = (c["win"], c["exch"], c["arrow"])
    assert got == (want_win, want_ex, want_arrow), (
        f"{name}: (Window, Exchange, Arrow) = {got}, audited shape is "
        f"{(want_win, want_ex, want_arrow)} ({why})"
    )
    return c


@pytest.mark.parametrize("name", sorted(SIMILARITY_CASES))
def test_similarity_plan_pinned(spark, name):
    _assert_pinned(spark, name, SIMILARITY_CASES[name])


def _docs(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [
        (f"d{i:02d}", " ".join(words[(i + j) % 10] for j in range(8 + i % 3)))
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


# name -> (builder(spark), expected Window, Exchange, Arrow counts, why).
# The band joins are equi-joins: no Cartesian product may appear.
DEDUP_CASES = {
    "minhash_lsh_pairs": (
        lambda s: D.minhash_lsh_pairs(_docs(s), num_hashes=4, band_rows=1),
        0, 5, 0,
        "signature groupBy(doc_id) per join side + the (band, key) "
        "equi-join's two sides + the per-pair band count",
    ),
    "ngram_jaccard_pairs": (
        lambda s: D.ngram_jaccard_pairs(_docs(s), n=2, threshold=0.1),
        0, 7, 0,
        "shingle equi-join's two sides + the common count + one "
        "shingle-count groupBy per side + the re-keys to doc_a and doc_b",
    ),
    "embedding_neardup_pairs": (
        lambda s: D.embedding_neardup_pairs(_embeddings(s), threshold=0.5),
        0, 0, 1,
        "the corpus matrix rides a SparkContext broadcast; one "
        "mapInPandas over a row-index range, no shuffle",
    ),
}


@pytest.mark.parametrize("name", sorted(DEDUP_CASES))
def test_dedup_plan_pinned(spark, name):
    c = _assert_pinned(spark, name, DEDUP_CASES[name])
    assert c["cartesian"] == 0, f"{name}: a band join became a cross join"


def test_registered_queries_have_no_display_sort(spark):
    """Results are multisets: every consumer (the driver, check_oracle,
    the benchmark's EXCEPT ALL check) compares them order-insensitively,
    so no registered query may end in a global sort. Walking down from
    the optimized plan's root through Projects must not reach one. A
    sort under a LIMIT (q_topk plans as GlobalLimit, then
    TakeOrderedAndProject) is not a display sort and passes."""
    import __spark_entry__ as entry
    from scripts.plan_audit import SF_DIR

    offenders = []
    for name, build in sorted(entry.queries().items()):
        node = build(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
        while node.nodeName() == "Project":
            node = node.child()
        if node.nodeName() == "Sort" and getattr(node, "global")():
            offenders.append(name)
    assert not offenders, f"queries ending in a global sort: {offenders}"
