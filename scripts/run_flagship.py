"""Cluster job entry point: the flagship as-of + feature-extraction run,
checkpointed per source partition.

Submit exactly as the production deployment would:

    python scripts/make_pyfiles.py /tmp/ife_spark.zip
    spark-submit --master local[32] \
        --py-files /tmp/ife_spark.zip \
        scripts/run_flagship.py --docs 48000 --out /tmp/flagship_out

On a real cluster only --master changes (yarn/k8s + executor sizing);
the script touches no local paths except --out (point it at shared
storage). Prints one JSON metrics line; resumable — re-submitting with
the same --out skips completed units via the partition ledger.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def unit_frame(spark, ids, stats, scales):
    """One checkpoint unit: its docs' token table -> as-of stats ->
    features, chained into one mapInArrow stage."""
    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast
    from image_feature_extraction_spark.operators.features import extract_features

    docs = synth.token_table_for_ids(spark, ids)
    joined = asof_join_broadcast(docs, stats, on="ts", by="source")
    return extract_features(joined, scales=scales)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=48_000)
    ap.add_argument("--scales", type=str, default="1.0,2.0")
    ap.add_argument("--out", type=str, required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()
    scales = tuple(float(s) for s in args.scales.split(","))

    from pyspark.sql import SparkSession

    # spark-submit owns master/deploy config; only job-level conf here.
    spark = (
        SparkSession.builder.appName("flagship-asof-features")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.plans import checkpoint as C
    from image_feature_extraction_spark.plans.flagship import flagship_stats

    stats = flagship_stats(spark, args.docs)

    # per-unit doc indices selected token-free (doc_meta) so each unit
    # synthesizes ONLY its own docs — generating the full table per unit
    # and filtering would pay 8x the token-generation cost
    unit_ids = {u: synth.doc_ids_of_source(args.docs, u) for u in synth.SOURCES}

    def unit_job(spark_, unit):
        return unit_frame(spark_, unit_ids[unit], stats, scales)

    t0 = time.time()
    result = C.run_checkpointed(spark, args.out, list(synth.SOURCES), unit_job)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "docs": args.docs,
                "units_ran": result["ran"],
                "units_skipped": result["skipped"],
                "rows_out": result["rows"],
                "wall_sec": round(wall, 2),
                "sequences_per_sec": round(result["rows"] / wall, 1) if wall else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
