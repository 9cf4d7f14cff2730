#!/usr/bin/env python3
"""Catalog timer: run every catalog query over the tables in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 set, see SF_DIR) on
local[$SPARK_GRAFT_CPUS] and print TWO JSON lines: the full per-query
line, then a compact last line {"metric", "unit", "sf", "n_queries",
"queries", "value"} whose `queries` are the CEILINGS entries in name
order. Every entry's raw seconds also land in $SPARK_GRAFT_BENCH_SELF
(default BENCH_SELF.json).

Each query is forced end-to-end with a noop datasource write — full
execution of the physical plan (scan → shuffle → sink) without driver
collect overhead, which is what a cluster job would look like.

Seconds are raw wall-clock. Speed claims are judged by the same-session
A/B runs of `perfbench/run.py` (BENCHMARK.json), not by comparing this
output across sessions.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from trace_data_pipeline_spark.operators.caching import release_caches  # noqa: E402
from trace_data_pipeline_spark.plans import get_catalog  # noqa: E402
from trace_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The hot entries: the compact stdout line reports exactly these, and
# tests/test_bench_floor.py gates each against its ceiling (seconds).
# Ceiling = 3x the raw min-of-3 under the pytest fixture config
# (local[8], shuffle=8, sf0.1) on a 4-CPU box, rounded to 0.5 s.
CEILINGS: dict[str, float] = {
    "a1s_streaming_daily_panel": 17.0,  # min 5.68
    "d12b_png_features": 5.5,  # min 1.84
    "d12c_jpeg_features": 6.5,  # min 2.09
    "d12d_wav_features": 4.5,  # min 1.58
    "d12e_video_frame_features": 11.5,  # min 3.77
    "d18_dedup_clusters": 13.5,  # min 4.58
    "d19_semantic_dedup_clusters": 9.0,  # min 3.01
    "d2_ngram_jaccard_pairs": 9.5,  # min 3.13
    "d31_cluster_representatives": 11.5,  # min 3.90
    "d34_repetition_signals": 5.5,  # min 1.81
    "j4_correction_chain": 13.0,  # min 4.28
    "p0_stage0_panel": 11.5,  # min 3.86
    "p1_stage0_full": 17.5,  # min 5.89
    "p2_stage1_full": 5.5,  # min 1.88
    "p3_standard_full": 5.0,  # min 1.74
    "p4_monthly_signals": 5.0,  # min 1.67
    "p5_carry_value": 6.5,  # min 2.22
    "p6_portfolio_panel": 14.0,  # min 4.69
    "p7_factor_panel": 23.0,  # min 7.60
    "p8_tail_risk_panel": 6.5,  # min 2.19
    "r18_bond_characteristics_evolution": 4.5,  # min 1.44
    "r2_descriptive_by_rating": 6.0,  # min 2.06
    "r2_error_checks": 20.5,  # min 6.78
    "r3_availability_by_rating": 5.5,  # min 1.91
    "r5_distressed_series": 17.0,  # min 5.64
    "r6_default_dynamics": 3.5,  # min 1.11
    "r8_active_dormant": 1.5,  # min 0.43
    "s5_wire_ingest_dedup": 12.0,  # min 4.01
    "w10e_full_record": 10.0,  # min 3.38
    "w10f_yield_to_worst": 4.5,  # min 1.50
    "w10g_yield_to_worst_schedule": 7.5,  # min 2.46
    "w10h_odd_first_coupon": 4.5,  # min 1.52
    "w10i_act_exact_record": 12.0,  # min 4.02
    "w10j_dated_schedule_record": 5.5,  # min 1.76
    "w11b_modified_following": 1.5,  # min 0.49
    "w1_decimal_shift": 10.5,  # min 3.52
    "w2_bounce_back": 9.0,  # min 3.04
    "w7_ultra_distressed": 8.0,  # min 2.65
}

# entries over this many seconds on their first run are re-run once and
# recorded as min-of-2; sub-second entries stay single-shot
RETRY_ABOVE = 1.0


def infer_sf(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else float("nan")


def main() -> None:
    spark = get_spark(app_name="trace-spark-bench")
    catalog = get_catalog()
    unknown = set(CEILINGS) - set(catalog)
    if unknown:  # a rename must not silently drop an entry from the line
        raise SystemExit(f"CEILINGS names not in catalog: {sorted(unknown)}")

    # warm the JVM/codegen paths so per-query numbers measure the plans,
    # not first-use class loading
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    # ...and the Python worker pool, so the first Arrow-UDF query isn't
    # billed for the interpreter spawns the later ones reuse
    import pandas as pd  # noqa: F401

    spark.range(1_000).repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ...and the common physical shapes (hash agg, broadcast join,
    # window) so the alphabetically-first catalog entries aren't billed
    # for one-time executor/codegen warm-up the later ones skip
    from pyspark.sql import Window, functions as F

    wdf = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").cast("double").alias("v")
    )
    dim = spark.range(97).select(F.col("id").alias("k"), F.lit("x").alias("t"))
    (
        wdf.join(F.broadcast(dim), "k")
        .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
        .groupBy("k")
        .agg(F.sum("v"), F.max("r"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # ...and the Structured Streaming machinery (micro-batch engine,
    # state store, offset/commit logs): a one-row file-source stream
    # through a stateful agg costs ~2-3 s here and saves the ~15 s of
    # one-time class loading that otherwise lands inside the first
    # streaming entry's recorded number
    import shutil
    import tempfile

    _wbase = tempfile.mkdtemp(prefix="bench_stream_warm_")
    _wsrc = os.path.join(_wbase, "src")
    spark.range(1).selectExpr(
        "timestamp'2020-01-01' AS ts", "id AS k", "1.0 AS v"
    ).coalesce(1).write.parquet(_wsrc)
    _wq = (
        spark.readStream.schema("ts timestamp, k long, v double")
        .parquet(_wsrc)
        .groupBy(F.window("ts", "1 day"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("bench_stream_warm")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(_wbase, "ckpt"))
        .start()
    )
    try:
        _wq.processAllAvailable()
    finally:
        _wq.stop()
    shutil.rmtree(_wbase, ignore_errors=True)

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        catalog[name].builder(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.perf_counter() - t0, 3)
        # drop this query's tracked caches OUTSIDE its timed window —
        # keeps numbers independent and the session leak-free without
        # billing query N for its own cleanup
        release_caches()
        return dt

    timings: dict[str, float] = {}
    first: dict[str, float] = {}
    for name in sorted(catalog):
        first[name] = dt = run_once(name)
        if dt > RETRY_ABOVE:
            dt = min(dt, run_once(name))
        timings[name] = dt
    total = round(sum(timings.values()), 3)
    head = {"metric": "catalog_wall_clock", "unit": "sec", "sf": infer_sf(SF_DIR)}

    # the test invocation (bench at sf0.001) redirects this file so it
    # cannot overwrite the committed sf0.1 artifact
    here = os.path.dirname(os.path.abspath(__file__))
    self_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SELF", os.path.join(here, "BENCH_SELF.json")
    )
    host = {
        "cpus": os.cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "retry_above_sec": RETRY_ABOVE,
    }
    with open(self_path, "w") as f:
        json.dump(
            {**head, "n_queries": len(timings), "host": host,
             "queries": timings, "queries_first": first, "value": total},
            f,
            indent=1,
        )
    print(json.dumps({**head, "queries": timings, "value": total}))
    # LAST line: a compact summary that fits the driver's stdout tail,
    # which the full line above (~4 KB at 133 entries) overflows
    hot = {k: timings[k] for k in sorted(CEILINGS)}
    print(
        json.dumps(
            {**head, "n_queries": len(timings), "queries": hot, "value": total},
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
