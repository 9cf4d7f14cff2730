"""ensure_min_parallelism: the widening decision must track Spark's
small-file bin-packing, not raw file counts (round-4 review finding)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from trace_data_pipeline_spark.operators.parallelism import (
    ensure_min_parallelism,
)


def _n_parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_many_small_files_still_widen(spark, tmp_path):
    """40 tiny part-files bin-pack into a handful of scan splits; a raw
    file-count heuristic would see 40 >= 8 and skip the widening the
    downstream CPU stage needs."""
    p = os.path.join(str(tmp_path), "tiny40")
    spark.range(400).withColumn("t", F.lit("x")).repartition(40).write.mode(
        "overwrite"
    ).parquet(p)
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # zero open-cost makes the packer collapse the 40 tiny files
        # into ~1 split — the adversarial case for a file-count probe
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) >= 30  # genuinely many small files
        # Spark packs them into ~default.parallelism splits, well under
        # a 16-wide CPU stage — but a raw file-count probe reads 40
        assert _n_parts(df) < 16
        out = ensure_min_parallelism(df, num_partitions=16)
        assert _n_parts(out) == 16
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_single_small_file_widens(spark, tmp_path):
    p = os.path.join(str(tmp_path), "one")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    out = ensure_min_parallelism(spark.read.parquet(p), num_partitions=8)
    assert _n_parts(out) == 8


def test_wide_nonfile_plan_not_reshuffled(spark):
    """A non-file plan that is already wide must NOT pay a repartition
    (the RDD-probe fallback path)."""
    df = spark.range(0, 1000, 1, 16)
    out = ensure_min_parallelism(df, num_partitions=8)
    assert out is df


def test_estimate_counts_bytes_not_files(spark, tmp_path):
    """A single file bigger than maxPartitionBytes must be estimated as
    multiple splits (byte math), so a genuinely wide single-file scan
    is not force-widened."""
    p = os.path.join(str(tmp_path), "big")
    # ~4 MB of incompressible-ish data in ONE file
    spark.range(200_000).withColumn(
        "t", F.sha2(F.col("id").cast("string"), 256)
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        out = ensure_min_parallelism(df, num_partitions=4)
        # file is ~4-13 MB -> estimated splits >= 4 -> no repartition
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_estimate_scan_width_formula():
    """The pure split math, pinned against Spark's FilePartition rules:
    parallelism floor for mid-sized files, openCost bin-packing for
    many small files, maxPartitionBytes cap for huge files."""
    from trace_data_pipeline_spark.operators.parallelism import (
        estimate_scan_width,
    )

    MB = 1 << 20
    # 200 MB single file on 8 cores: split = 200/8 = 25.5 MB -> 8 splits
    # (without the floor: ceil(204/128) = 2 — the bug the floor fixes)
    assert estimate_scan_width([200 * MB], 128 * MB, 4 * MB, 8) == 8
    # tiny single file: ~one split (the openCost billing may round the
    # estimate up by one — an OVERestimate can only skip a needless
    # widening, never force an extra shuffle, so it is the safe side)
    assert estimate_scan_width([100], 128 * MB, 4 * MB, 32) in (1, 2)
    # 40 small files bin-pack by open cost: total = 40*(4+1) = 200 MB,
    # split floored at openCost (200/32 = 6.25 MB > 4 MB) -> 32 splits
    assert estimate_scan_width([1 * MB] * 40, 128 * MB, 4 * MB, 32) == 32
    # huge file caps at maxPartitionBytes: 10 GB / 128 MB = 81 splits
    assert estimate_scan_width([10 * 1024 * MB], 128 * MB, 4 * MB, 8) == 81


def test_streaming_plan_degrades_to_widening(spark):
    """A streaming plan has neither a file listing nor an RDD: both
    probes raise AnalysisException, which must read as width 0, not
    fail the caller. j4's broadcast-size probe degrades the same way."""
    from trace_data_pipeline_spark.operators.cleaning import _estimated_bytes

    df = spark.readStream.format("rate").load()
    out = ensure_min_parallelism(df, num_partitions=4)
    assert out is not df and out.isStreaming
    assert _estimated_bytes(df) is None
