"""Parallelism pinning for Python grouped-map stages.

AQE coalesces shuffle partitions by *bytes*
(`spark.sql.adaptive.advisoryPartitionSizeInBytes`), which is the
right proxy for JVM relational work but a terrible one for
`applyInPandas`: a 60 MB partition is "one task" to AQE yet seconds of
single-threaded pandas compute. Left alone, a 32-core machine runs the
whole grouped-map stage on 1-2 tasks. An explicit
``repartition(n, key)`` is user-specified, so AQE leaves it alone; the
grouped-map's required hash distribution is already satisfied and no
further exchange is inserted.

On a cluster the same reasoning holds: pin the Python stage's width to
the executor-core count (the session's shuffle-partition setting),
not to AQE's byte heuristic.
"""

from __future__ import annotations

from pyspark.errors import (
    AnalysisException,
    PySparkAttributeError,
    PySparkNotImplementedError,
)
from pyspark.sql import DataFrame


_SIZE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark size-conf values come back suffixed ('4194304b', '128m',
    '1g') — a bare int() raises on them."""
    s = str(v).strip().lower()
    for suf in sorted(_SIZE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * _SIZE_SUFFIX[suf]
    return int(float(s))


def estimate_scan_width(
    sizes: "list[int]", max_bytes: int, open_cost: int, parallelism: int
) -> int:
    """Spark's file-scan partition-count estimate, pure arithmetic
    (mirrors FilePartition.maxSplitBytes + the bin-packing): each file
    is billed size + openCost; the split size is
    min(maxPartitionBytes, max(openCost, total/defaultParallelism)) —
    the parallelism FLOOR means a 200 MB file on 8 cores scans as ~8
    splits, not 2. Unit-tested directly in tests/test_parallelism.py."""
    total = sum(open_cost + s for s in sizes)
    par = max(1, parallelism)
    split = min(max_bytes, max(open_cost, total // par or 1))
    return max(1, -(-total // max(1, split)))  # ceil division


def ensure_min_parallelism(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan before CPU-heavy derivation (tokenize,
    shingle, hash, vector math).

    A small compressed parquet file yields one input split, so every
    downstream expression runs single-threaded regardless of core
    count. Round-robin repartition IFF the scan is narrower than the
    target; at production scale the scan already exceeds it and this is
    a no-op — no shuffle is ever forced onto an already-wide scan.

    Width is estimated from ``df.inputFiles()`` plus the session's
    split parameters (driver-side listing + stat, no job): Spark
    bin-packs small files into splits of ``maxPartitionBytes`` (each
    file also billed ``openCostInBytes``), so the scan's partition
    count is ≈ ceil((Σsize + n·openCost) / maxPartitionBytes) — a raw
    ``len(inputFiles())`` would OVER-count exactly the
    many-small-files case this function exists to fix (40 tiny files =
    a 2-partition scan after packing). Files whose size can't be
    stat'ed locally fall back to one split each (conservative: may
    skip a widening, never forces a useless one). Non-file plans
    (JDBC, createDataFrame, cached frames) fall back to the
    ``df.rdd.getNumPartitions()`` probe — it pays a plan→RDD
    conversion, but only for the rare non-file caller, not on every
    parquet-scan query as the pre-round-4 code did. A multi-gigabyte
    single file IS split-estimated correctly by the byte math.
    """
    import os
    from urllib.parse import urlparse

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    try:
        files = df.inputFiles()
    except AnalysisException:  # streaming plans have no file listing
        files = []
    if files:
        conf = df.sparkSession.conf
        max_bytes = _parse_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        )
        open_cost = _parse_bytes(
            conf.get("spark.sql.files.openCostInBytes", str(4 << 20))
        )
        sizes = []
        for f in files:
            p = urlparse(f)
            path = p.path if p.scheme in ("", "file") else None
            try:
                size = os.path.getsize(path) if path else None
            except OSError:
                size = None
            # unknown size (remote FS): bill the open-cost only — at
            # worst this UNDER-estimates width and widens needlessly once
            sizes.append(size if size is not None else 0)
        width = estimate_scan_width(
            sizes,
            max_bytes,
            open_cost,
            df.sparkSession.sparkContext.defaultParallelism,
        )
    else:
        # non-file-backed plan: the only honest probe is the RDD one
        # (streaming plans cannot become an RDD; Spark Connect has none)
        try:
            width = df.rdd.getNumPartitions()
        except (AnalysisException, PySparkNotImplementedError, PySparkAttributeError):
            width = 0
    if width >= num_partitions:
        return df
    return df.repartition(num_partitions)


def pin_group_parallelism(
    df: DataFrame, *keys: str, num_partitions: int | None = None
) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` into an AQE-proof explicit
    partition count, sized for a following CPU-bound grouped map."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    return df.repartition(num_partitions, *keys)
