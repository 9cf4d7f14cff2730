"""Bench-floor regression gate: the hottest catalog entries
(`bench.CEILINGS`) must stay under a wall-clock ceiling at sf0.1, so a
d18-style collapse (72 s from a dropped persist) is caught in-repo.

Ceilings are 3x the raw min-of-3 under this fixture's config
(local[8], shuffle=8) on a 4-CPU box — loose enough for machine drift,
far below the 10x+ blowups this gate exists to catch. Seconds are raw:
up to MAX_RUNS attempts, passing as soon as ONE run beats the ceiling
(a real regression fails every attempt; a stall would have to hit
three runs in a row to false-positive).

Validation (4-CPU box, 2026-10-17): no-op'ing `tracked_persist` + the
edge-list `.persist()` inside d18's CC pipeline (`datapipe/dedup.py`)
makes `test_bench_floor[d18_dedup_clusters]` fail with raw runs
27.3 / 18.3 / 17.3 s against its 13.5 s ceiling; the healthy code
passes with warm runs of 4.4-5.5 s. The broken code clears the ceiling
by only ~1.2x, so a collapse smaller than d18's may pass unnoticed.
"""

from __future__ import annotations

import time

import pytest

from bench import CEILINGS

SF_DIR = "/root/testdata/sf0.1"
MAX_RUNS = 3


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_bench_floor(spark, name):
    from trace_data_pipeline_spark.operators.caching import release_caches
    from trace_data_pipeline_spark.plans import get_catalog

    builder = get_catalog()[name].builder
    runs = []
    for _ in range(MAX_RUNS):
        t0 = time.perf_counter()
        builder(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        release_caches()
        if runs[-1] <= CEILINGS[name]:
            break
    assert min(runs) <= CEILINGS[name], (
        f"{name}: raw runs {[f'{r:.2f}' for r in runs]}s all exceed the "
        f"{CEILINGS[name]:.1f}s ceiling — a real perf regression"
    )
