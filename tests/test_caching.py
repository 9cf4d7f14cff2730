"""The cache registry must actually free what catalog builders persist.

Regression test for the weakref bug: builders persist frames local to the
builder function, so only a strong-reference registry survives until
`release_caches()` is called by bench.py/run.py.
"""

from __future__ import annotations

import pytest

from trace_data_pipeline_spark.operators.caching import (
    release_caches,
    tracked_persist,
)


def _persist_inside_builder(spark):
    # mimics a catalog builder: the persisted wrapper is function-local
    df = tracked_persist(spark.range(100).withColumnRenamed("id", "k"))
    return df.groupBy().count()


def test_release_caches_frees_builder_persists(spark):
    release_caches()  # clean slate
    out = _persist_inside_builder(spark)
    out.collect()
    assert release_caches() >= 1
    assert release_caches() == 0  # registry drained


def test_release_after_catalog_entry(spark, sf_dir):
    """A real cache-using catalog entry must leave releasable caches."""
    import __spark_entry__ as entry_mod

    release_caches()
    q = entry_mod.queries()["d4_minhash_lsh_pairs"]
    q(spark, sf_dir).collect()
    assert release_caches() >= 1


def test_release_sweeps_local_checkpoint_blocks(spark):
    """Eager localCheckpoints store RDD blocks DataFrame.unpersist can't
    reach; release_caches must sweep them so a long-lived session (bench,
    notebook) doesn't accumulate dead storage between queries."""
    release_caches()
    ck = spark.range(1000).localCheckpoint(eager=True)
    ck.count()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() >= 1
    release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_connected_components_converges_and_frees(spark):
    """A 6-node path graph needs >1 propagation round; the loop must
    converge, label every node with the component min, and leave no
    persistent blocks behind except the returned frame's own checkpoint."""
    from trace_data_pipeline_spark.datapipe.dedup import connected_components

    release_caches()
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    out = connected_components(nodes, edges, max_iter=8)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}
    # BEFORE the global sweep (whose release_caches() frees everything
    # and so cannot see a per-round leak — r16 ADVICE): exactly one
    # persistent RDD may remain, the returned labels' eager checkpoint.
    # At the r16 leak this was 7 (one edge-state checkpoint per round:
    # localCheckpoint(eager=False) registers at CALL time, so the
    # next-round id diff missed it).
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 1
    # only the final labels checkpoint may remain; the sweep clears it
    release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_connected_components_raises_when_not_converged(spark):
    """max_iter too small for the component diameter must raise, not
    silently split the cluster (ADVICE round 3)."""
    from trace_data_pipeline_spark.datapipe.dedup import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["a", "b"]
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(nodes, edges, max_iter=1)
    release_caches()


@pytest.fixture
def sf_dir():
    from tests.conftest import TEST_SF_DIR

    return TEST_SF_DIR


def test_scoped_caches_releases_only_inner_frames(spark):
    """scoped_caches must release exactly the frames tracked inside its
    body — outer tracked frames (owned by concurrent work in the same
    session) keep their storage."""
    from trace_data_pipeline_spark.operators.caching import (
        release_caches,
        scoped_caches,
        tracked_persist,
    )

    outer = tracked_persist(spark.range(10).selectExpr("id * 2 AS v"))
    outer.count()
    with scoped_caches():
        inner = tracked_persist(spark.range(5).selectExpr("id + 1 AS w"))
        inner.count()
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory  # released by scope exit
    assert outer.storageLevel.useMemory  # untouched by the scope
    release_caches()
    assert not outer.storageLevel.useMemory


class _FailingFrame:
    """A tracked frame whose unpersist raises `exc`: the stopped-session
    path without stopping the shared session. On a real stopped session
    unpersist raises Py4JJavaError (a Py4JError) and the context's
    `_jsc` is None."""

    def __init__(self, session, exc):
        self.sparkSession = session
        self._exc = exc

    def persist(self):
        return self

    def unpersist(self):
        raise self._exc


class _StoppedSession:
    class sparkContext:
        _jsc = None


def test_release_skips_stopped_session_frames_only(spark):
    """release_caches skips a frame whose session is gone (Py4JError)
    and still frees the live ones; it skips the RDD sweep of a stopped
    context; any other error propagates."""
    from py4j.protocol import Py4JError

    release_caches()
    tracked_persist(_FailingFrame(spark, Py4JError("stopped")))
    live = tracked_persist(spark.range(10))
    live.count()
    assert release_caches() == 1
    assert not live.storageLevel.useMemory

    tracked_persist(_FailingFrame(_StoppedSession(), Py4JError("stopped")))
    assert release_caches() == 0

    tracked_persist(_FailingFrame(spark, ValueError("not a stopped session")))
    with pytest.raises(ValueError):
        release_caches()
    assert release_caches() == 0


def test_scoped_caches_skips_stopped_session_frames_only(spark):
    from py4j.protocol import Py4JError

    from trace_data_pipeline_spark.operators.caching import scoped_caches

    with scoped_caches():
        tracked_persist(_FailingFrame(spark, Py4JError("stopped")))
    with pytest.raises(ValueError), scoped_caches():
        tracked_persist(_FailingFrame(spark, ValueError("not a stopped session")))
    assert release_caches() == 0  # scoped frames never reach the registry


def test_cc_raises_on_path_beyond_jump_reach(spark):
    """Adversarial topology at the d18 CALL SITE's max_iter=8 (r4
    verdict item 5): alternating large/small-star needs
    ~ceil(log2(D+1))+1 rounds on a diameter-D path, so an 1100-node
    path (diameter 1099 → 11 rounds) cannot converge in 8 — the
    contract is a loud raise, never a silently split component."""
    from trace_data_pipeline_spark.datapipe.dedup import connected_components

    n = 1100
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, n)], ["a", "b"])
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(nodes, edges, max_iter=8)
    release_caches()


def test_cc_converges_path_within_jump_reach(spark):
    """The docstring's max_iter sizing rule, positive side: a 300-node
    path (D=299) converges in 9 alternating-star rounds
    (≈ceil(log2(300))+1); max_iter=10 must converge and label the
    whole path with the min id."""
    from trace_data_pipeline_spark.datapipe.dedup import connected_components

    n = 300
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, n)], ["a", "b"])
    out = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(nodes, edges, max_iter=10).collect()}
    assert out == {i: 1 for i in range(1, n + 1)}
    release_caches()


def test_release_hooks_run_once_per_sweep_and_never_block_it(spark):
    """register_release_hook (r11): every release_caches() sweep runs
    each registered hook exactly once — the mechanism the a1s replay
    memo rides on — a raising hook must not abort the sweep (tracked
    frames still free), and re-registering the same callable must not
    double-run it."""
    from trace_data_pipeline_spark.operators.caching import (
        _RELEASE_HOOKS,
        register_release_hook,
    )

    calls = []

    def good():
        calls.append("good")

    def bad():
        calls.append("bad")
        raise RuntimeError("hook exploded")

    before = list(_RELEASE_HOOKS)
    register_release_hook(good)
    register_release_hook(good)  # idempotent per function object
    register_release_hook(bad)
    try:
        df = tracked_persist(spark.range(10))
        df.count()
        released = release_caches()
        assert released >= 1  # the raising hook didn't block the sweep
        assert calls.count("good") == 1
        assert calls.count("bad") == 1
    finally:
        _RELEASE_HOOKS[:] = before


def test_cc_runs_one_action_per_round(spark):
    """r16 fuse: the star-contraction loop submits ONE action per round
    — the gate aggregate's count is also what materializes the previous
    round's lazily-checkpointed rewrite, so there is no separate
    per-round materialization job (and no extra read-back of the
    just-cached edge state). Pinned by total job count on a
    deterministic 3-round graph: the fused loop measures 24 jobs here
    (AQE submits each shuffle query stage as its own job), the
    two-action shape measured 30 — a bound of 26 catches a regression
    to the old shape with slack for minor AQE variation."""
    from trace_data_pipeline_spark.datapipe.dedup import connected_components

    release_caches()
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )
    spark.sparkContext.setJobGroup("cc-fuse-guard", "cc one action per round")
    out = connected_components(nodes, edges, max_iter=8)
    jobs = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup("cc-fuse-guard")
    )
    # result still right (same graph as the convergence test above)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}
    assert jobs <= 26, jobs
    release_caches()
