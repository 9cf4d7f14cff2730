"""Streaming pipeline equivalence + sink round-trips + audit ledger.

Covers SURVEY §2.8 (streaming extension), §2.1 S6–S8 (parquet/csv
sinks, incremental append) and S13 (audit ledger via Observation).
"""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from tests.conftest import TEST_SF_DIR
from trace_data_pipeline_spark.operators.filters import AuditLedger, filter_with_log
from trace_data_pipeline_spark.sources import load_table
from trace_data_pipeline_spark.streaming.daily import (
    daily_event_panel,
    stream_events_from_dir,
)


def test_streaming_daily_panel_matches_batch(spark, tmp_path):
    """The same builder over a file-source stream (3 micro-batch files)
    and over the batch frame must agree row-for-row — late arrivals
    inside the watermark are merged by update-mode state."""
    ev = load_table(spark, TEST_SF_DIR, "events").select(
        "ts", "user_id", "value", "event_id"
    )
    src = os.path.join(str(tmp_path), "drops")
    # three unordered drops: event-id striping scatters each day's rows
    # across micro-batches, exercising cross-batch state merge
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).write.mode("overwrite").parquet(
            os.path.join(src, f"drop_{i}.parquet")
        )
    stream = stream_events_from_dir(
        spark, os.path.join(src, "*"), ev.schema, max_files_per_trigger=1
    )
    q = (
        daily_event_panel(stream, watermark=None)
        .writeStream.format("memory")
        .queryName("daily_panel_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM daily_panel_test").toPandas()
    want = daily_event_panel(ev, watermark=None).toPandas()

    key = ["day", "user_id"]
    got = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    want = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    got["day"] = got["day"].astype(str)
    want["day"] = want["day"].astype(str)
    assert got.equals(want), "stream result != batch result"
    assert len(got) > 0


def test_parquet_snappy_roundtrip(spark, tmp_path):
    """S6: parquet + snappy write, read back identical."""
    df = load_table(spark, TEST_SF_DIR, "nation")
    path = os.path.join(str(tmp_path), "nation_pq")
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    back = spark.read.parquet(path)
    assert sorted(back.columns) == sorted(df.columns)
    assert back.count() == df.count()


def test_csv_gzip_roundtrip(spark, tmp_path):
    """S7: csv + gzip alternative output format."""
    df = load_table(spark, TEST_SF_DIR, "region")
    path = os.path.join(str(tmp_path), "region_csv")
    df.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == df.count()
    assert any(f.endswith(".gz") for f in os.listdir(path) if f.startswith("part"))


def test_incremental_append(spark, tmp_path):
    """S8: the reference's read-concat-rewrite chunk loop is a native
    append-mode write."""
    df = load_table(spark, TEST_SF_DIR, "supplier")
    path = os.path.join(str(tmp_path), "sup_pq")
    half1 = df.filter(F.col("s_suppkey") % 2 == 0)
    half2 = df.filter(F.col("s_suppkey") % 2 == 1)
    half1.write.mode("overwrite").parquet(path)
    half2.write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == df.count()
    shutil.rmtree(path)


def test_audit_ledger_counts(spark):
    """S13: chained audited filters — rows_before(k+1) == rows_after(k)
    and every stage only removes rows (SURVEY §5 invariants)."""
    df = load_table(spark, TEST_SF_DIR, "lineitem")
    ledger = AuditLedger()
    out = filter_with_log(df, F.col("l_extendedprice") > 0, "positive_price", ledger)
    out = filter_with_log(out, F.col("l_quantity") >= 5, "min_volume", ledger)
    out = filter_with_log(out, F.col("l_returnflag") != "R", "no_reversals", ledger)
    total = out.count()  # one action materializes every observation
    rows = ledger.collect()
    assert [r["stage"] for r in rows] == [
        "positive_price",
        "min_volume",
        "no_reversals",
    ]
    counts = [r["rows_after"] for r in rows]
    assert counts[-1] == total
    assert counts == sorted(counts, reverse=True)
    for earlier, later in zip(rows, rows[1:]):
        assert later["rows_before"] == earlier["rows_after"]


def test_streaming_dedup_drops_redelivered_rows(spark, tmp_path):
    """At-least-once replay: drop 2 re-delivers half of drop 1's rows.
    The watermarked stream dedup must emit exactly the batch
    dropDuplicates result — each event_id once, no replayed row."""
    from trace_data_pipeline_spark.streaming.dedup import streaming_exact_dedup

    ev = load_table(spark, TEST_SF_DIR, "events").select(
        "ts", "user_id", "event_id"
    )
    half = ev.filter(F.col("event_id") % 2 == 0)
    drops = [ev, half]  # drop 1: everything; drop 2: redelivery of half
    src = os.path.join(str(tmp_path), "dedup_drops")
    for i, d in enumerate(drops):
        p = os.path.join(src, f"drop_{i}.parquet")
        d.write.mode("overwrite").parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = (
        streaming_exact_dedup(stream, ("event_id",), "ts", "2 hours")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM dedup_test").toPandas()
    n_events = ev.count()
    assert len(got) == n_events, (
        f"stream emitted {len(got)} rows, batch distinct has {n_events}"
    )
    assert got["event_id"].is_unique


def test_kafka_wire_decode_batch_and_stream(spark, tmp_path):
    """The Kafka wire-format decode is transport-independent: the same
    decode runs on a batch frame and on a file-backed stream, and
    malformed messages null out instead of failing."""
    import json

    import pyspark.sql.functions as F

    from trace_data_pipeline_spark.streaming.kafka import decode_json_events

    msgs = [
        json.dumps(
            {"event_id": i, "ts": f"2024-01-01 00:00:0{i}", "user_id": i % 3,
             "event_type": "click", "value": 1.5 * i, "props": "{}"}
        )
        for i in range(5)
    ] + ["{not json"]
    batch = spark.createDataFrame(
        [(m.encode(),) for m in msgs], "value binary"
    )
    got = decode_json_events(batch).collect()
    assert len(got) == 6
    ok = [r for r in got if r["event_id"] is not None]
    assert len(ok) == 5 and {r["user_id"] for r in ok} == {0, 1, 2}
    assert got[-1]["event_id"] is None  # malformed → nulls, not a crash

    # same decode over a streaming source
    src = tmp_path / "wire"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(msgs))
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .select(F.col("value").cast("binary").alias("value"))
    )
    q = (
        decode_json_events(stream)
        .writeStream.format("memory")
        .queryName("kafka_wire")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM kafka_wire").collect()
    finally:
        q.stop()
    assert len(rows) == 6
    assert sorted(r["event_id"] for r in rows if r["event_id"] is not None) == list(range(5))


def test_kafka_source_raises_clearly_without_connector(spark):
    import pytest as _pytest

    from trace_data_pipeline_spark.streaming.kafka import kafka_json_stream

    with _pytest.raises(RuntimeError, match="spark-sql-kafka"):
        kafka_json_stream(spark, "trades", "localhost:9092")


def test_streaming_media_feature_extraction(spark, tmp_path):
    """The multimodal operators compose with Structured Streaming
    unchanged (mapInPandas is stream-capable): a file-source stream of
    binary payloads flows through extract_features, and the streamed
    rows equal the batch run over the same payloads."""
    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_gray
    from trace_data_pipeline_spark.datapipe.multimodal import extract_features

    rows = []
    for k in range(6):
        w, h = 8 + k % 3, 8
        px = bytes(((x // 8) * 31 + (y // 8) * 17 + k) % 256
                   for y in range(h) for x in range(w))
        rows.append((k, bytearray(encode_jpeg_gray(w, h, px))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    src = os.path.join(str(tmp_path), "media")
    media.write.mode("overwrite").parquet(src)

    batch = {r.media_id: list(r.features)
             for r in extract_features(media).collect()}

    stream = spark.readStream.schema("media_id long, payload binary").parquet(src)
    q = (
        extract_features(stream)
        .writeStream.format("memory")
        .queryName("media_feats_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.media_id: list(r.features)
           for r in spark.sql("SELECT * FROM media_feats_test").collect()}
    assert got == batch


def test_a1s_mtime_guard_raises_on_reordered_drops(tmp_path):
    """r10 verdict item 5: the replay's chronological ordering rides on
    os.utime being honored — on a mount that ignores it (object store,
    odd tmpfs), the file source would replay drops out of event-time
    order and the watermark would silently drop data. The guard must
    fail LOUDLY instead."""
    import os

    import pytest

    from trace_data_pipeline_spark.plans.streaming_parity import (
        _assert_ascending_mtimes,
    )

    paths = []
    for i in range(3):
        p = tmp_path / f"part-{i}"
        p.write_text("x")
        paths.append(str(p))
    # ascending passes
    for i, p in enumerate(paths):
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    _assert_ascending_mtimes(paths)
    # a filesystem that ignored utime (all equal) must raise
    for p in paths:
        os.utime(p, (1_000_000_000, 1_000_000_000))
    with pytest.raises(RuntimeError, match="not strictly ascending"):
        _assert_ascending_mtimes(paths)
    # ...as must an outright reorder
    os.utime(paths[0], (1_000_000_002, 1_000_000_002))
    os.utime(paths[1], (1_000_000_001, 1_000_000_001))
    os.utime(paths[2], (1_000_000_000, 1_000_000_000))
    with pytest.raises(RuntimeError, match="not strictly ascending"):
        _assert_ascending_mtimes(paths)


def test_a1s_replay_is_genuinely_multi_batch(spark):
    """The a1s catalog entry's replay must actually exercise streaming
    state: N_DROPS distinct micro-batches, and at least one (day, user)
    key re-emitted across batches (cross-batch state merge) with its
    n_events strictly increasing — the monotonicity the final
    max_by-on-n_events reduction relies on."""
    from trace_data_pipeline_spark.plans.streaming_parity import (
        N_DROPS,
        replay_daily_panel,
    )

    em = replay_daily_panel(spark, TEST_SF_DIR).cache()
    try:
        batches = [r["__batch"] for r in em.select("__batch").distinct().collect()]
        assert len(batches) == N_DROPS, batches
        multi = (
            em.groupBy("day", "user_id")
            .agg(
                F.countDistinct("__batch").alias("nb"),
                (F.count(F.lit(1)) == F.countDistinct("n_events")).alias(
                    "strictly_increasing"
                ),
            )
        ).cache()
        assert multi.filter(F.col("nb") > 1).count() > 0
        # re-emissions always add events: equal n_events across two
        # emissions of one key would make the final reduction ambiguous
        assert multi.filter(~F.col("strictly_increasing")).count() == 0
        multi.unpersist()
    finally:
        em.unpersist()


@pytest.mark.slow
@pytest.mark.parametrize("n_drops", [2, 6])
def test_a1s_panel_invariant_to_drop_granularity(spark, n_drops, monkeypatch):
    """The a1s entry's WATERMARKED replay must produce the identical
    final panel whatever the chunking: 2 coarse drops and 6 fine drops
    must both hash out to the batch panel (the oracle pins 4). If the
    watermark ever dropped a boundary-straddling window or the
    max_by-on-n_events reduction mis-picked a stale emission, some
    granularity would diverge. Memo hygiene matters twice here: the
    memo key does NOT include the drop count, so clear it before (to
    force a fresh replay at this granularity) and after (so no other
    test inherits a nonstandard-granularity staging dir)."""
    import trace_data_pipeline_spark.plans.streaming_parity as sp

    monkeypatch.setattr(sp, "N_DROPS", n_drops)
    sp._REPLAY_CACHE.clear()
    try:
        got = sp.a1s_streaming_daily_panel(spark, TEST_SF_DIR).collect()
    finally:
        sp._REPLAY_CACHE.clear()

    ev = load_table(spark, TEST_SF_DIR, "events").select(
        "ts", "user_id", "value"
    )
    want = (
        daily_event_panel(ev, id_col="user_id", value_col="value")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "user_id",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
        .collect()
    )
    key = lambda r: (r["day"], r["user_id"])  # noqa: E731
    assert len(got) == len(want) > 0
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, want), key=lambda t: (t[0], t[1])
    )


def test_a1s_replay_memo_locked_and_fingerprint_keyed(tmp_path, monkeypatch):
    """The replay memo's miss path is double-checked under a lock —
    concurrent builders pay the ~multi-second replay ONCE — and the key
    folds in a content fingerprint of the input events table, so a
    REWRITTEN sf_dir within one session re-replays instead of serving
    the previous contents' emissions (r11 ADVICE)."""
    import threading
    import time

    import trace_data_pipeline_spark.plans.streaming_parity as sp

    calls: list[str] = []

    def fake_run(spark, sf_dir):
        calls.append(sf_dir)
        time.sleep(0.3)  # wide miss window: unlocked code runs it 4x
        d = tmp_path / f"upd{len(calls)}"
        d.mkdir()
        return str(d)

    monkeypatch.setattr(sp, "_run_replay", fake_run)

    class _SC:
        applicationId = "app-memo-test"

    class _Read:
        @staticmethod
        def parquet(p):
            return ("frame", p)

    class _Spark:
        sparkContext = _SC()
        read = _Read()

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x" * 10)

    sp._REPLAY_CACHE.clear()
    fake_spark = _Spark()
    results: list = []
    threads = [
        threading.Thread(
            target=lambda: results.append(
                sp.replay_daily_panel(fake_spark, str(sf))
            )
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1, f"concurrent misses ran the replay {len(calls)}x"
    assert len({r[1] for r in results}) == 1  # everyone read one staging dir

    # same session, same path, REWRITTEN input -> fingerprint miss
    (sf / "events.parquet").write_bytes(b"y" * 11)
    sp.replay_daily_panel(fake_spark, str(sf))
    assert len(calls) == 2, "rewritten input served stale emissions"
    sp._REPLAY_CACHE.clear()
