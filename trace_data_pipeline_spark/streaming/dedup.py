"""Streaming exact deduplication — the d1 operator's streaming twin.

An at-least-once ingest (Kafka replays, file redelivery, producer
retries) re-delivers rows; a training-data stream must drop them
before they enter the corpus. `dropDuplicatesWithinWatermark` keeps
per-key state ONLY until the event-time watermark passes the key's
first arrival + delay, so state is O(keys inside the watermark
horizon) — bounded by ingest rate × delay, independent of stream
length. (Plain `dropDuplicates` on a stream never expires state and
grows without bound — the classic leak this wrapper exists to avoid.)

Duplicates arriving later than `delay` after the original are NOT
suppressed — choose the delay to cover the redelivery window of the
transport (producer-retry and replay horizons are minutes, not days).
Within that contract, stream output == batch `dropDuplicates(keys)`
over the same rows, which is what the equivalence test asserts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def streaming_exact_dedup(
    events: DataFrame,
    id_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """First occurrence of each `id_cols` key passes through (append
    mode, emitted immediately); re-deliveries within the watermark
    horizon are dropped; key state expires `delay` past the watermark."""
    return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(id_cols)
    )

