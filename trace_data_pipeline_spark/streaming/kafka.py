"""Kafka transport for the streaming surface — config-only wiring.

A Kafka-fed trade tape is the production shape of the reference's
incremental chunk ingestion (SURVEY.md §2.8 extension). The transport
layer is pure configuration (`readStream.format("kafka")`); everything
testable — the wire-format decode and the downstream plan — is shared
with any other source, so the decode is factored out and proven on
batch/file frames while the Kafka hookup itself needs only the
`spark-sql-kafka` connector package on the cluster classpath (not
shipped in this container).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the events-table wire format (JSON per message value)
EVENTS_WIRE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

# Spark's DEFAULT JSON timestampFormat writes milliseconds — a
# round-trip through the wire would silently truncate event times to
# the millisecond and event-time joins/watermarks downstream would see
# different instants than the producer. Pin a micro-precision format
# on BOTH encode and decode (r16: caught by the s5 ingest entry's
# value-hash oracle).
WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_WIRE_OPTS = {"timestampFormat": WIRE_TS_FORMAT}


def json_event_value(df: DataFrame, cols: list[str] | None = None):
    """The wire-encode EXPRESSION (binary JSON of `cols`, micro-second
    timestamps) — lets a caller keep routing columns (timestamps, ids)
    next to the encoded value instead of losing them to a select, so
    e.g. the s5 replay can stage every drop in ONE pass over the
    events table (guide §2.4: one job instead of one filtered
    scan+encode per drop)."""
    cols = list(df.columns) if cols is None else list(cols)
    return F.to_json(F.struct(*[df[c] for c in cols]), _WIRE_OPTS).cast(
        "binary"
    )


def decode_json_events(raw: DataFrame, schema: str = EVENTS_WIRE_SCHEMA) -> DataFrame:
    """Kafka-shaped frame (binary `value` column) → typed event rows.
    Works identically on streaming and batch frames — malformed
    messages yield null columns (from_json's PERMISSIVE mode) rather
    than failing the stream."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema, _WIRE_OPTS).alias(
            "j"
        )
    ).select("j.*")


def kafka_json_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    schema: str = EVENTS_WIRE_SCHEMA,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """readStream from a Kafka topic of JSON events → typed rows.

    Requires the `org.apache.spark:spark-sql-kafka-0-10` package on the
    classpath; raises a clear error when the connector is absent so
    callers can fall back to a file source. `maxOffsetsPerTrigger`
    bounds micro-batch size (the backpressure knob at scale)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    try:
        raw = reader.load()
    except AnalysisException as e:  # connector jar not on classpath
        raise RuntimeError(
            "Kafka source unavailable — add the spark-sql-kafka connector "
            "package to the cluster classpath (not shipped here)"
        ) from e
    return decode_json_events(raw, schema)
