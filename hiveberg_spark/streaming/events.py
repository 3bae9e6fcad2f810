"""Structured Streaming source over the events table [N].

The reference is batch-only; the north star adds an unbounded events
stream. Locally the parquet fixture is replayed as a file-source stream
(`availableNow` processes the backlog and terminates — the same code
runs unbounded against a live directory/Kafka source at scale).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# File-source streams require an explicit schema, and the schema must
# match the fixture's PHYSICAL type for ts. The driver has shipped the
# events table both ways across regenerations — TIMESTAMP(NANOS)
# (surfaced as long via nanosAsLong, see session.py) and plain
# timestamp[us] — so the source peeks at the parquet footer and adapts
# instead of hard-coding either. A wrong guess is silent and
# catastrophic: reading micros as "nanos" then dividing compresses all
# event times 1000x into January 1970.
_SCHEMA_TS_NANOS_LONG = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
_SCHEMA_TS_NTZ = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
_SCHEMA_TS_LTZ = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _fixture_ts_kind(sf_dir: str) -> str:
    """Classify the physical type of events.ts by reading one parquet
    footer (driver-side, metadata-only — at scale this is the same single
    footer read Spark's own schema inference performs).

    Returns one of:
      - "nanos":  TIMESTAMP(NANOS) / raw int64 — Spark surfaces long
                  under nanosAsLong; needs integer div 1000 → micros
      - "ntz":    timestamp without timezone (us/ms) — read directly
      - "ltz":    timestamp with timezone — read directly
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return "nanos"
        return "ltz" if t.tz is not None else "ntz"
    # raw int64 epoch column: the nanos convention (original fixtures)
    return "nanos"


def _stream_input_dir(sf_dir: str) -> str:
    """The file stream source wants a directory to watch; stage one with a
    symlink to the fixture (in production this is the landing directory
    new files arrive into)."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"hbs_stream_in_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded read of the events table with a proper event-time column.

    ts becomes TIMESTAMP (ltz) in every branch — `withWatermark` rejects
    TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session
    timezone is forced to UTC (session.py), so the ntz→ltz cast is an
    identity on the underlying micros and every derived output
    (date_format / unix_micros / window bounds) matches the batch path's
    ntz values exactly. For nanos fixtures the conversion uses integer
    `div` — epoch nanos exceed 2^53 so float division would corrupt the
    low microseconds."""
    kind = _fixture_ts_kind(sf_dir)
    schema = {
        "nanos": _SCHEMA_TS_NANOS_LONG,
        "ntz": _SCHEMA_TS_NTZ,
        "ltz": _SCHEMA_TS_LTZ,
    }[kind]
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_stream_input_dir(sf_dir))
    )
    if kind == "nanos":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_to_memory(
    df: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink and return the final result as a batch DataFrame. The
    checkpoint directory is removed once the query has ended, whether
    it finished or raised; the memory-sink table stays, because the
    returned frame reads it."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    checkpoint = os.path.join(
        tempfile.gettempdir(), f"hbs_checkpoint_{uuid.uuid4().hex[:12]}"
    )
    q = None
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(checkpoint, ignore_errors=True)
    return df.sparkSession.table(name)
