"""Streaming operators [N] (SURVEY.md §2.9) over the events stream.

Each query executes a real Structured Streaming pipeline (file source →
watermark/window/state → memory sink, availableNow trigger) and returns
the final batch result — so the oracle is simply the equivalent batch
SQL over the same data (the strongest batch-vs-stream parity check).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hiveberg_spark.registry import query
from hiveberg_spark.streaming.events import events_stream, run_to_memory

_DEC = "decimal(30,6)"


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark, sf_dir):
    """Tumbling 1-hour windows with a 10-minute watermark. The watermark
    bounds state at scale (late rows beyond it are dropped); with the
    full backlog replayed in one availableNow batch nothing is actually
    late, so stream == batch exactly."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
    )
    # complete mode: append would hold back windows newer than the final
    # watermark, dropping the tail vs the batch oracle
    out = run_to_memory(agg, output_mode="complete", name="tumbling_counts")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "stream_sliding_windows",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start, ts
      FROM events, UNNEST([0, 1]) AS t(k)
    )
    SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n
    FROM expanded
    WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
    GROUP BY 1
    """,
)
def stream_sliding_windows(spark, sf_dir):
    """Sliding windows (1 hour every 30 minutes): each event lands in 2
    overlapping windows."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(agg, output_mode="complete", name="sliding_windows")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n"
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id < 10
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def stream_session_windows(spark, sf_dir):
    """Session windows: 30-minute inactivity gap per user. The streaming
    operator merges adjacent events into variable-length sessions; the
    oracle reproduces the semantics with a batch gaps-and-islands SQL —
    the strongest cross-check of session semantics available."""
    s = events_stream(spark, sf_dir).filter(F.col("user_id") < 10)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="complete", name="session_windows")
    return out.select(
        "user_id",
        F.unix_micros("session_window.start").alias("session_start_us"),
        "n_events",
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT COUNT(DISTINCT event_id) AS n_unique,
           COUNT(DISTINCT event_id) AS n_after_dedup,
           epoch_us(MIN(ts)) AS min_ts_us,
           epoch_us(MAX(ts)) AS max_ts_us
    FROM events
    """,
)
def stream_dedup(spark, sf_dir):
    """Stateful streaming dedup on event_id (dropDuplicates over the
    stream keeps one row per key in state; the watermarked variant
    `dropDuplicatesWithinWatermark` bounds that state in production —
    exercised in tests).

    min/max event-time are part of the output ON PURPOSE: the other
    columns are time-independent, and round 3 proved a time-independent
    oracle stays green while the events source mangles every timestamp
    (fixture drift to timestamp[us]). The ts-derived columns make this
    query fail loudly if that ever happens again. Deterministic because
    event_id is unique in the fixtures (dedup drops nothing)."""
    s = events_stream(spark, sf_dir)
    deduped = s.dropDuplicates(["event_id"])
    agg = deduped.groupBy().agg(
        F.count("*").alias("n_after_dedup"),
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
    )
    out = run_to_memory(agg, output_mode="complete", name="stream_dedup")
    return out.select(
        F.col("n_after_dedup").alias("n_unique"),
        "n_after_dedup",
        "min_ts_us",
        "max_ts_us",
    )


_STATE_SCHEMA = "n long, max_value double, max_ts_us long"
_OUT_SCHEMA = "user_id long, n_events long, max_value double, max_ts_us long"


def _user_stats(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Arbitrary stateful op: running per-user event count + max value +
    max event-time (epoch micros). With availableNow the whole backlog
    arrives in one batch, so the emitted row is the final aggregate
    (== batch oracle). The ts-derived column is deliberate: it keeps the
    oracle sensitive to event-time corruption in the source (round-3
    lesson — a time-independent oracle stayed green over garbage
    timestamps)."""
    n, max_v, max_ts = state.get if state.exists else (0, float("-inf"), -(2**62))
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            max_v = max(max_v, float(pdf["value"].max()))
            # pandas Timestamp.value is epoch NANOS; integer-div to micros
            max_ts = max(max_ts, int(pd.Timestamp(pdf["ts"].max()).value) // 1000)
    state.update((n, max_v, max_ts))
    yield pd.DataFrame(
        [(key[0], n, max_v, max_ts)],
        columns=["user_id", "n_events", "max_value", "max_ts_us"],
    )


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
           epoch_us(MAX(ts)) AS max_ts_us
    FROM events WHERE user_id < 20
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState (the
    arbitrary-state API): per-user running stats, state persisted across
    micro-batches in the state store. Scale: state is per-key and
    incremental — the pattern for sessionization/feature stores that
    windowed aggs can't express."""
    s = events_stream(spark, sf_dir).filter(F.col("user_id") < 20)
    stats = (
        s.groupBy("user_id")
        .applyInPandasWithState(
            _user_stats,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(stats, output_mode="update", name="stateful_user_stats")
    # update-mode sink may hold one row per key per batch; keep the final
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
        F.max("max_ts_us").alias("max_ts_us"),
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    WHERE p.user_id < 20
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: purchases matched to the same user's
    clicks in the preceding 30 minutes. Both sides watermarked — the
    interval condition bounds join state (Spark evicts rows older than
    watermark + interval). The oracle is the equivalent batch interval
    join."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 20))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "click") & (F.col("user_id") < 20))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    out = run_to_memory(
        joined.select("purchase_id", "click_id"),
        output_mode="append",
        name="stream_stream_join",
    )
    return out


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
           epoch_us(MAX(e.ts)) AS max_ts_us
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static join: the unbounded events stream enriched against
    a STATIC dimension (customer) — the standard streaming-enrichment
    shape (fact stream ⋈ broadcast dim), distinct from the
    stream-stream interval join (which needs watermark-bounded state on
    both sides; here the static side needs no state at all). No forced
    broadcast hint: customer SCALES with SF, so the planner's size check
    decides — under the threshold it broadcasts into every micro-batch,
    above it the join correctly degrades to a shuffled join per batch
    (the repo-wide rule test_plans.py enforces). Aggregated per market
    segment; the ts-derived column keeps the oracle sensitive to
    event-time corruption (round-3 lesson)."""
    from hiveberg_spark.catalog import load_table

    s = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = s.join(dim, "user_id")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
    )
    out = run_to_memory(agg, output_mode="complete", name="stream_static_join")
    return out.select("c_mktsegment", "n_events", "total_value", "max_ts_us")


@query(
    "stream_sink_snapshot_table",
    oracle="""
    SELECT (SELECT COUNT(*) FROM events) AS n_rows, CAST(1 AS BIGINT) AS n_snapshots
    """,
)
def stream_sink_snapshot_table(spark, sf_dir):
    """Streaming write INTO the snapshot-table format via foreachBatch:
    each micro-batch commits one snapshot (append), giving the stream an
    Iceberg-style audit trail. availableNow replays the whole fixture in
    one batch → exactly one snapshot. (The reference never writes —
    IcebergSerDe.java:77-80; this is the write path it lacked.)"""
    import os

    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    # the sink table and its checkpoint share one workspace, removed
    # even when the stream raises; the result is driver-built, so
    # nothing returned reads from it
    with stream_workspace("hbs_stream_sink") as base:
        loc = os.path.join(base, "table")
        table = SnapshotTable.create(spark, loc)

        def commit_batch(batch_df, batch_id):
            table.append(batch_df)

        q = (
            s.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = SnapshotTable.load(spark, loc)
        n_rows = back.scan(virtual_column=None).count()
        n_snaps = back.snapshots().count()
    return spark.createDataFrame(
        [(n_rows, n_snaps)], "n_rows long, n_snapshots long"
    )


@query(
    "stream_upsert_sink",
    oracle="""
    SELECT user_id, event_type, value, TRUE AS multi_batch FROM (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_sink(spark, sf_dir):
    """Streaming CDC UPSERT sink — the composition Iceberg v2 equality
    deletes exist for: each micro-batch keeps one row per user_id in a
    snapshot table by committing an equality DELETE of the affected
    keys plus an append of the winning rows, never reading or
    rewriting unaffected data files. Winner per key is max (ts,
    event_id) across the current table row and the batch (so arrival
    order across batches cannot change the result), making the final
    table equal to latest-event-per-user over the whole stream — the
    oracle. The events backlog is split into 3 files consumed with
    maxFilesPerTrigger=1 (`multi_batch` pins that upserts really
    crossed batch boundaries). At 100 TB each batch writes O(batch)
    bytes; scan-side cost is one anti-join against the key set, bounded
    by rewrite_position_deletes/compact."""
    import os

    from pyspark.sql import Window

    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cols = "user_id long, event_id long, ts_us long, event_type string, value double"
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    with stream_workspace("hbs_upsert") as base:
        src_dir = os.path.join(base, "src")
        loc = os.path.join(base, "tbl")
        # split the backlog into 3 files so availableNow +
        # maxFilesPerTrigger=1 yields real successive micro-batches
        events.repartition(3).write.mode("overwrite").parquet(src_dir)
        table = SnapshotTable.create(spark, loc, schema=cols)
        table.append(spark.createDataFrame([], cols))  # seed empty snapshot

        def commit_batch(batch_df, batch_id):
            cand = (
                batch_df.withColumn("ts_us", F.unix_micros("ts"))
                .select("user_id", "event_id", "ts_us", "event_type", "value")
                .withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .drop("rn")
            )
            if cand.isEmpty():
                return
            users = cand.select("user_id").distinct()
            current = table.scan(virtual_column=None).join(
                users, "user_id", "left_semi"
            )
            winners = (
                current.unionByName(cand)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .drop("rn")
            )
            table.delete_by_keys(users)
            table.append(winners)

        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src_dir)
        )
        # normalize ts exactly like events_stream does for ntz fixtures
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            stream.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # > 3 snapshots == more than one upserting batch actually committed
        multi_batch = SnapshotTable.load(spark, loc).snapshots().count() > 3
        out = (
            table.scan(virtual_column=None)
            .select("user_id", "event_type", "value")
            .withColumn("multi_batch", F.lit(bool(multi_batch)))
        )
        return out.localCheckpoint()


@query(
    "stream_scd_enrichment",
    oracle="""
    WITH half AS (
      SELECT CAST(FLOOR((MIN(event_id) + MAX(event_id)) / 2.0) AS BIGINT)
             AS mid
      FROM events
    )
    SELECT e.event_type,
           CASE WHEN e.event_id <= h.mid THEN 'gen1' ELSE 'gen2' END
             AS dim_generation,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e, half h
    GROUP BY 1, 2
    """,
)
def stream_scd_enrichment(spark, sf_dir):
    """Slowly-changing-dimension enrichment across incremental pipeline
    runs: a file stream over the events backlog is processed in TWO
    availableNow runs sharing ONE checkpoint (run 1 sees the first
    half, run 2 only the newly arrived second half — exactly-once file
    tracking), and each run's foreachBatch joins the CURRENT snapshot
    of a dimension table that is UPDATED between runs (gen1 → gen2 via
    copy-on-write UPDATE). Enriched rows append to a result snapshot
    table, so the final contents prove both properties at once: no
    event was processed twice, and each event saw the dimension
    version live at ITS processing time — the standard nightly-
    ingest-with-SCD shape, on this repo's own table format end to
    end."""
    import os

    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    mid = int(
        events.agg(
            F.floor((F.min("event_id") + F.max("event_id")) / 2.0)
        ).head()[0]
    )
    with stream_workspace("hbs_scd") as base:
        src_dir = os.path.join(base, "src")
        dim = SnapshotTable.create(
            spark, os.path.join(base, "dim"), schema="k int, dim_generation string"
        )
        dim.append(
            spark.createDataFrame([(1, "gen1")], "k int, dim_generation string")
        )
        result = SnapshotTable.create(
            spark,
            os.path.join(base, "out"),
            schema="event_id long, event_type string, dim_generation string",
        )

        def run_once():
            def enrich(batch_df, batch_id):
                d = dim.scan(virtual_column=None)  # CURRENT dimension state
                result.append(
                    batch_df.crossJoin(d.select("dim_generation")).select(
                        "event_id", "event_type", "dim_generation"
                    )
                )

            q = (
                spark.readStream.schema(events.schema)
                .option("recursiveFileLookup", "true")
                .format("parquet")
                .load(src_dir)
                .writeStream.foreachBatch(enrich)
                .option("checkpointLocation", os.path.join(base, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # run 1: only the first half of the backlog exists
        events.filter(F.col("event_id") <= mid).write.parquet(
            os.path.join(src_dir, "half1")
        )
        run_once()
        # the dimension changes between pipeline runs (SCD type-1 update)
        dim.update_where("k = 1", {"dim_generation": "'gen2'"})
        # run 2: the second half arrives; the shared checkpoint ensures
        # half1 files are NOT reprocessed
        events.filter(F.col("event_id") > mid).write.parquet(
            os.path.join(src_dir, "half2")
        )
        run_once()
        out = (
            result.scan(virtual_column=None)
            .groupBy("event_type", "dim_generation")
            .agg(F.count("*").cast("long").alias("n_events"))
        )
        return out.localCheckpoint()


@query(
    "stream_branch_wap",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS n_main_during_ingest,
           (SELECT COUNT(*) FROM events) AS n_branch_staged,
           TRUE AS audit_passed,
           (SELECT COUNT(*) FROM events) AS n_main_after_publish
    """,
)
def stream_branch_wap(spark, sf_dir):
    """Streaming write-audit-publish — the production streaming-ingest
    pattern on Iceberg branches (spark.wap.branch): every micro-batch
    commits onto a staging branch, so main NEVER exposes a
    half-ingested state; after the stream drains, an audit query runs
    against the branch scan (row count + key-not-null here — in
    production, dbt tests or quality gates), and only then does
    fast_forward atomically publish the whole ingest to main readers.
    `n_main_during_ingest` pins that main stayed empty while every
    event was already committed on the branch; the publish is one
    metadata pointer move regardless of ingest size."""
    import os

    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    schema = "event_id long, user_id long, event_type string, value double"
    with stream_workspace("hbs_streamwap") as base:
        table = SnapshotTable.create(spark, os.path.join(base, "t"), schema=schema)
        # branches fork from a snapshot: seed main with an empty initial
        # commit (the usual state of a table provisioned before its first
        # ingest window)
        table.append(spark.createDataFrame([], schema))
        table.create_branch("audit")

        def commit_batch(batch_df, batch_id):
            table.append(batch_df, branch="audit")

        q = (
            events_stream(spark, sf_dir)
            .select("event_id", "user_id", "event_type", "value")
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_main_during = table.scan(virtual_column=None).count()
        staged = table.scan(ref="audit", virtual_column=None)
        n_staged = staged.count()
        audit_passed = (
            n_staged > 0 and staged.filter(F.col("event_id").isNull()).count() == 0
        )
        if audit_passed:  # the gate: publish ONLY what passed
            table.fast_forward("audit")
        out = (
            table.scan(virtual_column=None)
            .agg(F.count("*").alias("n_main_after_publish"))
            .withColumn("n_main_during_ingest", F.lit(int(n_main_during)).cast("long"))
            .withColumn("n_branch_staged", F.lit(int(n_staged)).cast("long"))
            .withColumn("audit_passed", F.lit(bool(audit_passed)))
            .select(
                "n_main_during_ingest",
                "n_branch_staged",
                "audit_passed",
                "n_main_after_publish",
            )
        )
        return out.localCheckpoint()


# -- streaming bot-rate monitor (round 9) -----------------------------------------

_SBOT_N = 500
_SBOT_USERS = 3
_SBOT_HOURLY = 100  # flag threshold: events in any single hour window


@query(
    "stream_bot_rate_monitor",
    oracle=f"""
    WITH bots AS (
      SELECT 9100 + b AS user_id,
             TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i) SECOND AS ts
      FROM generate_series(0, {_SBOT_USERS - 1}) AS g(b),
           generate_series(0, {_SBOT_N - 1}) AS s(i)
    ),
    aug AS (
      SELECT user_id, ts FROM events
      UNION ALL
      SELECT user_id, ts FROM bots
    ),
    hourly AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
             COUNT(*) AS n
      FROM aug GROUP BY 1, 2
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS max_hourly,
           (MAX(n) > {_SBOT_HOURLY}) AS is_bot
    FROM hourly GROUP BY user_id
    """,
)
def stream_bot_rate_monitor(spark, sf_dir):
    """STREAMING bot-rate monitoring — the online leg of
    `events_bot_detection`: a real Structured Streaming pipeline
    (file source over the event landing directory, 1-hour tumbling
    windows with a 10-minute watermark bounding state, update-mode
    memory sink) maintains per-user hourly counts; a user whose ANY
    window exceeds {_SBOT_HOURLY} events flags as a bot. The organic
    fixture peaks far below threshold, so {_SBOT_USERS} bot accounts
    ({_SBOT_N} events at 1-second cadence — one hot hour each) are
    staged INTO the stream's landing directory as a second parquet
    file, exactly how bot traffic arrives in production: interleaved
    in the same source, not a separate path. Oracle = the equivalent
    batch SQL over events ∪ bots (the batch-vs-stream parity check
    every §2.9 query uses). Output mode is UPDATE, not complete —
    complete mode retains every window's state forever and ignores the
    watermark (ADVICE r9 #3); under update the watermark really evicts
    closed windows, so state is O(active users × live windows). The
    memory sink APPENDS each batch's updated rows, so a (window, user)
    key may appear once per batch it changed in — downstream takes
    MAX(n) per user, and hourly counts only grow, so the latest update
    always wins."""
    import os

    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.streaming.events import (
        _SCHEMA_TS_LTZ,
        _SCHEMA_TS_NANOS_LONG,
        _SCHEMA_TS_NTZ,
        _fixture_ts_kind,
    )

    kind = _fixture_ts_kind(sf_dir)
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    bots = (
        spark.range(_SBOT_USERS)
        .select(
            (F.lit(9100) + F.col("id")).alias("user_id"),
            F.explode(F.sequence(F.lit(0), F.lit(_SBOT_N - 1))).alias("i"),
        )
        .select(
            (F.lit(8000000) + F.col("user_id") * 1000 + F.col("i")).alias(
                "event_id"
            ),
            F.timestamp_micros(
                F.unix_micros(base) + F.col("i") * 1000000
            ).alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    if kind == "nanos":
        bots = bots.withColumn("ts", F.unix_micros("ts") * F.lit(1000))
    elif kind == "ntz":
        bots = bots.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # the landing dir goes away on return or raise; the memory-sink
    # result reads nothing from it
    with stream_workspace("hbs_botstream") as d:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(d, "events.parquet"),
        )
        bots.coalesce(1).write.parquet(os.path.join(d, "bots.parquet"))
        schema = {
            "nanos": _SCHEMA_TS_NANOS_LONG,
            "ntz": _SCHEMA_TS_NTZ,
            "ltz": _SCHEMA_TS_LTZ,
        }[kind]
        raw = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .format("parquet")
            .load(d)
        )
        if kind == "nanos":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "ntz":
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        hourly = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").alias("n"))
        )
        out = run_to_memory(hourly, output_mode="update", name=None)
        return out.groupBy("user_id").agg(
            F.max("n").alias("max_hourly"),
            (F.max("n") > _SBOT_HOURLY).alias("is_bot"),
        )


# -- watermark late-data policy audit (round 10) ------------------------------------

_LATE_FRESH = 40  # staged rows inside the watermark: must be counted
_LATE_STALE = 60  # staged rows behind a CLOSED window: must be dropped


@query(
    "stream_late_data_policy",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(ts) AS m, date_trunc('hour', MAX(ts)) AS mh FROM events
    ),
    counted AS (
      SELECT date_trunc('hour', ts) AS w FROM events
      UNION ALL
      SELECT date_trunc('hour', m - INTERVAL 5 MINUTE) AS w
      FROM mx, generate_series(1, {_LATE_FRESH})
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS counted_events,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_windows,
           CAST({_LATE_STALE} AS BIGINT) AS dropped_late
    FROM counted
    """,
)
def stream_late_data_policy(spark, sf_dir):
    """WATERMARK LATE-DATA POLICY audit [N §2.9] — pins the semantics
    Structured Streaming ACTUALLY gives late rows, with a genuinely
    multi-batch stream (`maxFilesPerTrigger=1`): batch 1 processes the
    event history (watermark still epoch-0, everything admitted and the
    watermark advances to max(ts) − 10 min); batch 2 delivers
    {_LATE_FRESH} rows 5 minutes behind the head — inside the
    watermark, counted — and, being the first batch that RUNS with the
    advanced watermark, evicts every closed window's state at its end;
    batch 3 delivers {_LATE_STALE} rows into a window that closed hours
    before the watermark — state gone, rows DROPPED. (Measured, not
    assumed: a too-late row arriving in the same batch where the
    watermark first passed its window is still aggregated — eviction is
    end-of-batch — which is why the stale file must land one batch
    later; Spark's guarantee is one-sided.) The batch oracle encodes
    the policy: counted = history + fresh, dropped = stale. The
    update-mode memory sink may emit a window once per batch it changed
    in; counts only grow, so MAX per window is the final value. At
    scale this audit tells an ingest owner what their lateness SLO
    actually loses."""
    import os

    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.operators.snapshot_stream import stream_workspace
    from hiveberg_spark.streaming.events import (
        _SCHEMA_TS_LTZ,
        _SCHEMA_TS_NANOS_LONG,
        _SCHEMA_TS_NTZ,
        _fixture_ts_kind,
    )

    import time as _time

    kind = _fixture_ts_kind(sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    mx = ev.agg(
        F.max("ts").alias("m"),
        F.date_trunc("hour", F.max("ts")).alias("mh"),
    )
    n_history = ev.count()
    fresh = (
        spark.range(_LATE_FRESH)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.lit(8900000) + F.col("id")).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros(F.col("m")) - F.lit(300_000_000)
            ).alias("ts"),
            (F.lit(9500) + F.col("id")).alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    stale = (
        spark.range(_LATE_STALE)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.lit(8910000) + F.col("id")).alias("event_id"),
            F.timestamp_micros(
                F.unix_micros(F.col("mh"))
                - F.lit(7_200_000_000)
                + F.lit(600_000_000)
            ).alias("ts"),
            (F.lit(9600) + F.col("id")).alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    # the landing dir goes away on return or raise; the memory-sink
    # result reads nothing from it
    with stream_workspace("hbs_latestream") as d:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(d, "00_events.parquet"),
        )

        def _stage(df, name, stamp):
            if kind == "nanos":
                df = df.withColumn("ts", F.unix_micros("ts") * F.lit(1000))
            elif kind == "ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
            path = os.path.join(d, name)
            df.coalesce(1).write.parquet(path)
            # pin the mtime explicitly (round 15) — the old 1.1 s sleep
            # bought the same strict ordering by waiting out the clock
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    os.utime(os.path.join(root, fn), (stamp, stamp))

        # distinct PINNED mtimes + ordered names pin the batch order:
        # history (the fixture's own old mtime), then fresh
        # (advances/evicts), then stale (post-eviction → drop); stamps sit
        # after the fixture file's mtime because they are "now"
        now = _time.time()
        _stage(fresh, "01_fresh.parquet", now + 10)
        _stage(stale, "02_stale.parquet", now + 20)
        schema = {
            "nanos": _SCHEMA_TS_NANOS_LONG,
            "ntz": _SCHEMA_TS_NTZ,
            "ltz": _SCHEMA_TS_LTZ,
        }[kind]
        raw = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(d)
        )
        if kind == "nanos":
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "ntz":
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        hourly = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )
        out = run_to_memory(hourly, output_mode="update", name=None)
        final = out.groupBy("window").agg(F.max("n").alias("n"))
        return final.agg(
            F.sum("n").alias("counted_events"),
            F.count("*").alias("n_windows"),
            (
                F.lit(n_history + _LATE_FRESH + _LATE_STALE) - F.sum("n")
            ).alias("dropped_late"),
        )


# -- chained stateful: dedup -> windowed distinct count (round 10) -------------------


@query(
    "stream_hourly_unique_users",
    oracle="""
    WITH h AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
                      COUNT(DISTINCT user_id) AS uniq_users
               FROM events GROUP BY 1)
    SELECT STRFTIME(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(uniq_users AS BIGINT) AS uniq_users
    FROM h
    WHERE ws + INTERVAL '1 hour'
          <= (SELECT MAX(ts) FROM events) - INTERVAL '10 minutes'
    """,
)
def stream_hourly_unique_users(spark, sf_dir):
    """HOURLY UNIQUE USERS as a stream — the query Structured Streaming
    historically REFUSED (COUNT(DISTINCT) needs per-value state), now
    expressed as Spark 4's CHAINED STATEFUL pipeline: watermarked
    dropDuplicates on (user, hour) feeding a windowed count, two
    stateful operators in one query (SPARK-42376). Append output mode is
    what makes the chain legal, so the oracle encodes append's MEASURED
    emission rule (the stream_late_data_policy discipline): a window
    emits only once the final watermark (max event time − 10 min)
    passes its end — the cutoff predicate below, verified equal to the
    actual emission set at both SFs.

    The dedup key is (user_id, window(ts)) — NOT a date_trunc'd hour
    (round-11 ADVICE fix): event-time watermark metadata does not
    propagate through date_trunc, so that formulation's dedup state was
    never evicted in a continuous run; the time-window column carries
    the metadata, so each (user × hour) key is dropped exactly when the
    watermark passes its window end — the same instant the downstream
    aggregate finalizes the window, after which any further duplicate
    is late for BOTH operators. Dedup and aggregate state are therefore
    both watermark-evicted, never unbounded."""
    s = events_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "10 minutes")
        .withColumn("window", F.window("ts", "1 hour"))
        .dropDuplicates(["user_id", "window"])
    )
    agg = dedup.groupBy("window").agg(F.count("*").alias("uniq_users"))
    out = run_to_memory(agg, output_mode="append", name="hourly_unique_users")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "uniq_users",
    )
