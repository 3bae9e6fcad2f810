"""Type-system parity (SURVEY.md §1.3 — nested struct/list/map round
trips, mirroring TestIcebergSerDe.java:99-182 and
TestIcebergSchemaToTypeInfo.java:82-155) and streaming-specific
behaviors not covered by the oracle suite."""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import functions as F


def test_nested_types_roundtrip_through_parquet(spark, tmp_path):
    # FIXTURES.md A4: struct, array<double>, map<string,string>,
    # map<string,array<long>>, plus the primitive battery incl. decimal
    schema = (
        "id int, data string, "
        "preferences struct<feature1:boolean, feature2:boolean>, "
        "doubles array<double>, "
        "properties map<string,string>, "
        "nested_list map<string,array<bigint>>, "
        "dec decimal(10,2), d date, ts timestamp"
    )
    rows = [
        (
            1,
            "a",
            (True, False),
            [1.5, 2.5],
            {"k": "v"},
            {"xs": [1, 2, 3]},
            Decimal("12.34"),
            datetime.date(2020, 1, 2),
            datetime.datetime(2020, 1, 2, 3, 4, 5),
        )
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "nested")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema == df.schema
    r = back.first()
    assert r.preferences.feature1 is True
    assert r.doubles == [1.5, 2.5]
    assert r.properties == {"k": "v"}
    assert list(r.nested_list["xs"]) == [1, 2, 3]
    assert r.dec == Decimal("12.34")


def test_nested_field_access_and_hof(spark):
    df = spark.createDataFrame(
        [(1, {"a": [1, 2], "b": [3]})], "id int, m map<string,array<int>>"
    )
    out = df.select(
        F.map_keys("m").alias("ks"),
        F.size(F.element_at("m", "a")).alias("na"),
        F.transform(F.element_at("m", "a"), lambda x: x * 10).alias("xa"),
    ).first()
    assert sorted(out.ks) == ["a", "b"]
    assert out.na == 2
    assert list(out.xa) == [10, 20]


def test_timestamp_not_surfaced_as_bigint(spark, sf_dir):
    """The reference leaks timestamps as bigint
    (IcebergSchemaToTypeInfo.java:48-49) — we deliberately do not."""
    from hiveberg_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    assert dict(li.dtypes)["l_shipdate"].startswith("timestamp")
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")


def test_stream_ts_matches_batch_ts(spark, sf_dir):
    """REGRESSION PIN (round-4): the streaming events source must agree
    with the batch catalog on event time to the microsecond. The driver
    regenerated the fixtures between rounds 2 and 3 switching events.ts
    from TIMESTAMP(NANOS) to timestamp[us]; the stream source's
    hard-coded nanos schema then silently compressed all event times
    1000x into January 1970 while the batch path (dtype-guarded) stayed
    correct — four streaming operators were wrong for a full round. The
    source is now schema-adaptive (events._fixture_ts_kind); this pin
    fails the moment stream and batch disagree, whichever way the
    fixtures drift next."""
    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.streaming.events import events_stream, run_to_memory

    batch = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.unix_micros(F.min("ts").cast("timestamp")).alias("mn"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("mx"),
            F.count("*").alias("n"),
        )
        .first()
    )
    s = events_stream(spark, sf_dir).agg(
        F.unix_micros(F.min("ts")).alias("mn"),
        F.unix_micros(F.max("ts")).alias("mx"),
        F.count("*").alias("n"),
    )
    stream = run_to_memory(s, output_mode="complete", name="ts_pin").first()
    assert (stream.mn, stream.mx, stream.n) == (batch.mn, batch.mx, batch.n)
    # and the times are sane: within [2000, 2100), not 1970
    assert 946684800_000000 < stream.mn < 4102444800_000000


def test_stream_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark — the state-bounded production
    variant (SURVEY.md §2.9)."""
    from hiveberg_spark.streaming.events import events_stream, run_to_memory

    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = s.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy().agg(F.count("*").alias("n"))
    out = run_to_memory(agg, output_mode="complete", name="dedup_wm_test")
    n = out.first().n
    from hiveberg_spark.catalog import load_table

    assert n == load_table(spark, sf_dir, "events").count()


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Watermark semantics across REAL micro-batches: two files are
    delivered one per trigger (maxFilesPerTrigger=1); after batch 1 the
    watermark advances to max(ts)-10min, so batch 2's hour-old row must
    be DROPPED from the windowed aggregate in append mode while its
    fresh row lands. This is the state-bounding behavior that makes the
    streaming operators viable at scale — availableNow single-batch
    replays (the oracle-parity path) can never exercise it."""
    import os
    import time

    d = tmp_path / "late_in"
    d.mkdir()

    def _file(name, rows):
        spark.createDataFrame(rows, "id long, ts_s string").selectExpr(
            "id", "cast(ts_s as timestamp) as ts"
        ).coalesce(1).write.parquet(str(d / name))
        time.sleep(1.1)  # file source orders batches by modification time

    # batch 0: creates the [10:00,11:00) window; advances wm to 11:50
    _file("f1", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")])
    # batch 1: wm 11:50 at start → the 10:00 window is EVICTED and
    # emitted (n=1); this row just advances wm to 12:00
    _file("f2", [(5, "2024-01-01 12:10:00")])
    # batch 2: id=3 at 10:15 targets the already-evicted window → must
    # be DROPPED (re-admitting it would re-emit a closed window,
    # violating append mode); id=4 keeps a window open past the end
    _file("f3", [(3, "2024-01-01 10:15:00"), (4, "2024-01-01 12:30:00")])
    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(str(d))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Eviction is window-granular and happens at batch end: the 10:00
    # window left state in batch 1 with exactly id=1. The late id=3 in
    # batch 2 must be filtered against the watermark — if the engine
    # (or our operator wiring) failed to drop it, the closed window
    # would re-emit and a second 10:00 row would appear. The windows
    # still open at end-of-stream (12:00+, ends > final wm 12:20) never
    # emit in append mode.
    out = [
        (r["window"].start.strftime("%H:%M"), r["n"])
        for r in spark.table("late_drop").collect()
    ]
    assert out == [("10:00", 1)], out


def test_foreachbatch_snapshot_sink_idempotent_restart(spark, sf_dir, tmp_path):
    """Exactly-once across restart: the foreachBatch → snapshot-table
    sink replays NOTHING when the stream restarts from the same
    checkpoint with no new input — the checkpoint's batch tracking, not
    luck, is what makes the sink exactly-once. A second run must add
    zero snapshots and zero rows."""
    from hiveberg_spark.sources.snapshot_table import SnapshotTable
    from hiveberg_spark.streaming.events import events_stream

    loc = str(tmp_path / "sink_tbl")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable.create(spark, loc)

    def run_once():
        s = events_stream(spark, sf_dir).select("event_id", "user_id")
        q = (
            s.writeStream.foreachBatch(lambda df, bid: table.append(df))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_snaps_1 = table.snapshots().count()
    n_rows_1 = table.scan(virtual_column=None).count()
    assert n_snaps_1 >= 1 and n_rows_1 > 0
    run_once()  # same checkpoint, no new files → no new batches
    assert table.snapshots().count() == n_snaps_1
    assert table.scan(virtual_column=None).count() == n_rows_1


def test_streaming_is_incremental(spark, sf_dir):
    """The streaming source plans a real FileStreamSource (not a batch
    rewrite): the query progresses through micro-batch execution."""
    from hiveberg_spark.streaming.events import events_stream

    s = events_stream(spark, sf_dir)
    assert s.isStreaming


def test_sort_within_partitions(spark, sf_dir):
    """SORT BY parity (per-partition sort, no global exchange —
    SURVEY.md §2.6): rows are sorted within each partition and the plan
    contains no Exchange for the sort."""
    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.plans import explain_str

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .repartition(4)
        .sortWithinPartitions("l_extendedprice")
    )
    plan = explain_str(li)
    sort_section = plan.split("Sort")[0]
    # the repartition exchange exists, but no exchange AFTER the sort
    parts = li.rdd.glom().collect()
    for part in parts:
        prices = [r.l_extendedprice for r in part]
        assert prices == sorted(prices)


def test_run_to_memory_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """Each run_to_memory call removes its checkpoint directory once the
    query ends; the memory-sink table the result reads stays."""
    import glob
    import tempfile

    from hiveberg_spark.streaming.events import run_to_memory

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src))
    outs = []
    for i in range(2):
        s = spark.readStream.schema("id long").parquet(str(src))
        outs.append(
            run_to_memory(
                s.groupBy().count(), output_mode="complete",
                name=f"ckpt_leak_{i}",
            )
        )
    assert glob.glob(str(tmp_path / "hbs_checkpoint_*")) == []
    assert [o.collect()[0]["count"] for o in outs] == [5, 5]
