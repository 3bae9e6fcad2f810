"""Unit tests for the pure-Python Avro container codec
(hiveberg_spark/sources/avro_io.py) — the reference's Avro read surface
(IcebergReaderFactory.java:54-65) without the spark-avro jar."""

from __future__ import annotations

import datetime
import glob
import os

import pytest

from hiveberg_spark.sources import avro_io


def _full_types_df(spark):
    return spark.createDataFrame(
        [
            (
                1,
                7,
                "alpha",
                1.5,
                2.25,
                True,
                b"\x00\x01",
                datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
                datetime.date(2024, 3, 4),
            ),
            (2, None, None, None, None, None, None, None, None),
            (
                3,
                -9,
                "it's — ünïcode ✓",
                -0.125,
                -1.0,
                False,
                b"",
                datetime.datetime(1969, 12, 31, 23, 59, 59),
                datetime.date(1969, 1, 1),
            ),
        ],
        "id long, i int, name string, score double, f float, flag boolean, "
        "payload binary, ts timestamp_ntz, d date",
    )


def test_avro_roundtrip_all_types(spark, tmp_path):
    df = _full_types_df(spark)
    path = str(tmp_path / "full")
    n = avro_io.write_avro(df, path)
    assert n == 3
    back = avro_io.read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_avro_null_codec_and_multifile(spark, tmp_path):
    df = spark.range(1000).selectExpr(
        "id", "cast(id % 7 as string) as k", "id * 1.5 as v"
    )
    path = str(tmp_path / "multi")
    avro_io.write_avro(df.repartition(4), path, codec="null")
    assert len(glob.glob(os.path.join(path, "*.avro"))) == 4
    back = avro_io.read_avro(spark, path)
    assert back.count() == 1000
    got = back.agg({"v": "sum"}).first()[0]
    want = df.agg({"v": "sum"}).first()[0]
    assert abs(got - want) < 1e-6


def test_avro_deflate_smaller_than_null(spark, tmp_path):
    df = spark.range(2000).selectExpr("id", "repeat('x', 50) as pad")
    p_null, p_defl = str(tmp_path / "n"), str(tmp_path / "d")
    avro_io.write_avro(df.coalesce(1), p_null, codec="null")
    avro_io.write_avro(df.coalesce(1), p_defl, codec="deflate")
    size = lambda p: sum(os.path.getsize(f) for f in glob.glob(p + "/*.avro"))
    assert size(p_defl) < size(p_null) / 2


def test_avro_unsupported_type_raises(spark, tmp_path):
    df = spark.range(1).selectExpr("array(1, 2) AS a")
    with pytest.raises(TypeError, match="unsupported"):
        avro_io.write_avro(df, str(tmp_path / "bad"))


def test_avro_read_missing_dir_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        avro_io.read_avro(spark, str(tmp_path / "nope"))


def test_fixture_version_invalidates_scratch(monkeypatch):
    # VERDICT r1 #4: changing fixture logic must change the cache key so
    # stale /tmp fixtures from a previous round are never read
    from hiveberg_spark.operators import formats, timetravel

    a = formats._scratch("/x", "t")
    monkeypatch.setattr(formats, "FIXTURE_VERSION", formats.FIXTURE_VERSION + ".bump")
    assert formats._scratch("/x", "t") != a

    w = timetravel.warehouse_dir("/x")
    monkeypatch.setattr(
        timetravel, "FIXTURE_VERSION", timetravel.FIXTURE_VERSION + ".bump"
    )
    assert timetravel.warehouse_dir("/x") != w


def test_avro_decimal_roundtrip(spark, tmp_path):
    df = spark.sql(
        "SELECT id, CAST(id * 1.5 AS DECIMAL(20,4)) AS dec, "
        "CAST(-id AS DECIMAL(10,2)) AS neg FROM range(200)"
    )
    path = str(tmp_path / "dec")
    avro_io.write_avro(df, path)
    back = avro_io.read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_avro_roundtrip_nullable_bigint_above_2_53(spark, tmp_path):
    # ADVICE r2: the pandas write path coerced nullable long to float64,
    # corrupting integers above 2^53; the Arrow path must be exact
    big = 2**60 + 12345
    df = spark.createDataFrame(
        [(1, big), (2, None), (3, big + 1)], "id long, v long"
    )
    from hiveberg_spark.sources.avro_io import read_avro, write_avro

    path = str(tmp_path / "bigints")
    assert write_avro(df, path) == 3
    got = {r.id: r.v for r in read_avro(spark, path).collect()}
    assert got == {1: big, 2: None, 3: big + 1}


def test_avro_timestamp_logicals_preserve_declared_type(spark, tmp_path):
    """Avro spec: `timestamp-micros` is an INSTANT (Spark TimestampType),
    `local-timestamp-micros` is wall-clock (TimestampNTZType) — the
    round-trip must preserve whichever was declared (previously both
    wrote timestamp-micros and always read back NTZ)."""
    import json

    from hiveberg_spark.sources.avro_io import read_avro, write_avro

    df = spark.sql(
        "SELECT TIMESTAMP'2024-01-02 03:04:05.123456' ts, "
        "TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' tsn"
    )
    out = str(tmp_path / "tslog")
    write_avro(df, out)
    back = read_avro(spark, out)
    assert dict(back.dtypes) == {"ts": "timestamp", "tsn": "timestamp_ntz"}
    r = back.head()
    assert str(r.ts) == "2024-01-02 03:04:05.123456"
    assert str(r.tsn) == "2024-01-02 03:04:05.123456"
    # the container header carries the spec's two distinct logicals
    f = glob.glob(out + "/*.avro")[0]
    head = open(f, "rb").read(4096)
    assert b"local-timestamp-micros" in head
