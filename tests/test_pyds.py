"""Head-to-head parity: the `hiveberg` Python Data Source facade vs
`SnapshotTable.scan()` on every semantic the facade claims (module doc
of sources/pyds.py). The engine scan is the oracle here — its own
correctness is pinned by the DuckDB differential suite — so the facade
can never drift silently.

Reference contract: main/IcebergStorageHandler.java:21-38 exposes the
reference table through Hive's pluggable-source API; this suite pins
the same exposure through Spark's."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hiveberg_spark.sources import pyds
from hiveberg_spark.sources.snapshot_table import SnapshotTable
from hiveberg_spark.sources.pyds import _filters_to_conjuncts, _plan_partitions


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


@pytest.fixture(autouse=True)
def _register(spark):
    pyds.register(spark)


def _facade(spark, loc, **opts):
    r = spark.read.format("hiveberg")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(loc)


def _assert_parity(facade_df, engine_df):
    fc, ec = sorted(facade_df.columns), sorted(engine_df.columns)
    assert fc == ec
    assert dict(facade_df.dtypes) == dict(engine_df.dtypes)
    from collections import Counter

    f_rows = Counter(map(tuple, facade_df.select(*fc).collect()))
    e_rows = Counter(map(tuple, engine_df.select(*ec).collect()))
    assert f_rows == e_rows


def _simple(spark, rows):
    return spark.createDataFrame(rows, "id long, data string")


def test_basic_scan_and_time_travel(spark, warehouse):
    loc = os.path.join(warehouse, "basic")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a"), (2, None)]))
    t.append(_simple(spark, [(3, "c")]))
    _assert_parity(_facade(spark, loc), t.scan())
    s1 = t.snapshots().collect()[0].snapshot_id
    _assert_parity(
        _facade(spark, loc, snapshot_id=s1), t.scan(snapshot_id=s1)
    )


def test_ref_and_timestamp_travel(spark, warehouse):
    loc = os.path.join(warehouse, "refs")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]), committed_at=1000)
    t.create_tag("v1")
    t.append(_simple(spark, [(2, "b")]), committed_at=2000)
    _assert_parity(_facade(spark, loc, ref="v1"), t.scan(ref="v1"))
    _assert_parity(
        _facade(spark, loc, as_of_timestamp_ms=1500),
        t.scan(as_of_timestamp_ms=1500),
    )


def test_empty_table_declared_schema(spark, warehouse):
    loc = os.path.join(warehouse, "empty")
    SnapshotTable.create(spark, loc, schema="id long, data string")
    df = _facade(spark, loc)
    assert df.count() == 0
    assert df.columns == ["id", "data", "snapshot__id"]


def test_virtual_column_rename_and_optout(spark, warehouse):
    loc = os.path.join(warehouse, "vcol")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    named = _facade(spark, loc, virtual_column="commit_id")
    assert "commit_id" in named.columns
    _assert_parity(named, t.scan(virtual_column="commit_id"))
    off = _facade(spark, loc, virtual_column="")
    assert off.columns == ["id", "data"]


def test_mor_position_deletes(spark, warehouse):
    loc = os.path.join(warehouse, "mor")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"d{i}") for i in range(10)]).coalesce(1))
    t.delete_where("id % 3 = 1", mode="merge-on-read")
    _assert_parity(_facade(spark, loc), t.scan())
    assert _facade(spark, loc).filter("id = 5").count() == 1
    assert _facade(spark, loc).filter("id = 7").count() == 0


def test_deletion_vectors(spark, warehouse):
    loc = os.path.join(warehouse, "dv")
    t = SnapshotTable.create(spark, loc)
    t.set_properties(
        {"write.delete.mode": "merge-on-read", "write.delete.vectors": "true"}
    )
    t.append(_simple(spark, [(i, f"d{i}") for i in range(12)]).coalesce(1))
    t.delete_where("id % 4 = 2", mode="merge-on-read")
    t.delete_where("id = 5", mode="merge-on-read")
    meta = t._read_meta()
    dels = t._raw_deletes_as_of(meta, meta["current_snapshot_id"])
    assert any(d["type"] == "dv" for d in dels)
    _assert_parity(_facade(spark, loc), t.scan())


def test_equality_deletes_reinsert_survives(spark, warehouse):
    loc = os.path.join(warehouse, "eq")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a"), (2, "b"), (3, None)]))
    t.delete_by_keys(spark.createDataFrame([(2,), (3,)], "id long"))
    t.append(_simple(spark, [(2, "b2")]))  # re-insert AFTER the delete
    engine = t.scan()
    assert sorted(r.id for r in engine.collect()) == [1, 2]
    _assert_parity(_facade(spark, loc), engine)


def test_equality_delete_null_key_matches(spark, warehouse):
    # eqNullSafe semantics: a NULL key value deletes NULL rows
    loc = os.path.join(warehouse, "eqnull")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a"), (2, None), (3, "c")]))
    t.delete_by_keys(
        spark.createDataFrame([(None,)], "data string")
    )
    engine = t.scan()
    assert sorted(r.id for r in engine.collect()) == [1, 3]
    _assert_parity(_facade(spark, loc), engine)


def test_cow_delete_and_compaction(spark, warehouse):
    # rewritten files carry physical lineage columns (__hb_row_id,
    # __hb_last_seq) — the facade must project them away
    loc = os.path.join(warehouse, "cow")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"d{i}") for i in range(8)]).coalesce(1))
    t.append(_simple(spark, [(i, f"d{i}") for i in range(8, 12)]).coalesce(1))
    t.delete_where("id = 3", mode="copy-on-write")
    t.compact()
    engine = t.scan()
    assert "__hb_row_id" not in engine.columns
    _assert_parity(_facade(spark, loc), engine)


def test_rename_across_generations(spark, warehouse):
    loc = os.path.join(warehouse, "ren")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.rename_column("data", "payload")
    t.append(spark.createDataFrame([(2, "b")], "id long, payload string"))
    _assert_parity(_facade(spark, loc), t.scan())


def test_field_id_name_reuse(spark, warehouse):
    # rename a->b then add a NEW column under the freed name `a`:
    # old files' physical `a` must resolve to `b`, not the new `a`
    loc = os.path.join(warehouse, "reuse")
    t = SnapshotTable.create(spark, loc, schema="id long, a string")
    t.append(spark.createDataFrame([(1, "old")], "id long, a string"))
    t.rename_column("a", "b")
    t.add_column("a", "int")
    t.append(
        spark.createDataFrame([(2, "new", 7)], "id long, b string, a int")
    )
    engine = t.scan()
    rows = {r.id: (r.b, r.a) for r in engine.collect()}
    assert rows[1] == ("old", None) and rows[2] == ("new", 7)
    _assert_parity(_facade(spark, loc), engine)


def test_widen_and_drop(spark, warehouse):
    loc = os.path.join(warehouse, "widen")
    t = SnapshotTable.create(spark, loc, schema="id int, v int, junk string")
    t.append(
        spark.createDataFrame(
            [(1, 10, "x")], "id int, v int, junk string"
        )
    )
    t.widen_column("v", "bigint")
    t.drop_column("junk")
    t.append(spark.createDataFrame([(2, 2**40)], "id int, v bigint"))
    engine = t.scan()
    assert dict(engine.dtypes)["v"] == "bigint"
    assert "junk" not in engine.columns
    _assert_parity(_facade(spark, loc), engine)


def test_initial_defaults(spark, warehouse):
    loc = os.path.join(warehouse, "defaults")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.add_column("score", "int", default_sql="7")
    t.add_column("tag", "string", default_sql="'unknown'")
    t.append(
        spark.createDataFrame(
            [(2, "b", 99, None)], "id long, data string, score int, tag string"
        )
    )
    engine = t.scan()
    rows = {r.id: (r.score, r.tag) for r in engine.collect()}
    # old file reads defaults; new file keeps its explicit NULL
    assert rows[1] == (7, "unknown") and rows[2] == (99, None)
    _assert_parity(_facade(spark, loc), engine)


def test_declared_never_written_column(spark, warehouse):
    loc = os.path.join(warehouse, "declared")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.add_column("fresh", "double")
    engine = t.scan()
    assert dict(engine.dtypes)["fresh"] == "double"
    _assert_parity(_facade(spark, loc), engine)


def test_orc_table(spark, warehouse):
    loc = os.path.join(warehouse, "orc")
    t = SnapshotTable.create(spark, loc, file_format="orc")
    t.append(_simple(spark, [(1, "a"), (2, "b")]))
    _assert_parity(_facade(spark, loc), t.scan())


def test_hidden_partitioning_table(spark, warehouse):
    loc = os.path.join(warehouse, "hidden")
    t = SnapshotTable.create(
        spark,
        loc,
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple(spark, [(i, f"d{i}") for i in range(20)]))
    _assert_parity(_facade(spark, loc), t.scan())


def test_filter_pushdown_prunes_partitions(spark, warehouse):
    loc = os.path.join(warehouse, "prune")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"d{i}") for i in range(0, 10)]).coalesce(1))
    t.append(
        _simple(spark, [(i, f"d{i}") for i in range(100, 110)]).coalesce(1)
    )
    all_parts = _plan_partitions(loc, {}, [])
    pruned = _plan_partitions(loc, {}, ["id < 50"])
    assert len(all_parts) == 2 and len(pruned) == 1
    # and the pruned read still returns exactly the right rows
    got = _facade(spark, loc).filter("id < 50")
    assert sorted(r.id for r in got.collect()) == list(range(0, 10))


def test_filter_translation():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        IsNotNull,
        LessThanOrEqual,
        StringContains,
    )

    conj = _filters_to_conjuncts(
        [
            EqualTo(("id",), 3),
            GreaterThan(("v",), 1.5),
            LessThanOrEqual(("s",), "o'k"),
            In(("k",), (1, 2)),
            IsNotNull(("id",)),  # not prunable -> skipped
            StringContains(("s",), "x"),  # not prunable -> skipped
            EqualTo(("nested", "field"), 1),  # nested -> skipped
        ]
    )
    assert conj == ["id = 3", "v > 1.5", "s <= 'o''k'", "k IN (1, 2)"]


def test_avro_table_reads_and_evolves(spark, warehouse):
    """Avro data files decode per file through the pure-Python codec:
    parity with the engine scan incl. a rename and a mixed
    avro-then-parquet format migration; row lineage over avro raises
    (engine parity — no row positions in the jar-free path)."""
    loc = os.path.join(warehouse, "avro")
    t = SnapshotTable.create(spark, loc, file_format="avro")
    t.append(_simple(spark, [(1, "a"), (2, None)]))
    _assert_parity(_facade(spark, loc), t.scan())
    t.rename_column("data", "payload")
    t.append(spark.createDataFrame([(3, "c")], "id long, payload string"))
    _assert_parity(_facade(spark, loc), t.scan())
    t.set_file_format("parquet")
    t.append(spark.createDataFrame([(4, "d")], "id long, payload string"))
    _assert_parity(_facade(spark, loc), t.scan())
    with pytest.raises(Exception, match="row lineage is unavailable"):
        _facade(spark, loc, row_lineage=True).collect()


def test_avro_typed_columns_roundtrip(spark, warehouse):
    loc = os.path.join(warehouse, "avrotyped")
    t = SnapshotTable.create(
        spark, loc,
        schema="id long, f double, d date, ts timestamp, ok boolean",
        file_format="avro",
    )
    t.append(
        spark.sql(
            "SELECT CAST(1 AS LONG) id, CAST(1.5 AS DOUBLE) f, "
            "DATE'2024-02-29' d, TIMESTAMP'2024-01-02 03:04:05.123456' ts, "
            "true ok "
            "UNION ALL SELECT 2, NULL, NULL, NULL, NULL"
        )
    )
    _assert_parity(_facade(spark, loc), t.scan())


def test_snapshot_id_virtual_value_matches(spark, warehouse):
    loc = os.path.join(warehouse, "vval")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    sid = t._read_meta()["current_snapshot_id"]
    assert _facade(spark, loc).head().snapshot__id == sid


# -- streaming reader ------------------------------------------------------


def _run_stream(spark, loc, ckpt, out, **opts):
    r = spark.readStream.format("hiveberg")
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load(loc)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        map(tuple, spark.read.parquet(out).select("id", "data", "snapshot__id").collect())
    )


def test_stream_reader_delivers_per_commit(spark, warehouse, tmp_path):
    loc = os.path.join(warehouse, "stream")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a"), (2, "b")]))
    t.append(_simple(spark, [(3, "c")]))
    rows = _run_stream(
        spark, loc, str(tmp_path / "ck"), str(tmp_path / "out")
    )
    # virtual column = the ADDING commit, not the head
    assert rows == [(1, "a", 1), (2, "b", 1), (3, "c", 2)]


def test_stream_reader_resumes_from_checkpoint(spark, warehouse, tmp_path):
    loc = os.path.join(warehouse, "resume")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    assert _run_stream(spark, loc, ck, out) == [(1, "a", 1)]
    t.append(_simple(spark, [(2, "b")]))
    # second run reads ONLY the delta (offsets = snapshot ids)
    assert _run_stream(spark, loc, ck, out) == [(1, "a", 1), (2, "b", 2)]


def test_stream_reader_refuses_replace_commits(spark, warehouse, tmp_path):
    loc = os.path.join(warehouse, "replace")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a"), (2, "b")]))
    t.delete_where("id = 1", mode="copy-on-write")
    with pytest.raises(Exception, match="append-only range"):
        _run_stream(spark, loc, str(tmp_path / "ck"), str(tmp_path / "out"))
    # opt-in skip: the replace commit is passed over, appends still flow
    t.append(_simple(spark, [(3, "c")]))
    rows = _run_stream(
        spark,
        loc,
        str(tmp_path / "ck2"),
        str(tmp_path / "out2"),
        skip_replace_snapshots="true",
    )
    assert (3, "c", 3) in rows


def test_stream_reader_starting_offsets_latest(spark, warehouse, tmp_path):
    loc = os.path.join(warehouse, "latest")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    # starting at the head: the backlog is skipped...
    q = (
        spark.readStream.format("hiveberg")
        .option("starting_offsets", "latest")
        .load(loc)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 0
    # ...and only post-subscription commits arrive
    t.append(_simple(spark, [(2, "b")]))
    rows = _run_stream(spark, loc, ck, out)
    assert rows == [(2, "b", 2)]


def test_columns_projection_option(spark, warehouse):
    loc = os.path.join(warehouse, "proj")
    t = SnapshotTable.create(spark, loc, schema="id long, data string, v int")
    t.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, data string, v int"
        )
    )
    df = _facade(spark, loc, columns="v,id", virtual_column="")
    assert df.columns == ["v", "id"]
    assert sorted(map(tuple, df.collect())) == [(10, 1), (20, 2)]
    with pytest.raises(Exception, match="unknown columns"):
        _facade(spark, loc, columns="nope").collect()
    # projection composes with renames + defaults + eq deletes
    t.rename_column("data", "payload")
    t.add_column("score", "int", default_sql="5")
    t.delete_by_keys(spark.createDataFrame([(1,)], "id long"))
    df2 = _facade(spark, loc, columns="payload,score", virtual_column="")
    assert sorted(map(tuple, df2.collect())) == [("b", 5)]


def test_metadata_tables_option(spark, warehouse):
    loc = os.path.join(warehouse, "meta")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.create_tag("v1")
    t.append(_simple(spark, [(2, "b")]))
    t.delete_where("id = 1", mode="merge-on-read")

    def canon(df):
        # Row.asDict with maps canonicalized (map key order is
        # unspecified across engines)
        out = []
        for r in df.collect():
            d = r.asDict()
            out.append(
                tuple(
                    tuple(sorted(v.items())) if isinstance(v, dict) else v
                    for v in d.values()
                )
            )
        return sorted(out)

    t.build_value_index("data")
    pairs = [
        ("snapshots", t.snapshots()),
        ("history", t.history()),
        ("refs", t.refs_table()),
        ("files", t.files()),
        ("value_indexes", t.value_indexes()),
        ("maintenance", t.plan_maintenance()),
    ]
    for name, engine in pairs:
        facade = spark.read.format("hiveberg").option("table", name).load(loc)
        assert facade.schema == engine.schema, name
        assert canon(facade) == canon(engine), name
    with pytest.raises(Exception, match="unknown metadata table"):
        spark.read.format("hiveberg").option("table", "nope").load(loc).collect()


def test_typed_columns_roundtrip(spark, warehouse):
    # timestamps (tz-aware arrow read), dates, decimals, arrays, maps,
    # structs, floats — the facade's arrow->Spark hop must be exact
    import datetime
    from decimal import Decimal

    loc = os.path.join(warehouse, "typed")
    schema = (
        "id long, ts timestamp, d date, dec decimal(12,2), "
        "arr array<double>, m map<string,int>, s struct<a:int,b:string>, "
        "f float"
    )
    t = SnapshotTable.create(spark, loc, schema=schema)
    t.append(
        spark.createDataFrame(
            [
                (
                    1,
                    datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
                    datetime.date(2024, 3, 1),
                    Decimal("1234.56"),
                    [1.5, 2.5],
                    {"k": 7},
                    (3, "x"),
                    -1.25,
                ),
                (2, None, None, None, None, None, None, None),
            ],
            schema,
        )
    )
    eng = sorted(map(str, t.scan().collect()))
    fac = sorted(map(str, _facade(spark, loc).collect()))
    assert eng == fac


def test_equality_delete_float_edge_cases(spark, warehouse):
    # Spark eqNullSafe: -0.0 = 0.0 and NaN = NaN — the facade's
    # composite-key anti-join must reproduce both
    loc = os.path.join(warehouse, "feq")
    t = SnapshotTable.create(spark, loc, schema="id long, f double")
    t.append(
        spark.createDataFrame(
            [(1, 0.0), (2, -0.0), (3, 1.0), (4, float("nan"))],
            "id long, f double",
        )
    )
    t.delete_by_keys(
        spark.createDataFrame([(-0.0,), (float("nan"),)], "f double")
    )
    assert sorted(r.id for r in t.scan().collect()) == [3]
    assert sorted(r.id for r in _facade(spark, loc).collect()) == [3]


@pytest.mark.parametrize("seed", [11, 23])
def test_facade_random_churn_parity(spark, warehouse, seed):
    """Randomized append / COW+MOR delete / equality delete / rename /
    add(+default) / widen / drop / compact churn, with facade-vs-scan
    parity (current AND a random historical snapshot) asserted along
    the way — the same churn-guard pattern the field-id and MERGE
    suites use, here guarding the whole facade read stack."""
    import random

    rng = random.Random(seed)
    loc = os.path.join(warehouse, f"churn{seed}")
    t = SnapshotTable.create(spark, loc, schema="id long, a int, b string")
    cols: dict[str, str] = {"a": "int", "b": "string"}
    next_id = 0
    next_col = 0
    dropped: set[str] = set()

    def append():
        nonlocal next_id
        rows = []
        for _ in range(rng.randint(1, 6)):
            vals = [next_id]
            for c, ty in cols.items():
                vals.append(
                    next_id * 3 if ty in ("int", "bigint") else f"v{next_id}"
                )
            rows.append(tuple(vals))
            next_id += 1
        ddl = "id long, " + ", ".join(f"{c} {ty}" for c, ty in cols.items())
        df = spark.createDataFrame(rows, ddl)
        t.append(df.coalesce(1) if rng.random() < 0.5 else df)

    def some_ids():
        return rng.sample(range(next_id), k=min(2, next_id))

    def op_mor_delete():
        if next_id:
            t.delete_where(
                f"id in ({','.join(map(str, some_ids()))})",
                mode="merge-on-read",
            )

    def op_cow_delete():
        if next_id:
            t.delete_where(f"id = {rng.randrange(next_id)}")

    def op_eq_delete():
        if next_id:
            t.delete_by_keys(
                spark.createDataFrame([(i,) for i in some_ids()], "id long")
            )

    def op_rename():
        nonlocal next_col
        old = rng.choice(list(cols))
        new = f"r{next_col}"
        next_col += 1
        cols[new] = cols.pop(old)
        t.rename_column(old, new)

    def op_add():
        nonlocal next_col
        name = f"c{next_col}"
        next_col += 1
        default = rng.choice([None, "42", "'dflt'"])
        ty = "string" if default == "'dflt'" else "int"
        cols[name] = ty
        t.add_column(name, ty, default_sql=default)

    def op_widen():
        ints = [c for c, ty in cols.items() if ty == "int"]
        if ints:
            c = rng.choice(ints)
            cols[c] = "bigint"
            t.widen_column(c, "bigint")

    def op_drop():
        if len(cols) > 1:
            c = rng.choice(list(cols))
            del cols[c]
            dropped.add(c)
            t.drop_column(c)

    def check():
        _assert_parity(_facade(spark, loc), t.scan())
        sids = [r.snapshot_id for r in t.snapshots().collect()]
        if sids:
            sid = rng.choice(sids)
            _assert_parity(
                _facade(spark, loc, snapshot_id=sid),
                t.scan(snapshot_id=sid),
            )

    ops = [
        append,
        append,
        op_mor_delete,
        op_cow_delete,
        op_eq_delete,
        op_rename,
        op_add,
        op_widen,
        op_drop,
        t.compact,
    ]
    append()
    for i in range(12):
        rng.choice(ops)()
        if i % 4 == 3:
            check()
    check()


def test_pos_delete_routing(spark, warehouse):
    """Plan-time routing: a position-delete file reaches only the
    partitions whose data file it targets (no N x M delete-file read
    amplification); a file with no deletes carries an empty list."""
    loc = os.path.join(warehouse, "route")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"d{i}") for i in range(5)]).coalesce(1))
    t.append(_simple(spark, [(i, f"d{i}") for i in range(5, 10)]).coalesce(1))
    t.delete_where("id = 2", mode="merge-on-read")  # targets file 1 only
    specs = {s["rel"]: s for s in _plan_partitions(loc, {}, [])}
    with_dels = [s for s in specs.values() if s["pos_delete_paths"]]
    without = [s for s in specs.values() if not s["pos_delete_paths"]]
    assert len(with_dels) == 1 and len(without) == 1
    _assert_parity(_facade(spark, loc), t.scan())

def test_row_lineage_option_basic(spark, warehouse):
    """`.option("row_lineage", "true")`: the v3 lineage columns with
    scan_with_row_lineage's exact values — block base + position for
    appended files, the adding commit's sequence number — and no
    virtual snapshot column (the engine lineage scan omits it too)."""
    loc = os.path.join(warehouse, "rl")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"a{i}") for i in range(6)]).coalesce(1))
    t.append(_simple(spark, [(i, f"b{i}") for i in range(6, 9)]).coalesce(1))
    f = _facade(spark, loc, row_lineage=True)
    assert "_row_id" in f.columns
    assert "_last_updated_sequence_number" in f.columns
    assert "snapshot__id" not in f.columns
    _assert_parity(f, t.scan_with_row_lineage())


def test_row_lineage_preserved_across_rewrites(spark, warehouse):
    """Rewrite-materialized ids / originating seqs win over the
    block/file-seq computation: COW delete + compaction copy rows whose
    lineage must NOT change (the v3 preservation contract)."""
    loc = os.path.join(warehouse, "rlcow")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(i, f"a{i}") for i in range(4)]).coalesce(1))
    t.append(_simple(spark, [(i, f"b{i}") for i in range(4, 8)]).coalesce(1))
    t.delete_where("id = 6", mode="copy-on-write")
    t.compact()
    _assert_parity(
        _facade(spark, loc, row_lineage=True), t.scan_with_row_lineage()
    )


def test_row_lineage_mor_and_time_travel(spark, warehouse):
    loc = os.path.join(warehouse, "rlmor")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    s1 = t.append(_simple(spark, [(i, f"a{i}") for i in range(6)]).coalesce(1))
    t.delete_where("id = 2", mode="merge-on-read")
    t.update_where("id = 4", {"data": "'upd'"}, mode="merge-on-read")
    _assert_parity(
        _facade(spark, loc, row_lineage=True), t.scan_with_row_lineage()
    )
    _assert_parity(
        _facade(spark, loc, row_lineage=True, snapshot_id=s1),
        t.scan_with_row_lineage(snapshot_id=s1),
    )


def test_row_lineage_orc_null_ids(spark, warehouse):
    """Engine parity: ORC rows have no parquet position — ids are null
    unless a rewrite materialized them."""
    loc = os.path.join(warehouse, "rlorc")
    t = SnapshotTable.create(
        spark, loc, schema="id long, data string", file_format="orc"
    )
    t.append(_simple(spark, [(1, "a"), (2, "b")]).coalesce(1))
    _assert_parity(
        _facade(spark, loc, row_lineage=True), t.scan_with_row_lineage()
    )


def test_row_lineage_reserved_name_collision(spark, warehouse):
    loc = os.path.join(warehouse, "rlclash")
    t = SnapshotTable.create(spark, loc, schema="_row_id long, data string")
    t.append(spark.createDataFrame([(1, "a")], "_row_id long, data string"))
    with pytest.raises(Exception, match="row_lineage reserves"):
        _facade(spark, loc, row_lineage=True).collect()

# -- batch write facade ----------------------------------------------------


def test_write_append_matches_engine_append(spark, warehouse):
    """df.write.format("hiveberg") and SnapshotTable.append commit
    through the same _commit_register — scans of the two tables are
    identical (rows, stats-driven pruning, lineage blocks)."""
    rows = [(i, f"d{i}") for i in range(20)]
    loc_w = os.path.join(warehouse, "w")
    loc_e = os.path.join(warehouse, "e")
    tw = SnapshotTable.create(spark, loc_w, schema="id long, data string")
    te = SnapshotTable.create(spark, loc_e, schema="id long, data string")
    df = _simple(spark, rows).repartition(3)
    df.write.format("hiveberg").mode("append").save(loc_w)
    te.append(df)
    _assert_parity(tw.scan(), te.scan())
    _assert_parity(_facade(spark, loc_w), tw.scan())


def test_write_overwrite_replaces_with_history(spark, warehouse):
    loc = os.path.join(warehouse, "ow")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    _simple(spark, [(1, "a"), (2, "b")]).write.format("hiveberg").mode(
        "append"
    ).save(loc)
    s1 = t._read_meta()["current_snapshot_id"]
    _simple(spark, [(9, "z")]).write.format("hiveberg").mode(
        "overwrite"
    ).save(loc)
    assert [r.id for r in t.scan().collect()] == [9]
    assert sorted(r.id for r in t.scan(snapshot_id=s1).collect()) == [1, 2]
    ops = [r.operation for r in t.snapshots().collect()]
    assert ops == ["append", "overwrite"]


def test_write_bakes_defaults_and_casts(spark, warehouse):
    """A missing defaulted column is baked PHYSICALLY (the engine's
    write-default contract); input types cast to declared types."""
    loc = os.path.join(warehouse, "defw")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.add_column("score", "int", default_sql="7")
    spark.createDataFrame([(1, "a")], "id int, data string").write.format(
        "hiveberg"
    ).mode("append").save(loc)
    got = t.scan().select("id", "score").collect()
    assert [(r.id, r.score) for r in got] == [(1, 7)]
    assert dict(t.scan().dtypes)["id"] == "bigint"
    # physically baked, not read-path defaulted: a later default change
    # must not alter already-written rows
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(loc, "data", "*", "*.parquet"))
    assert any("score" in pq.ParquetFile(p).schema_arrow.names for p in f)


def test_write_branch_wap(spark, warehouse):
    loc = os.path.join(warehouse, "wapw")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.create_branch("audit")
    _simple(spark, [(2, "b")]).write.format("hiveberg").mode("append").option(
        "branch", "audit"
    ).save(loc)
    assert t.scan().count() == 1  # main unaffected until publish
    assert t.scan(ref="audit").count() == 2
    t.fast_forward("audit")
    assert t.scan().count() == 2


def test_write_guards(spark, warehouse):
    loc = os.path.join(warehouse, "guards")
    SnapshotTable.create(
        spark, loc, schema="id long, ts timestamp",
        partition_spec=[("identity", "ts")],  # timestamp identity: no
    )
    df = _simple(spark, [(1, "a")])
    with pytest.raises(Exception, match="partition transform"):
        spark.sql(
            "SELECT CAST(1 AS LONG) id, TIMESTAMP'2024-01-01' ts"
        ).write.format("hiveberg").mode("append").save(loc)
    loc2 = os.path.join(warehouse, "guards2")
    SnapshotTable.create(spark, loc2, schema="id long, data string")
    bad = spark.createDataFrame([(1, "a", 2.0)], "id long, data string, x double")
    with pytest.raises(Exception, match="not in the table schema"):
        bad.write.format("hiveberg").mode("append").save(loc2)
    loc3 = os.path.join(warehouse, "guards3")
    t3 = SnapshotTable.create(spark, loc3, schema="id long, data string")
    t3.set_properties({"write.sort.order": "id"})
    with pytest.raises(Exception, match="sort.order"):
        df.write.format("hiveberg").mode("append").save(loc3)


def test_write_missing_column_reads_null(spark, warehouse):
    loc = os.path.join(warehouse, "missw")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    spark.createDataFrame([(5,)], "id long").write.format("hiveberg").mode(
        "append"
    ).save(loc)
    r = t.scan().select("id", "data").collect()[0]
    assert (r.id, r.data) == (5, None)


def test_write_stats_prune_and_lineage(spark, warehouse):
    """Facade-written files carry footer min/max stats (plan_files
    prunes on them) and first_row_id blocks (lineage scan works)."""
    loc = os.path.join(warehouse, "statw")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    _simple(spark, [(i, "x") for i in range(10)]).coalesce(1).write.format(
        "hiveberg"
    ).mode("append").save(loc)
    _simple(spark, [(i, "y") for i in range(100, 110)]).coalesce(
        1
    ).write.format("hiveberg").mode("append").save(loc)
    assert len(t.plan_files(where="id >= 100")) == 1
    rows = {r.id: r._row_id for r in t.scan_with_row_lineage().collect()}
    assert sorted(rows.values()) == list(range(20))


def test_write_empty_frame_commits_zero_files(spark, warehouse):
    loc = os.path.join(warehouse, "emptyw")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    _simple(spark, []).write.format("hiveberg").mode("append").save(loc)
    assert t.scan().count() == 0
    snaps = t.snapshots().collect()
    assert len(snaps) == 1 and snaps[0].summary["added-data-files"] == "0"


def test_stream_write_sink(spark, warehouse, tmp_path):
    """writeStream.format("hiveberg"): each micro-batch commits one
    append snapshot; contents match the source exactly once."""
    src_loc = os.path.join(warehouse, "ssrc")
    dst_loc = os.path.join(warehouse, "sdst")
    src = SnapshotTable.create(spark, src_loc, schema="id long, data string")
    src.append(_simple(spark, [(1, "a"), (2, "b")]))
    src.append(_simple(spark, [(3, "c")]))
    dst = SnapshotTable.create(spark, dst_loc, schema="id long, data string")
    q = (
        spark.readStream.format("hiveberg")
        .option("virtual_column", "")
        .load(src_loc)
        .writeStream.format("hiveberg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(dst_loc)
    )
    q.awaitTermination(120)
    _assert_parity(
        dst.scan().drop("snapshot__id"), src.scan().drop("snapshot__id")
    )
    summ = dst.snapshots().collect()[-1].summary
    assert summ["streaming-sink-id"] == "default"
    assert "streaming-batch-id" in summ


def test_stream_write_replay_is_noop(spark, warehouse):
    """Exactly-once: re-committing an already-committed batchId (the
    restart replay) registers nothing and removes the staged files."""
    import pyarrow as pa

    loc = os.path.join(warehouse, "replay")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id long, data string")
    w = pyds.HivebergStreamWriter({"path": loc}, schema, overwrite=False)
    batch = pa.record_batch(
        {"id": pa.array([1, 2], pa.int64()), "data": pa.array(["a", "b"])}
    )
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=0)
    assert t.scan().count() == 2
    # replay of batch 0: staged again, must NOT double-commit
    m2 = w.write(iter([batch]))
    staged = os.path.join(loc, m2.files[0]["rel"])
    assert os.path.exists(staged)
    w.commit([m2], batchId=0)
    assert t.scan().count() == 2
    assert not os.path.exists(staged)
    assert len(t.snapshots().collect()) == 1
    # the NEXT batch commits normally
    m3 = w.write(iter([batch]))
    w.commit([m3], batchId=1)
    assert t.scan().count() == 4


def test_stream_write_rejects_overwrite_mode(spark, warehouse):
    loc = os.path.join(warehouse, "sow")
    SnapshotTable.create(spark, loc, schema="id long, data string")
    from pyspark.sql.types import StructType

    with pytest.raises(Exception, match="append output mode"):
        pyds.HivebergStreamWriter(
            {"path": loc}, StructType.fromDDL("id long"), overwrite=True
        )


def _manifest_partitions(t):
    meta = t._read_meta()
    out = {}
    for s in meta["snapshots"]:
        m = t._read_manifest_json(s)
        for rel, parts in (m.get("partitions") or {}).items():
            out[rel] = dict(sorted(parts.items()))
    return sorted(
        (tuple(p.items()) for p in out.values()), key=repr
    )


@pytest.mark.parametrize(
    "spec,schema,rows",
    [
        (
            [("bucket", "id", 4)],
            "id long, data string",
            [(i, f"d{i}") for i in range(40)] + [(None, "nul")],
        ),
        (
            [("identity", "data"), ("truncate", "id", 10)],
            "id long, data string",
            [(i, f"k{i % 3}") for i in range(30)] + [(-7, None), (None, None)],
        ),
        (
            [("bucket", "data", 3)],
            "id long, data string",
            [(i, f"v {i}/x=%{i}") for i in range(20)],  # escape-worthy
        ),
    ],
)
def test_write_partitioned_matches_engine(spark, warehouse, spec, schema, rows):
    """Hidden-partitioned facade writes: identical scan results AND
    identical manifest partition values to an engine append of the
    same rows — bucket (int + string + null keys), identity (incl.
    Hive-escaped values and null dirs), and truncate transforms."""
    loc_w = os.path.join(warehouse, "pw")
    loc_e = os.path.join(warehouse, "pe")
    tw = SnapshotTable.create(spark, loc_w, schema=schema, partition_spec=spec)
    te = SnapshotTable.create(spark, loc_e, schema=schema, partition_spec=spec)
    df = spark.createDataFrame(rows, schema).repartition(2)
    df.write.format("hiveberg").mode("append").save(loc_w)
    te.append(df)
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    assert _manifest_partitions(tw) == _manifest_partitions(te)


def test_write_partitioned_time_transforms(spark, warehouse):
    loc_w = os.path.join(warehouse, "tw")
    loc_e = os.path.join(warehouse, "te")
    schema = "id long, ts timestamp, d date"
    spec = [("day", "ts"), ("month", "d")]
    tw = SnapshotTable.create(spark, loc_w, schema=schema, partition_spec=spec)
    te = SnapshotTable.create(spark, loc_e, schema=schema, partition_spec=spec)
    df = spark.sql("""
        SELECT CAST(id AS LONG) id,
               timestampadd(HOUR, CAST(id * 11 AS INT),
                            TIMESTAMP'2024-03-30 22:15:00') ts,
               date_add(DATE'2024-01-25', CAST(id * 9 AS INT)) d
        FROM range(12)
    """)
    df.write.format("hiveberg").mode("append").save(loc_w)
    te.append(df)
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    assert _manifest_partitions(tw) == _manifest_partitions(te)


def test_write_partitioned_bucket_prunes(spark, warehouse):
    """Facade-written bucket partitions prune point probes exactly like
    engine-written ones (the manifests are the same)."""
    loc = os.path.join(warehouse, "bp")
    t = SnapshotTable.create(
        spark, loc, schema="id long, data string",
        partition_spec=[("bucket", "id", 8)],
    )
    _simple(spark, [(i, f"d{i}") for i in range(200)]).coalesce(
        1
    ).write.format("hiveberg").mode("append").save(loc)
    all_files = t.plan_files()
    probed = t.plan_files(where="id = 17")
    assert len(all_files) == 8
    assert len(probed) == 1
    assert t.scan_where("id = 17").count() == 1


def test_add_files_hive_layout_reads(spark, warehouse, tmp_path):
    """add_files-adopted Hive `key=value` layouts read through the
    facade: dir-only partition columns attach per file with the
    adoption-pinned types — parity with the engine's basePath
    discovery, including a COW rewrite that materializes them."""
    ext = str(tmp_path / "hive")
    for y, c, lo in [(2023, "us", 0), (2023, "de", 100), (2024, "us", 200)]:
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(lo, lo + 10)], "id long, data string"
        ).coalesce(1).write.parquet(
            os.path.join(ext, f"year={y}", f"country={c}")
        )
    loc = os.path.join(warehouse, "adopt")
    t = SnapshotTable.create(spark, loc)
    t.add_files(ext, committed_at=1000)
    _assert_parity(_facade(spark, loc), t.scan())
    assert _facade(spark, loc).filter("year = 2024").count() == 10
    # pushed filter on a dir-only column prunes via the min==max stats
    specs = _plan_partitions(loc, {}, ["year = 2024"])
    assert len(specs) == 1
    # COW delete rewrites one adopted file into a table-owned one (the
    # columns materialize physically); the mixed state still matches
    t.delete_where("id = 205", committed_at=2000)
    _assert_parity(_facade(spark, loc), t.scan())


def test_write_target_file_size_rolls(spark, warehouse):
    """write.target-file-size-bytes: a single long task rolls to new
    files at the target instead of producing one giant file; contents
    and lineage blocks stay exact."""
    loc = os.path.join(warehouse, "roll")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.set_properties({"write.target-file-size-bytes": "1"})
    _simple(spark, [(i, f"d{i}") for i in range(25000)]).coalesce(
        1
    ).write.format("hiveberg").mode("append").save(loc)
    files = t.plan_files()
    assert len(files) >= 2  # one task, multiple rolled files
    df = t.scan()
    assert df.count() == 25000
    assert df.select("id").distinct().count() == 25000
    rows = t.scan_with_row_lineage().select("_row_id").collect()
    assert sorted(r._row_id for r in rows) == list(range(25000))


def test_stream_write_new_query_after_old_sink_commits(spark, warehouse):
    """A NEW streaming query (fresh checkpoint, batch ids restarting
    at 0) against a table previously streamed to must NOT have its
    early batches discarded — dedup fires only on an exact repeat of
    the latest committed batch id (the one-batch replay Structured
    Streaming can produce)."""
    import pyarrow as pa

    from pyspark.sql.types import StructType

    loc = os.path.join(warehouse, "newq")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    schema = StructType.fromDDL("id long, data string")
    batch = pa.record_batch(
        {"id": pa.array([1], pa.int64()), "data": pa.array(["a"])}
    )
    w1 = pyds.HivebergStreamWriter({"path": loc}, schema, overwrite=False)
    for b in range(3):  # query 1 commits batches 0..2
        w1.commit([w1.write(iter([batch]))], batchId=b)
    assert t.scan().count() == 3
    # query 2: fresh checkpoint, batch ids restart at 0 — must append
    w2 = pyds.HivebergStreamWriter({"path": loc}, schema, overwrite=False)
    w2.commit([w2.write(iter([batch]))], batchId=0)
    assert t.scan().count() == 4
    # replay of query 2's batch 0 (restart) — must dedup
    w2.commit([w2.write(iter([batch]))], batchId=0)
    assert t.scan().count() == 4


def test_write_partitioned_empty_string_value(spark, warehouse):
    """Empty-string partition values take the null dir, matching
    Spark's getPartitionPathString (engine-write parity)."""
    loc_w = os.path.join(warehouse, "es_w")
    loc_e = os.path.join(warehouse, "es_e")
    spec = [("identity", "data")]
    tw = SnapshotTable.create(
        spark, loc_w, schema="id long, data string", partition_spec=spec
    )
    te = SnapshotTable.create(
        spark, loc_e, schema="id long, data string", partition_spec=spec
    )
    df = _simple(spark, [(1, ""), (2, "x"), (3, None)])
    df.write.format("hiveberg").mode("append").save(loc_w)
    te.append(df)
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    assert _manifest_partitions(tw) == _manifest_partitions(te)


def test_write_rolled_files_stay_staged_until_task_end(spark, warehouse):
    """Rolled files remain .inprogress until the task finishes — a
    failed attempt must never leave published-looking parquet files."""
    import glob

    import pyarrow as pa
    from pyspark.sql.types import StructType

    loc = os.path.join(warehouse, "rollstage")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.set_properties({"write.target-file-size-bytes": "1"})
    w = pyds.HivebergDataWriter(
        {"path": loc}, StructType.fromDDL("id long, data string"), False
    )
    batches = [
        pa.record_batch(
            {"id": pa.array([i], pa.int64()), "data": pa.array([f"d{i}"])}
        )
        for i in range(3)
    ]

    def gen():
        yield batches[0]
        yield batches[1]
        # mid-task: the first file has rolled (sealed) but NOTHING is
        # published as .parquet yet
        assert glob.glob(os.path.join(loc, "data", "*", "*.parquet")) == []
        yield batches[2]

    msg = w.write(gen())
    assert len(msg.files) == 3  # every batch rolled
    w.commit([msg])
    assert t.scan().count() == 3


@pytest.mark.parametrize("seed", [11, 23])
def test_write_partitioned_random_parity(spark, warehouse, seed):
    """Randomized engine-vs-facade WRITE parity: random partition
    specs over random data (negative ints, unicode and escape-worthy
    strings, nulls, boundary dates) must produce identical scans AND
    identical manifest partition values."""
    import datetime
    import random

    rng = random.Random(seed)
    schema = "id long, s string, d date"
    specs = [
        [("bucket", "id", rng.choice([2, 4, 8]))],
        [("truncate", "id", 100), ("bucket", "s", 3)],
        [("identity", "s")],
        [("truncate", "s", 2)],
        [("month", "d"), ("bucket", "id", 4)],
        [("identity", "d")],
    ]
    strings = [
        "plain", "", None, "with space", "a=b/c:d", "ünïcödé", "x" * 40,
        "%41", "new\nline", "tab\tsep", "'quote'",
    ]
    rows = [
        (
            rng.randint(-(10**6), 10**6),
            rng.choice(strings),
            rng.choice(
                [
                    None,
                    datetime.date(1970, 1, 1),
                    datetime.date(2024, 2, 29),
                    datetime.date(1969, 12, 31),
                    datetime.date(2033, 11, 3),
                ]
            ),
        )
        for _ in range(60)
    ]
    for si, spec in enumerate(rng.sample(specs, 3)):
        loc_w = os.path.join(warehouse, f"rw{si}")
        loc_e = os.path.join(warehouse, f"re{si}")
        tw = SnapshotTable.create(
            spark, loc_w, schema=schema, partition_spec=spec
        )
        te = SnapshotTable.create(
            spark, loc_e, schema=schema, partition_spec=spec
        )
        df = spark.createDataFrame(rows, schema).repartition(2)
        df.write.format("hiveberg").mode("append").save(loc_w)
        te.append(df)
        _assert_parity(
            tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
        )
        assert _manifest_partitions(tw) == _manifest_partitions(te), spec


def test_incremental_batch_read_options(spark, warehouse):
    """Iceberg's incremental batch read (`start-snapshot-id` /
    `end-snapshot-id`): only the files appended in (start, end], each
    row stamped with its ADDING commit in the virtual column; replace
    commits refuse unless skipped (exactly the streaming-read
    contract, as a batch option)."""
    loc = os.path.join(warehouse, "incr")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    s1 = t.append(_simple(spark, [(1, "a")]))
    s2 = t.append(_simple(spark, [(2, "b")]))
    s3 = t.append(_simple(spark, [(3, "c")]))
    got = _facade(spark, loc, start_snapshot_id=s1).collect()
    assert sorted((r.id, r.snapshot__id) for r in got) == [(2, s2), (3, s3)]
    got = _facade(
        spark, loc, start_snapshot_id=s1, end_snapshot_id=s2
    ).collect()
    assert [(r.id, r.snapshot__id) for r in got] == [(2, s2)]
    # engine parity: same range through scan_changes
    eng = t.scan_changes(s1, s2).collect()
    assert sorted(r.id for r in eng) == [2]
    # replace commits in range refuse without the skip option
    t.compact()
    with pytest.raises(Exception, match="append-only|skip_replace"):
        _facade(spark, loc, start_snapshot_id=s1).collect()
    assert (
        _facade(
            spark, loc, start_snapshot_id=s3, skip_replace_snapshots=True
        ).count()
        == 0
    )
    with pytest.raises(Exception, match="mutually exclusive"):
        _facade(spark, loc, start_snapshot_id=s1, snapshot_id=s2).collect()


def test_stream_write_into_partitioned_table(spark, warehouse, tmp_path):
    """The streaming sink shares the batch writer's hidden-partition
    fan-out: micro-batches land in `_p_x=v/` files and bucket pruning
    works over the streamed table."""
    src_loc = os.path.join(warehouse, "psrc")
    dst_loc = os.path.join(warehouse, "pdst")
    src = SnapshotTable.create(spark, src_loc, schema="id long, data string")
    src.append(_simple(spark, [(i, f"d{i}") for i in range(50)]).coalesce(1))
    dst = SnapshotTable.create(
        spark, dst_loc, schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    q = (
        spark.readStream.format("hiveberg")
        .option("virtual_column", "")
        .load(src_loc)
        .writeStream.format("hiveberg")
        .option("checkpointLocation", str(tmp_path / "pck"))
        .trigger(availableNow=True)
        .start(dst_loc)
    )
    q.awaitTermination(120)
    assert dst.scan().count() == 50
    assert len(dst.plan_files(where="id = 17")) < len(dst.plan_files())
    _assert_parity(
        dst.scan().drop("snapshot__id"), src.scan().drop("snapshot__id")
    )


def test_concurrent_facade_appends_both_commit(spark, warehouse):
    """Two facade appends racing: the O_EXCL commit lock serializes the
    metadata swaps and BOTH snapshots land (no lost update), with
    disjoint row-id blocks."""
    import threading

    loc = os.path.join(warehouse, "race")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    errs = []

    def put(lo):
        try:
            _simple(
                spark, [(i, f"d{i}") for i in range(lo, lo + 10)]
            ).write.format("hiveberg").mode("append").save(loc)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    th = [threading.Thread(target=put, args=(lo,)) for lo in (0, 100)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    assert t.scan().count() == 20
    assert len(t.snapshots().collect()) == 2
    rows = t.scan_with_row_lineage().select("_row_id").collect()
    ids = sorted(r._row_id for r in rows)
    assert ids == list(range(20))  # disjoint blocks, no overlap


def test_file_uri_paths_accepted(spark, warehouse):
    """`file:` URIs work everywhere a path option does (Spark's SQL
    catalog hands locations through as qualified URIs)."""
    loc = os.path.join(warehouse, "uri")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    assert _facade(spark, "file://" + loc).count() == 1
    _simple(spark, [(2, "b")]).write.format("hiveberg").mode("append").save(
        "file:" + loc
    )
    assert t.scan().count() == 2


def test_write_orc_table(spark, warehouse):
    """ORC-format tables write through the facade too: pyarrow ORC
    writer executor-side, engine-distributed footer stats at commit —
    scan parity with an engine append and min/max pruning intact."""
    loc_w = os.path.join(warehouse, "orcw")
    loc_e = os.path.join(warehouse, "orce")
    tw = SnapshotTable.create(
        spark, loc_w, schema="id long, data string", file_format="orc"
    )
    te = SnapshotTable.create(
        spark, loc_e, schema="id long, data string", file_format="orc"
    )
    df = _simple(spark, [(i, f"d{i}") for i in range(20)])
    df.coalesce(1).write.format("hiveberg").mode("append").save(loc_w)
    te.append(df.coalesce(1))
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    _simple(spark, [(i, "y") for i in range(100, 120)]).coalesce(
        1
    ).write.format("hiveberg").mode("append").save(loc_w)
    assert len(tw.plan_files(where="id >= 100")) == 1  # ORC stats prune
    _assert_parity(_facade(spark, loc_w), tw.scan())


def test_write_avro_table(spark, warehouse):
    """Avro-format tables write through the facade: per-task container
    encode via avro_io's primitives, writer-side bounds in the commit
    message — engine-append scan parity, stats pruning, and a facade
    read-back over the same files."""
    loc_w = os.path.join(warehouse, "avw")
    loc_e = os.path.join(warehouse, "ave")
    tw = SnapshotTable.create(
        spark, loc_w, schema="id long, data string", file_format="avro"
    )
    te = SnapshotTable.create(
        spark, loc_e, schema="id long, data string", file_format="avro"
    )
    df = _simple(spark, [(i, f"d{i}") for i in range(20)] + [(99, None)])
    df.coalesce(1).write.format("hiveberg").mode("append").save(loc_w)
    te.append(df.coalesce(1))
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    _simple(spark, [(i, "y") for i in range(200, 220)]).coalesce(
        1
    ).write.format("hiveberg").mode("append").save(loc_w)
    assert len(tw.plan_files(where="id >= 200")) == 1  # writer stats
    _assert_parity(_facade(spark, loc_w), tw.scan())


def test_incremental_read_avro_and_pruning(spark, warehouse):
    """Review fixes: avro files flow through the incremental read (the
    shared partition reader decodes them); pushed filters prune the
    incremental file set against the range END; end_snapshot_id alone
    refuses (Iceberg parity)."""
    loc = os.path.join(warehouse, "incrav")
    t = SnapshotTable.create(
        spark, loc, schema="id long, data string", file_format="avro"
    )
    s1 = t.append(_simple(spark, [(1, "a")]))
    t.append(_simple(spark, [(2, "b")]))
    got = _facade(spark, loc, start_snapshot_id=s1).collect()
    assert [(r.id) for r in got] == [2]
    with pytest.raises(Exception, match="requires\\s+start_snapshot_id"):
        _facade(spark, loc, end_snapshot_id=1).collect()
    # parquet table: manifest pruning applies inside the range
    loc2 = os.path.join(warehouse, "incrpr")
    t2 = SnapshotTable.create(spark, loc2, schema="id long, data string")
    p1 = t2.append(_simple(spark, [(i, "x") for i in range(10)]).coalesce(1))
    t2.append(_simple(spark, [(i, "y") for i in range(100, 110)]).coalesce(1))
    t2.append(
        _simple(spark, [(i, "z") for i in range(200, 210)]).coalesce(1)
    )
    from hiveberg_spark.sources.pyds import HivebergReader

    r = HivebergReader({"path": loc2, "start_snapshot_id": str(p1)}, None)
    r.conjuncts = ["id >= 200"]  # what pushFilters would derive
    files = [
        spec
        for p in r.partitions()
        if p.spec
        for spec in p.spec["specs"]
    ]
    assert len(files) == 1  # only the z-file survives the range prune
    df = _facade(spark, loc2, start_snapshot_id=p1).filter("id >= 200")
    assert df.count() == 10


def test_variant_table_raises_at_plan_time(spark, warehouse):
    loc = os.path.join(warehouse, "variantf")
    t = SnapshotTable.create(spark, loc, schema="id long, v variant")
    t.append(spark.sql("SELECT CAST(1 AS LONG) id, parse_json('{}') v"))
    with pytest.raises(Exception, match="variant columns"):
        _facade(spark, loc).collect()


def test_write_snapshot_properties(spark, warehouse):
    """Iceberg's snapshot-property.* write options stamp custom keys
    into the commit summary (batch and streaming sinks)."""
    loc = os.path.join(warehouse, "sprops")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    _simple(spark, [(1, "a")]).write.format("hiveberg").mode(
        "append"
    ).option("snapshot-property.job", "nightly-7").option(
        "snapshot-property.audit", "yes"
    ).save(loc)
    summ = t.snapshots().collect()[-1].summary
    assert summ["job"] == "nightly-7" and summ["audit"] == "yes"


def test_write_typed_columns_roundtrip(spark, warehouse):
    """Typed-value fidelity through the facade writer: decimals,
    doubles (incl. -0.0 and infinities), boundary dates/timestamps,
    booleans, unicode strings, and nulls in every column must scan
    identically to an engine append of the same frame."""
    loc_w = os.path.join(warehouse, "tw2")
    loc_e = os.path.join(warehouse, "te2")
    schema = (
        "id long, f double, dec decimal(12,4), d date, ts timestamp, "
        "ok boolean, s string"
    )
    df = spark.sql("""
        SELECT * FROM VALUES
          (CAST(1 AS LONG), CAST(1.5 AS DOUBLE), CAST(12345.6789 AS DECIMAL(12,4)),
           DATE'0001-01-01', TIMESTAMP'1969-12-31 23:59:59.999999', true, 'plain'),
          (2, CAST(-0.0 AS DOUBLE), CAST(-0.0001 AS DECIMAL(12,4)),
           DATE'9999-12-31', TIMESTAMP'2262-04-11 23:47:16.854775', false, 'ünïcödé'),
          (3, CAST('Infinity' AS DOUBLE), NULL, NULL, NULL, NULL, NULL),
          (4, NULL, CAST(0 AS DECIMAL(12,4)), DATE'2024-02-29',
           TIMESTAMP'2024-01-01 00:00:00', true, '')
        t(id, f, dec, d, ts, ok, s)
    """)
    tw = SnapshotTable.create(spark, loc_w, schema=schema)
    te = SnapshotTable.create(spark, loc_e, schema=schema)
    df.write.format("hiveberg").mode("append").save(loc_w)
    te.append(df)
    _assert_parity(
        tw.scan().drop("snapshot__id"), te.scan().drop("snapshot__id")
    )
    _assert_parity(_facade(spark, loc_w), tw.scan())


def test_split_packing_groups_small_files(spark, warehouse):
    """Split planning: many small files bin-pack into shared
    InputPartitions (manifest byte counts, no file opens); a tiny
    target or option 0 disables; results identical either way."""
    from hiveberg_spark.sources.pyds import HivebergReader

    loc = os.path.join(warehouse, "pack")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    for i in range(6):
        t.append(_simple(spark, [(i, f"d{i}")]).coalesce(1))
    packed = HivebergReader({"path": loc}, None).partitions()
    assert len(packed) == 1  # six tiny files -> one 128MB-target split
    assert len(packed[0].spec["specs"]) == 6
    solo = HivebergReader(
        {"path": loc, "target_split_bytes": "0"}, None
    ).partitions()
    assert len(solo) == 6
    assert _facade(spark, loc).count() == 6
    _assert_parity(
        _facade(spark, loc, target_split_bytes=0), _facade(spark, loc)
    )


def test_variant_guard_respects_projection_and_writes(spark, warehouse):
    """Review fixes: variant tables refuse at PLAN time even when the
    projection excludes the column (pyarrow cannot open parquet files
    carrying VariantType at all); facade writes of variant columns
    refuse driver-side; reserved snapshot-summary keys are not
    user-forgeable."""
    loc = os.path.join(warehouse, "varproj")
    t = SnapshotTable.create(spark, loc, schema="id long, v variant")
    t.append(spark.sql("SELECT CAST(7 AS LONG) id, parse_json('{}') v"))
    with pytest.raises(Exception, match="variant columns"):
        _facade(spark, loc, columns="id").collect()
    with pytest.raises(Exception, match="variant columns"):
        spark.sql(
            "SELECT CAST(8 AS LONG) id, parse_json('{}') v"
        ).write.format("hiveberg").mode("append").save(loc)
    # writes that omit the variant column succeed (engine scan reads
    # the new file's variant as null)
    spark.sql("SELECT CAST(9 AS LONG) id").write.format("hiveberg").mode(
        "append"
    ).save(loc)
    assert sorted(r.id for r in t.scan().collect()) == [7, 9]
    with pytest.raises(Exception, match="engine-reserved"):
        spark.sql("SELECT CAST(1 AS LONG) id").write.format(
            "hiveberg"
        ).mode("append").option(
            "snapshot-property.streaming-batch-id", "3"
        ).save(loc)


def test_facade_in_filter_prunes_buckets_and_bounds(spark, warehouse):
    """Spark pushes `isin` as an In filter; the facade renders it as a
    `col IN (...)` conjunct, which (since round 6) prunes through BOTH
    static tiers — bucket partitions (allowed-bucket sets) and footer
    min/max (any-member-in-bounds) — before any data IO."""
    loc = os.path.join(warehouse, "in_prune")
    t = SnapshotTable.create(
        spark,
        loc,
        schema="id long, v string",
        partition_spec=[("bucket", "id", 16)],
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5000)], "id long, v string"
        ).repartition(8)
    )
    total = len(t.plan_files())

    from hiveberg_spark.sources.pyds import HivebergReader

    r = HivebergReader({"path": loc}, None)
    r.conjuncts = ["id IN (7, 123, 4001)"]  # what pushFilters derives
    planned = sum(
        len(p.spec["specs"]) for p in r.partitions() if p.spec
    )
    assert 0 < planned < total
    got = (
        _facade(spark, loc)
        .filter(F.col("id").isin(7, 123, 4001))
        .select("id")
        .collect()
    )
    assert sorted(x.id for x in got) == [7, 123, 4001]


def test_facade_reads_date_to_timestamp_widening(spark, warehouse):
    """v3 date->timestamp promotion through the facade: files sealed
    before the widen carry date32 physicals; the facade must surface
    the widened TIMESTAMP schema with midnight values for them and
    verbatim values for post-widen files."""
    loc = os.path.join(warehouse, "dtw")
    t = SnapshotTable.create(spark, loc, schema="id long, d date")
    t.append(
        spark.sql(
            "SELECT CAST(1 AS LONG) id, DATE '2024-03-05' d "
            "UNION ALL SELECT 2, DATE '2023-12-31'"
        )
    )
    t.widen_column("d", "timestamp")
    t.append(
        spark.sql("SELECT CAST(3 AS LONG) id, TIMESTAMP '2024-06-01 10:30:00' d")
    )
    engine = t.scan()
    assert dict(engine.dtypes)["d"] == "timestamp"
    assert sorted(str(r.d) for r in engine.collect()) == [
        "2023-12-31 00:00:00",
        "2024-03-05 00:00:00",
        "2024-06-01 10:30:00",
    ]
    _assert_parity(_facade(spark, loc), engine)


def test_stream_reader_max_snapshots_per_batch(spark, warehouse, tmp_path):
    """Admission control: with max_snapshots_per_batch=1 each trigger
    admits at most ONE commit. Under availableNow the capped offset is
    captured at query start, so each run drains exactly one commit of
    the 3-commit backlog — bounded per-trigger state, exactly-once, in
    commit order."""
    loc = os.path.join(warehouse, "ratelim")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]))
    t.append(_simple(spark, [(2, "b")]))
    t.append(_simple(spark, [(3, "c")]))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run():
        return _run_stream(
            spark, loc, ck, out, max_snapshots_per_batch="1"
        )

    assert run() == [(1, "a", 1)]
    assert run() == [(1, "a", 1), (2, "b", 2)]
    assert run() == [(1, "a", 1), (2, "b", 2), (3, "c", 3)]
    # caught up: another capped run admits nothing new
    assert run() == [(1, "a", 1), (2, "b", 2), (3, "c", 3)]
    # uncapped resume still gets exactly the remaining delta
    t.append(_simple(spark, [(4, "d")]))
    t.append(_simple(spark, [(5, "e")]))
    assert _run_stream(spark, loc, ck, out) == [
        (1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4), (5, "e", 5)
    ]
    with pytest.raises(Exception, match="max_snapshots_per_batch"):
        _run_stream(
            spark, loc, str(tmp_path / "ck2"), str(tmp_path / "out2"),
            max_snapshots_per_batch="-2",
        )


def test_incremental_read_by_timestamp_options(spark, warehouse):
    loc = os.path.join(warehouse, "incts")
    t = SnapshotTable.create(spark, loc, schema="id long, data string")
    t.append(_simple(spark, [(1, "a")]), committed_at=1000)
    t.append(_simple(spark, [(2, "b")]), committed_at=2000)
    t.append(_simple(spark, [(3, "c")]), committed_at=3000)
    got = sorted(
        r.id
        for r in _facade(
            spark, loc, start_timestamp_ms="1000", end_timestamp_ms="2500"
        ).collect()
    )
    assert got == [2]
    got = sorted(
        r.id
        for r in _facade(spark, loc, start_timestamp_ms="1500").collect()
    )
    assert got == [2, 3]
    with pytest.raises(Exception, match="end_timestamp_ms requires"):
        _facade(spark, loc, end_timestamp_ms="2500").collect()
    with pytest.raises(Exception, match="mutually exclusive"):
        _facade(
            spark, loc, start_timestamp_ms="1000", start_snapshot_id="1"
        ).collect()


@pytest.mark.parametrize(
    "writer,fmt",
    [
        (w, f)
        for w in ("engine", "facade")
        for f in ("parquet", "avro", "orc")
    ],
)
def test_nan_round_trips_and_is_never_pruned(spark, warehouse, writer, fmt):
    """A NaN in a float column reads back as NaN, not NULL, and no file
    bound (manifest or footer) hides it from a predicate it satisfies:
    Spark orders NaN above every number, so `d > 5` holds for it."""
    import math

    loc = os.path.join(warehouse, f"nan_{writer}_{fmt}")
    t = SnapshotTable.create(
        spark, loc, schema="id int, d double", file_format=fmt
    )
    # one file holds both rows, so its bounds must cover the NaN
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "id int, d double"
    ).coalesce(1)
    if writer == "engine":
        t.append(df)
    else:
        df.write.format("hiveberg").mode("append").save(loc)
    t = SnapshotTable.load(spark, loc)
    got = dict(t.scan(virtual_column=None).select("id", "d").collect())
    assert got[1] == 1.0 and got[2] is not None and math.isnan(got[2]), got
    for hits in (
        t.scan_where("d > 5", virtual_column=None),
        t.scan(virtual_column=None).where("d > 5"),
    ):
        assert [r.id for r in hits.collect()] == [2]


def test_facade_parquet_seals_file_before_first_nan(spark, warehouse):
    """A batch that brings the first NaN into a column seals the open
    file, whose footer bounds stay valid, and the task continues in a
    file that writes no statistics for that column."""
    from hiveberg_spark.session import conf_override

    loc = os.path.join(warehouse, "nan_roll")
    t = SnapshotTable.create(spark, loc, schema="id int, d double")
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "id int, d double"
    ).coalesce(1)
    with conf_override(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "1"):
        df.write.format("hiveberg").mode("append").save(loc)
    t = SnapshotTable.load(spark, loc)
    assert len(t.plan_files()) == 2
    assert len(t.plan_files("d < 1.5")) == 2
    assert len(t.plan_files("d > 5")) == 1
    assert [r.id for r in t.scan_where("d > 5", virtual_column=None).collect()] == [2]
