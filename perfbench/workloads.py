"""The two workloads: their seeded inputs, their operations, and the
check of each operation's result against a computation made apart from
the engine (DuckDB over the same generated files, or a DuckDB replay of
the seeded commit sequence)."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
           "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
           "l_linestatus", "l_shipdate"]
VCOL = "snapshot__id"


@dataclass
class Op:
    """One timed call into the engine. `call` returns a DataFrame (the
    runner collects it with toArrow inside the timed region) or a plain
    value; `check` returns None when the collected result is right."""

    name: str
    kind: str  # "read", "commit" or "stream"
    call: Callable[[], Any]
    check: Callable[[Any], str | None]


def _pdf(result) -> pd.DataFrame:
    return result.to_pandas() if isinstance(result, pa.Table) else result


def _frame_check(want: pd.DataFrame, drop: tuple = ()) -> Callable[[Any], str | None]:
    def check(result):
        got = _pdf(result)
        return checks.compare(got.drop(columns=[c for c in drop if c in got]), want)
    return check


def _vcol_check(want: pd.DataFrame, sid: int) -> Callable[[Any], str | None]:
    """Data columns equal `want`; every row carries snapshot id `sid`."""
    inner = _frame_check(want, drop=(VCOL,))

    def check(result):
        got = _pdf(result)
        if VCOL not in got or not (got[VCOL] == sid).all():
            return f"{VCOL} is not {sid} on every row"
        return inner(got)
    return check


def _day(us: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(us // 1_000_000))


class Workload:
    """Base: owns the run's directories, DuckDB connection and seed."""

    name = ""
    sizes: dict = {}

    def __init__(self, spark, scratch: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.in_dir = os.path.join(scratch, "in")
        self.wh = os.path.join(scratch, "wh")
        self.setup_commit_s: list[float] = []
        self.con = None
        self._oracles: dict[str, pd.DataFrame] = {}

    def generate(self) -> dict:
        rows = gen.generate(self.in_dir, self.seed, **self.sizes)
        self.con = checks.duck(self.in_dir)
        return rows

    def build(self) -> None:
        """Table builds; runs after generate()."""

    def pass_ops(self, i: int) -> list[Op]:
        raise NotImplementedError

    def end_pass(self, i: int) -> None:
        """Called after pass `i` and its checks, outside any timing."""

    def table_bytes(self) -> int:
        """Bytes on disk of the table this workload writes."""
        return gen.dir_bytes(self.table_location())

    def table_location(self) -> str:
        raise NotImplementedError

    def user_bytes(self) -> int:
        """Bytes of input committed in one pass (0: a pass commits nothing)."""
        return 0

    def registry_op(self, name: str) -> Op:
        from hiveberg_spark import registry

        if name not in self._oracles:
            self._oracles[name] = self.con.sql(registry.ORACLES[name]).df()
        fn, sf = registry.QUERIES[name], self.in_dir
        return Op(name, "stream" if name.startswith("stream_") else "read",
                  lambda: fn(self.spark, sf), _frame_check(self._oracles[name]))


class LakeScan(Workload):
    """Read-only analytics over a snapshot table and the parquet inputs."""

    name = "lake_scan"
    sizes = dict(lineitem_rows=60_000, documents=200, embeddings=200, events=2_000)
    SLICES = 6
    REGISTRY = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
                "q6_forecast_revenue", "q10_returned_items", "q18_large_volume_customer",
                "pyds_facade_scan", "snapshot_mor_dv_read_bench", "events_dau_stickiness")
    OPS = REGISTRY + ("scan_where_point", "scan_where_range", "scan_as_of",
                      "scan_runtime_pruned", "meta_snapshots", "meta_files",
                      "sql_version_as_of")

    def build(self) -> None:
        from hiveberg_spark.sources.snapshot_table import SnapshotTable

        rng, con = self.rng, self.con
        li = pq.read_table(os.path.join(self.in_dir, "lineitem.parquet"))
        n = li.num_rows
        order = rng.permutation(n)
        slice_dir = os.path.join(self.wh, "slices")
        os.makedirs(slice_dir, exist_ok=True)
        paths = []
        for s, part in enumerate(np.array_split(order, self.SLICES)):
            p = os.path.join(slice_dir, f"s{s}.parquet")
            pq.write_table(li.take(pa.array(np.sort(part))), p)
            paths.append(p)
        con.execute("CREATE TABLE lake AS " + " UNION ALL ".join(
            f"SELECT *, {s} AS _s FROM '{p}'" for s, p in enumerate(paths)))
        self.deleted = f"l_partkey % 23 = {int(rng.integers(23))}"
        spec = [("bucket", "l_orderkey", 16)]
        # The first commits in a fresh JVM run cold: several times slower
        # than later ones, and far more sensitive to host load. A
        # throwaway table takes that cost untimed.
        warm = SnapshotTable.create(self.spark, os.path.join(self.wh, "warm"), partition_spec=spec)
        for p in paths[:2]:
            warm.append(self.spark.read.parquet(p))
        warm.delete_where(self.deleted, mode="merge-on-read")
        shutil.rmtree(warm.location)
        self.table = SnapshotTable.create(
            self.spark, os.path.join(self.wh, "lineitem_st"), partition_spec=spec)
        self.sids = []
        for p in paths:
            t0 = time.perf_counter()
            self.sids.append(self.table.append(self.spark.read.parquet(p)))
            self.setup_commit_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.sids.append(self.table.delete_where(self.deleted, mode="merge-on-read"))
        self.setup_commit_s.append(time.perf_counter() - t0)
        self.n_rows = n
        self._plan_reads()

    def _state(self, k: int | None = None) -> str:
        """DuckDB rows of the table as of the k-th commit (None: current)."""
        if k is None:
            return f"(SELECT * FROM lake WHERE NOT ({self.deleted}))"
        return f"(SELECT * FROM lake WHERE _s < {k})"

    def _plan_reads(self) -> None:
        rng, con, cols = self.rng, self.con, ", ".join(LI_COLS)
        keys = [r[0] for r in con.sql(
            f"SELECT DISTINCT l_orderkey FROM {self._state()} ORDER BY 1").fetchall()]
        picks = rng.choice(len(keys), 13, replace=False)
        self.point_key = int(keys[picks[0]])
        self.runtime_keys = sorted(int(keys[i]) for i in picks[1:])
        lo = gen._US_1995 + int(rng.integers(30, gen._SHIP_DAYS - 30)) * gen._DAY_US
        self.range_pred = (f"l_shipdate >= '{_day(lo)}' AND "
                           f"l_shipdate < '{_day(lo + 20 * gen._DAY_US)}'")
        self.k_scan = self.SLICES // 2 + int(rng.integers(0, 2))  # similar sizes on every seed
        self.k_tt = int(rng.integers(2, self.SLICES + 1))
        q = lambda sql: con.sql(sql).df()  # noqa: E731
        self.want = {
            "point": q(f"SELECT {cols} FROM {self._state()} WHERE l_orderkey = {self.point_key}"),
            "range": q(f"SELECT {cols} FROM {self._state()} WHERE {self.range_pred}"),
            "as_of": q(f"SELECT {cols} FROM {self._state(self.k_scan)}"),
            "runtime": q(f"SELECT {cols} FROM {self._state()} WHERE l_orderkey IN "
                         f"({', '.join(map(str, self.runtime_keys))})"),
            "time_travel": q(
                "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
                f"FROM {self._state(self.k_tt)} GROUP BY 1, 2"),
        }
        self.keys_df = self.spark.createDataFrame(
            [(k,) for k in self.runtime_keys], "l_orderkey long")

    def _check_snapshots(self, result) -> str | None:
        got = _pdf(result)
        want = pd.DataFrame({
            "snapshot_id": self.sids,
            "parent_id": [np.nan] + self.sids[:-1],
            "operation": ["append"] * self.SLICES + ["delete"],
        })
        return checks.compare(got[["snapshot_id", "parent_id", "operation"]], want)

    def _check_files(self, result) -> str | None:
        got = _pdf(result)
        data = got[got["content"] == "data"]
        if int(data["record_count"].sum()) != self.n_rows:
            return f"files: {int(data['record_count'].sum())} records != {self.n_rows}"
        if len(data) < self.SLICES:
            return f"files: {len(data)} data files < {self.SLICES} appends"
        missing = [p for p in got["file_path"]
                   if not os.path.exists(os.path.join(self.table.location, p))]
        return f"files: {len(missing)} listed files missing" if missing else None

    def pass_ops(self, i: int) -> list[Op]:
        from hiveberg_spark.sources import sql_timetravel

        t, w, s = self.table, self.want, self.spark
        tt_sql = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
                  f"FROM lineitem_st VERSION AS OF {self.sids[self.k_tt - 1]} "
                  "GROUP BY l_returnflag, l_linestatus")
        ops = [self.registry_op(n) for n in self.REGISTRY]
        ops += [
            Op("scan_where_point", "read", lambda: t.scan_where(f"l_orderkey = {self.point_key}"),
               _vcol_check(w["point"], self.sids[-1])),
            Op("scan_where_range", "read", lambda: t.scan_where(self.range_pred),
               _vcol_check(w["range"], self.sids[-1])),
            Op("scan_as_of", "read", lambda: t.scan(snapshot_id=self.sids[self.k_scan - 1]),
               _vcol_check(w["as_of"], self.sids[self.k_scan - 1])),
            Op("scan_runtime_pruned", "read",
               lambda: t.scan_runtime_pruned(self.keys_df, "l_orderkey"),
               _frame_check(w["runtime"])),
            Op("meta_snapshots", "read", t.snapshots, self._check_snapshots),
            Op("meta_files", "read", t.files, self._check_files),
            Op("sql_version_as_of", "read",
               lambda: sql_timetravel.sql_with_time_travel(s, self.wh, tt_sql),
               _frame_check(w["time_travel"])),
        ]
        return ops

    def table_location(self) -> str:
        return self.table.location


class Ingest(Workload):
    """The write path: a seeded commit sequence on a fresh table each
    pass, reads between commits, and two streams."""

    name = "ingest"
    sizes = dict(lineitem_rows=30_000, documents=300, embeddings=100, events=8_000)
    # a snapshot-table stream that commits per micro-batch, and a file-source
    # windowed aggregate; stream_keyless_cdc (9 s a pass) and
    # stream_media_ingest (4-5 s) do not fit the run-time budget
    STREAMS = ("stream_rate_limited_source", "stream_tumbling_counts")
    KEYS = ["l_orderkey", "l_linenumber"]
    OPS = ("append_big1", "append_small1", "append_small2", "scan_agg_0", "scan_where_0",
           "append_big2", "delete_cow", "delete_mor", "scan_agg_1", "scan_where_1",
           "merge_upsert", "append_small3", "compact", "expire_snapshots", "scan_agg_2",
           "scan_where_2") + STREAMS

    def build(self) -> None:
        rng, con = self.rng, self.con
        li = pq.read_table(os.path.join(self.in_dir, "lineitem.parquet"))
        n = li.num_rows
        order = rng.permutation(n)
        shares = {"big1": 0.40, "small1": 0.02, "small2": 0.02, "big2": 0.30, "small3": 0.02}
        d = os.path.join(self.wh, "batches")
        os.makedirs(d, exist_ok=True)
        self.batch = {}
        at = 0
        for name, share in shares.items():
            part = order[at: at + int(share * n)]
            at += len(part)
            self.batch[name] = os.path.join(d, f"{name}.parquet")
            pq.write_table(li.take(pa.array(np.sort(part))), self.batch[name])
        # the merge source: a changed slice of committed rows plus new rows
        changed = li.take(pa.array(np.sort(order[: int(0.01 * n)])))
        changed = changed.set_column(
            changed.schema.get_field_index("l_quantity"), "l_quantity",
            pa.compute.add(changed["l_quantity"], 1.0))
        fresh = li.take(pa.array(np.sort(order[at: at + int(0.01 * n)])))
        self.batch["merge"] = os.path.join(d, "merge.parquet")
        pq.write_table(pa.concat_tables([changed, fresh]), self.batch["merge"])
        keys = np.sort(li["l_orderkey"].to_numpy())
        lo = int(keys[int(rng.integers(0, int(0.9 * n)))])
        self.cow_pred = f"l_orderkey >= {lo} AND l_orderkey < {lo + max(n // 150, 10)}"
        self.mor_pred = f"l_partkey % 19 = {int(rng.integers(19))}"
        shipped = gen._US_1995 + int(rng.integers(30, gen._SHIP_DAYS - 60)) * gen._DAY_US
        self.range_pred = (f"l_shipdate >= '{_day(shipped)}' AND "
                           f"l_shipdate < '{_day(shipped + 45 * gen._DAY_US)}'")
        self._replay()

    # the commit sequence: (name, replay SQL on table st) ; reads after "|"
    def _sequence(self) -> list[tuple[str, str]]:
        b, k = self.batch, " AND ".join(f"st.{c} = m.{c}" for c in self.KEYS)
        return [
            ("append_big1", f"INSERT INTO st SELECT * FROM '{b['big1']}'"),
            ("append_small1", f"INSERT INTO st SELECT * FROM '{b['small1']}'"),
            ("append_small2", f"INSERT INTO st SELECT * FROM '{b['small2']}'"),
            ("|", ""),
            ("append_big2", f"INSERT INTO st SELECT * FROM '{b['big2']}'"),
            ("delete_cow", f"DELETE FROM st WHERE {self.cow_pred}"),
            ("delete_mor", f"DELETE FROM st WHERE {self.mor_pred}"),
            ("|", ""),
            ("merge_upsert", f"DELETE FROM st USING '{b['merge']}' m WHERE {k}; "
                             f"INSERT INTO st SELECT * FROM '{b['merge']}'"),
            ("append_small3", f"INSERT INTO st SELECT * FROM '{b['small3']}'"),
            ("compact", ""),
            ("expire_snapshots", ""),
            ("|", ""),
        ]

    def _replay(self) -> None:
        """Run the sequence in DuckDB: the row count after every commit,
        and the expected result of every read."""
        con, cols = self.con, ", ".join(LI_COLS)
        con.execute(f"CREATE TABLE st AS SELECT * FROM '{self.batch['big1']}' LIMIT 0")
        self.want_count, self.want_reads, r = {}, {}, 0
        for name, sql in self._sequence():
            if name == "|":
                self.want_reads[r] = (
                    con.sql("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty, "
                            "SUM(l_extendedprice) AS price FROM st GROUP BY 1").df(),
                    con.sql(f"SELECT {cols} FROM st WHERE {self.range_pred}").df())
                r += 1
                continue
            if sql:
                con.execute(sql)
            self.want_count[name] = con.sql("SELECT COUNT(*) FROM st").fetchone()[0]
        self.want_final = con.sql(f"SELECT {cols} FROM st").df()

    def pass_ops(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from hiveberg_spark.sources.snapshot_table import SnapshotTable

        s, b = self.spark, self.batch
        loc = os.path.join(self.wh, f"ingest_{i}")
        t = SnapshotTable.create(s, loc)
        self.current = t
        read = lambda p: s.read.parquet(p)  # noqa: E731
        calls = {
            "append_big1": lambda: t.append(read(b["big1"])),
            "append_small1": lambda: t.append(read(b["small1"])),
            "append_small2": lambda: t.append(read(b["small2"])),
            "append_big2": lambda: t.append(read(b["big2"])),
            "delete_cow": lambda: t.delete_where(self.cow_pred, mode="copy-on-write"),
            "delete_mor": lambda: t.delete_where(self.mor_pred, mode="merge-on-read"),
            "merge_upsert": lambda: t.merge_upsert(read(b["merge"]), keys=self.KEYS),
            "append_small3": lambda: t.append(read(b["small3"])),
            "compact": lambda: t.compact(),
            "expire_snapshots": lambda: t.expire_snapshots(
                older_than_ms=int(time.time() * 1000) + 1, retain_last=3),
        }

        def count_check(name):
            def check(_res):
                got = t.scan(virtual_column=None).count()
                want = self.want_count[name]
                if got != want:
                    return f"{name}: {got} rows != {want}"
                if name == "expire_snapshots":
                    got = t.scan(virtual_column=None).toPandas()
                    return checks.compare(got, self.want_final)
                return None
            return check

        ops, r = [], 0
        for name, _sql in self._sequence():
            if name != "|":
                ops.append(Op(name, "commit", calls[name], count_check(name)))
                continue
            agg_want, range_want = self.want_reads[r]
            ops.append(Op(f"scan_agg_{r}", "read", lambda: t.scan(virtual_column=None)
                          .groupBy("l_returnflag").agg(
                              F.count("*").alias("n"), F.sum("l_quantity").alias("qty"),
                              F.sum("l_extendedprice").alias("price")),
                          _frame_check(agg_want)))
            ops.append(Op(f"scan_where_{r}", "read",
                          lambda: t.scan_where(self.range_pred, virtual_column="snapshot__id"),
                          _frame_check(range_want, drop=(VCOL,))))
            r += 1
        ops += [self.registry_op(n) for n in self.STREAMS]
        return ops

    def table_location(self) -> str:
        return self.current.location

    def user_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.batch.values())

    def end_pass(self, i: int) -> None:
        self.last_bytes = gen.dir_bytes(self.current.location)
        shutil.rmtree(self.current.location, ignore_errors=True)

    def table_bytes(self) -> int:
        return self.last_bytes


WORKLOADS = {w.name: w for w in (LakeScan, Ingest)}
