"""Python Data Source facade: ``spark.read.format("hiveberg")``.

The idiomatic-Spark front door to the snapshot-table layer (PySpark 4's
Python Data Source API, `pyspark.sql.datasource`): the table registers
as a real DSv2 source, so a user reads it exactly like parquet —

    spark.dataSource.register(HivebergDataSource)
    df = (spark.read.format("hiveberg")
          .option("snapshot_id", 3)          # or ref=..., or
          .load("/warehouse/orders"))        #   as_of_timestamp_ms=...

Execution model (the 100 TB shape):

- **Planning is driver-side pure Python** over the same snapshot
  metadata `SnapshotTable.scan()` uses — the facade instantiates the
  table with ``spark=None`` and reuses `plan_files`/`_files_as_of`/
  `_raw_deletes_as_of`/`_file_seq_as_of`/`_all_file_name_maps`
  verbatim, so file pruning, delete scoping, and field-id resolution
  CANNOT drift from the engine's own scan.
- **Each live data file becomes one InputPartition** carrying a fully
  resolved read spec (physical→current column map, applicable
  defaults as evaluated constants, the delete payloads that target
  this file). Executors read with pyarrow and yield Arrow record
  batches — partition-parallel, no driver data movement.
- **Filter pushdown** (`pushFilters`) feeds the engine's manifest
  pruning: the min/max stats tier always; bucket partitions and bloom
  bitsets too (since round 6) via the self-checked pure-Python XXH64
  port, which borrows the driver's active session for its one-time
  verification — `=`/`In` probes on bucket columns prune sessionless.
  Every filter is also returned to Spark, which re-applies it —
  pruning is advisory, correctness never depends on it.

Semantics parity with `scan()` (each is tested head-to-head in
tests/test_pyds.py): snapshot / timestamp / ref time travel, virtual
snapshot-id column, rename log AND field-id column resolution (name
reuse safe), type widening, drops, Iceberg-v3 initial defaults,
declared-but-never-written columns as typed NULLs, and merge-on-read
position deletes, deletion vectors, and sequence-scoped equality
deletes.

`.option("row_lineage", "true")` appends the Iceberg v3 lineage
columns `_row_id` / `_last_updated_sequence_number` with
`scan_with_row_lineage`'s exact semantics: rewrite-materialized
values win over the block-base/file-seq computation (the v3
preservation contract), positions require parquet (ORC ids are
null), and the virtual snapshot column is omitted.

`add_files`-adopted Hive-layout roots read natively: the dir-only
partition columns are parsed from the `key=value` components at plan
time, cast to the adoption-pinned types, and attached per file
through the same constant-column path as initial defaults — the
plan-time equivalent of the engine's basePath discovery.

Avro data files decode per file through the pure-Python container
codec (avro_io) into Arrow — same column-resolution path as
parquet/ORC afterward, same per-row cost as the engine's jar-free
avro read; position-keyed features stay parquet-only (row lineage
over avro raises, matching `scan_with_row_lineage`). Default
expressions are evaluated ONCE at plan time (DuckDB constant fold)
— exact for the literal defaults Iceberg v3 `initial-default`
allows.

The same registration also provides the STREAMING read —
``spark.readStream.format("hiveberg").load(loc)`` — with snapshot ids
as offsets: each microbatch is exactly the files appended by the
commits in (start, end], delivered once, resumable from the query
checkpoint at a commit boundary (HivebergStreamReader below; Iceberg's
Spark streaming-read semantics, incl. skip-overwrite opt-in).

Reference contract: the reference exposes its table through a Hive
StorageHandler + InputFormat (main/IcebergStorageHandler.java:21-38,
main/IcebergInputFormat.java:47-107 — splits carry per-file state to
record readers); this module is that surface re-expressed as Spark's
native source API with executor-side Arrow reads.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Any, Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from hiveberg_spark.sources.avro_io import unescape_path_name
from hiveberg_spark.sources.snapshot_table import (
    DEFAULT_VIRTUAL_COLUMN,
    _NO_VALIDATION,
    SnapshotTable,
    _dv_decode,
    _dv_last_per_file,
)

__all__ = [
    "HivebergDataSource",
    "HivebergDataWriter",
    "HivebergStreamReader",
    "UnsupportedTableShape",
    "register",
]


class UnsupportedTableShape(Exception):
    """A table shape the facade documents as out of scope (read it via
    `SnapshotTable.scan()`). Deliberately NOT NotImplementedError: the
    Python Data Source protocol interprets NotImplementedError from
    `partitions()` as "source does not partition" and silently falls
    back to a single None partition — a guard must never be read as a
    capability probe."""

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

#: plan-time routing reads a position-delete file's file_path column on
#: the driver; above this record count the file broadcasts to every
#: partition instead (bounded driver memory)
_POS_ROUTE_MAX_RECORDS = 2_000_000


def register(spark) -> None:
    """Register the `hiveberg` format on a session (idempotent)."""
    spark.dataSource.register(HivebergDataSource)


def _norm_path(p: str | None) -> str | None:
    """Strip a local `file:` URI scheme: the SQL DDL surface
    (`CREATE TABLE ... USING hiveberg OPTIONS (path ...)` /
    `LOCATION ...`) hands the option through Spark's catalog as a
    qualified URI, while `.load(loc)` hands a bare path."""
    if p and p.startswith("file://"):
        return p[7:]
    if p and p.startswith("file:"):
        return p[5:]
    return p


# -- plan-time helpers (driver-side, pure Python) -------------------------


def _render_literal(v: Any) -> str | None:
    """Render a pushed-filter value as the SQL literal form the
    engine's conjunct parser (`_parse_literal`) accepts; None = not
    renderable (that filter simply doesn't prune)."""
    import datetime as _dt
    import decimal

    if isinstance(v, bool):  # bool is int; min/max pruning has no bool tier
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    if isinstance(v, _dt.date):
        return "DATE '" + v.isoformat() + "'"
    return None


_CMP_OPS: list[tuple[type, str]] = [
    (EqualTo, "="),
    (EqualNullSafe, "="),
    (GreaterThan, ">"),
    (GreaterThanOrEqual, ">="),
    (LessThan, "<"),
    (LessThanOrEqual, "<="),
]


def _filters_to_conjuncts(filters: list[Filter]) -> list[str]:
    """Translate the prunable subset of pushed filters into the
    `col op literal` conjunct strings `plan_files` evaluates against
    manifest min/max stats. Unsupported shapes are skipped — Spark
    re-applies every filter anyway."""
    out: list[str] = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or not _IDENT.match(attr[0]):
            continue
        col = attr[0]
        if isinstance(f, In):
            lits = [_render_literal(v) for v in f.value]
            if lits and all(x is not None for x in lits):
                out.append(f"{col} IN ({', '.join(lits)})")
            continue
        for klass, op in _CMP_OPS:
            if isinstance(f, klass):
                if isinstance(f, EqualNullSafe) and f.value is None:
                    break  # `col <=> NULL`: stats can't prove absence
                lit = _render_literal(f.value)
                if lit is not None:
                    out.append(f"{col} {op} {lit}")
                break
    return out


def _hive_cast(raw: str | None, styp: str) -> Any:
    """Adoption-pinned type cast for a Hive dir partition value (the
    same rendering Spark's partition discovery parses)."""
    if raw is None:
        return None
    if styp in _INT_KINDS:
        return int(raw)
    if styp in ("float", "double"):
        return float(raw)
    if styp == "boolean":
        return raw.lower() == "true"
    if styp == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    return raw


def _hive_parts_for(bases: dict, f: str) -> list[tuple[str, Any]]:
    """Dir-only partition columns of an add_files-adopted Hive layout,
    parsed from the `key=value` components below the adoption root and
    cast to the adoption-pinned types — the plan-time equivalent of the
    engine's basePath discovery (attached per file through the same
    constant-column path as initial defaults)."""
    for b, ptypes in bases.items():
        if not f.startswith(b + os.sep):
            continue
        out = []
        for comp in os.path.relpath(f, b).split(os.sep)[:-1]:
            if "=" not in comp:
                continue
            k, v = comp.split("=", 1)
            if k not in ptypes:
                continue
            raw = (
                None
                if v == "__HIVE_DEFAULT_PARTITION__"
                else unescape_path_name(v)
            )
            out.append((k, _hive_cast(raw, ptypes[k])))
        return out
    return []


def _eval_default(sql: str) -> Any:
    """Constant-fold a default expression to a Python value (DuckDB).
    Iceberg v3 `initial-default` values are literals, so one plan-time
    evaluation is exact."""
    import duckdb

    return duckdb.sql(f"SELECT {sql}").fetchone()[0]


@dataclass
class _FilePartition(InputPartition):
    """One read split (picklable plain dict, ships to the executor):
    data partitions carry {"specs": [per-file read spec, ...]} —
    possibly several bin-packed small files — and the metadata reader
    carries {"meta": table-name}. None = empty-scan sentinel."""

    spec: dict | None


class HivebergMetaReader(DataSourceReader):
    """`.option("table", "snapshots"|"history"|"refs"|"files")` — the
    metadata tables through the same format (Iceberg's `db.tbl.files`
    suffix addressing, as a read option). Metadata-sized by definition:
    one partition, rows built from the manifest/metadata JSON by the
    SAME row builders the engine's metadata DataFrames use."""

    def __init__(self, options: dict):
        self.path = _norm_path(options["path"])
        self.table = str(options["table"]).lower()
        self.snapshot_id = (
            int(options["snapshot_id"])
            if options.get("snapshot_id") is not None
            else None
        )
        if self.table not in _META_TABLES:
            raise ValueError(
                f"hiveberg: unknown metadata table {self.table!r} "
                f"(have {sorted(_META_TABLES)})"
            )

    def partitions(self) -> list[InputPartition]:
        return [_FilePartition({"meta": self.table})]

    def read(self, partition: _FilePartition) -> Iterator:
        tbl = SnapshotTable(None, self.path)
        if self.table == "files":
            rows = tbl._files_rows(self.snapshot_id)
        else:
            builder = getattr(tbl, _META_TABLES[self.table])
            rows = builder(tbl._read_meta())
        yield from iter(rows)


#: option value -> SnapshotTable row-builder (files is special-cased:
#: it takes a snapshot id, not a meta dict)
_META_TABLES = {
    "snapshots": "_snapshots_rows",
    "history": "_history_rows",
    "refs": "_refs_rows",
    "files": "_files_rows",
    "value_indexes": "_value_indexes_rows",
    "maintenance": "_plan_maintenance_rows",
}


def _meta_schema(table: str) -> StructType:
    # StructType.fromDDL needs a live SparkContext, which the planning
    # worker lacks — build the (engine-matching) schemas directly; the
    # facade-vs-engine parity tests pin them to the DDL constants
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        MapType,
        StringType,
        StructField,
    )

    def f(name, typ):
        return StructField(name, typ, True)

    smap = MapType(StringType(), StringType())
    schemas = {
        "snapshots": [
            f("committed_at", LongType()),
            f("snapshot_id", LongType()),
            f("parent_id", LongType()),
            f("operation", StringType()),
            f("manifest_list", StringType()),
            f("summary", smap),
        ],
        "history": [
            f("made_current_at", LongType()),
            f("snapshot_id", LongType()),
            f("parent_id", LongType()),
            f("is_current_ancestor", BooleanType()),
        ],
        "refs": [
            f("name", StringType()),
            f("type", StringType()),
            f("snapshot_id", LongType()),
        ],
        "files": [
            f("content", StringType()),
            f("file_path", StringType()),
            f("file_format", StringType()),
            f("added_snapshot_id", LongType()),
            f("record_count", LongType()),
            f("partition", smap),
            f("lower_bounds", smap),
            f("upper_bounds", smap),
        ],
        "value_indexes": [
            f("column", StringType()),
            f("index_snapshot_id", LongType()),
            f("current_snapshot_id", LongType()),
            f("commits_behind", LongType()),
            f("covered_live_files", LongType()),
            f("uncovered_live_files", LongType()),
            f("fresh", BooleanType()),
        ],
        "maintenance": [
            f("action", StringType()),
            f("recommended", BooleanType()),
            f("n", LongType()),
            f("detail", StringType()),
        ],
    }
    return StructType(schemas[table])


class HivebergReader(DataSourceReader):
    def __init__(self, options: dict, user_schema: StructType | None):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise ValueError("hiveberg: .load(<table location>) is required")
        self.options = dict(options)
        self.conjuncts: list[str] = []
        # resolved eagerly so schema/planning failures surface on the
        # driver, not inside executors
        self.plan = _plan_shared(self.path, self.options)
        if user_schema is not None and [
            (f.name, f.dataType) for f in user_schema.fields
        ] != [(f.name, f.dataType) for f in self.plan["out_schema"].fields]:
            raise ValueError(
                "hiveberg: user-supplied schema must match the table "
                "schema (schema evolution is table-managed)"
            )

    def _incremental_range(self) -> tuple[int, int] | None:
        """Iceberg's INCREMENTAL batch read options: files appended in
        (start_snapshot_id, end_snapshot_id] only — start is exclusive
        like Iceberg's `start-snapshot-id`; end defaults to the current
        head. Mutually exclusive with time travel."""
        if self.options.get("start_timestamp_ms") is not None:
            # Iceberg's start-timestamp/end-timestamp: each bound
            # resolves to the latest snapshot current at that instant,
            # then the range behaves exactly like the id options
            if self.options.get("start_snapshot_id") is not None:
                raise ValueError(
                    "hiveberg: start_timestamp_ms and start_snapshot_id "
                    "are mutually exclusive"
                )
            tbl = SnapshotTable(None, self.path)
            self.options["start_snapshot_id"] = tbl.snapshot_id_as_of(
                int(self.options["start_timestamp_ms"])
            )
            if self.options.get("end_timestamp_ms") is not None:
                self.options["end_snapshot_id"] = tbl.snapshot_id_as_of(
                    int(self.options["end_timestamp_ms"])
                )
        elif self.options.get("end_timestamp_ms") is not None:
            raise ValueError(
                "hiveberg: end_timestamp_ms requires start_timestamp_ms "
                "(incremental read)"
            )
        if self.options.get("start_snapshot_id") is None:
            if self.options.get("end_snapshot_id") is not None:
                # Iceberg parity: "Cannot set only end-snapshot-id for
                # incremental scans" — silently returning a full scan
                # would exceed the requested upper bound
                raise ValueError(
                    "hiveberg: end_snapshot_id requires "
                    "start_snapshot_id (incremental read)"
                )
            return None
        if any(
            self.options.get(k) is not None
            for k in ("snapshot_id", "ref", "as_of_timestamp_ms")
        ):
            raise ValueError(
                "hiveberg: start_snapshot_id (incremental read) is "
                "mutually exclusive with time-travel options"
            )
        if _lineage_on(self.options):
            raise ValueError(
                "hiveberg: row_lineage composes with full scans, not "
                "the incremental read (append files carry no lineage "
                "rewrites; use scan_with_row_lineage + snapshot_id)"
            )
        start = int(self.options["start_snapshot_id"])
        end = (
            int(self.options["end_snapshot_id"])
            if self.options.get("end_snapshot_id") is not None
            else SnapshotTable(None, self.path)._read_meta()[
                "current_snapshot_id"
            ]
            or 0
        )
        return start, end

    # -- pushdown ------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        self.conjuncts = _filters_to_conjuncts(filters)
        # every filter goes back to Spark: pruning is advisory
        return filters

    # -- planning ------------------------------------------------------

    def partitions(self) -> list[InputPartition]:
        rng = self._incremental_range()
        if rng is not None:
            specs = _plan_stream_specs(
                self.path, self.options, rng[0], rng[1]
            )
            if specs and self.conjuncts:
                # same advisory manifest pruning as the full scan:
                # stats-disproven files drop, Spark re-applies every
                # filter to what remains
                tbl = SnapshotTable(None, self.path)
                # prune against the range END (every file appended in
                # the range is live there; the head may have compacted
                # them away, which must not drop incremental rows)
                kept = {
                    tbl._index_file_rel(f)
                    for f in tbl.plan_files(
                        where=" AND ".join(self.conjuncts),
                        snapshot_id=rng[1],
                    )
                }
                specs = [s for s in specs if s["rel"] in kept]
        else:
            specs = _plan_partitions(
                self.path, self.options, self.conjuncts
            )
        if not specs:
            return [_FilePartition(None)]
        return [
            _FilePartition({"specs": group})
            for group in _pack_splits(self.path, self.options, specs)
        ]

    # -- executor-side read -------------------------------------------

    def read(self, partition: _FilePartition) -> Iterator:
        if partition is None or partition.spec is None:
            return
        for spec in partition.spec["specs"]:
            yield from _read_partition(
                spec,
                self.plan["out_schema_json"],
                self.plan["renames"],
                self.plan["drops"],
                self.plan["virtual_column"],
                # incremental specs carry their ADDING snapshot id, so
                # the virtual column tells the consumer which commit
                # delivered the row (streaming-read contract)
                spec.get("sid", self.plan["sid"]),
            )


class HivebergDataSource(DataSource):
    """`spark.read.format("hiveberg").load(location)` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "hiveberg"

    def schema(self) -> StructType:
        path = _norm_path(self.options.get("path"))
        if not path:
            raise ValueError("hiveberg: .load(<table location>) is required")
        if self.options.get("table"):
            t = str(self.options["table"]).lower()
            if t not in _META_TABLES:
                raise ValueError(
                    f"hiveberg: unknown metadata table {t!r} "
                    f"(have {sorted(_META_TABLES)})"
                )
            return _meta_schema(t)
        return _plan_shared(path, dict(self.options))["out_schema"]

    def reader(self, schema: StructType) -> DataSourceReader:
        if self.options.get("table"):
            return HivebergMetaReader(dict(self.options))
        return HivebergReader(dict(self.options), None)

    def streamReader(self, schema: StructType) -> "HivebergStreamReader":
        return HivebergStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return HivebergDataWriter(dict(self.options), schema, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "HivebergStreamWriter":
        return HivebergStreamWriter(dict(self.options), schema, overwrite)


# -- batch write (df.write.format("hiveberg")) -----------------------------


_TIME_FMT = {
    "day": "%Y-%m-%d",
    "year": "%Y",
    "month": "%Y-%m",
    "hour": "%Y-%m-%d-%H",
}

_INT_KINDS = ("tinyint", "smallint", "int", "bigint")


def _gather_stats(
    tbl: SnapshotTable, entries: list[dict], files: list[str], spec: dict
) -> dict:
    """Per-file bounds for the commit: parquet reads its own footers
    (+ manifest blooms when the property asks); ORC bounds were folded
    writer-side over the Arrow batches and ride the commit messages
    (the commit worker has no session for the engine's distributed
    stats job; metadata blooms are parquet-facade-only — ORC bloom
    tables write via SnapshotTable.append)."""
    if spec.get("fmt") in ("orc", "avro"):
        return {
            e["rel"]: e["stats"] for e in entries if e.get("stats")
        }
    return _stats_with_blooms(tbl, files, "parquet")


def _stats_with_blooms(
    tbl: SnapshotTable, files: list[str], fmt: str = "parquet"
) -> dict:
    """Footer min/max stats plus (when the table property asks)
    manifest bloom bitsets — the one stats-collection body both the
    batch and the streaming commit share, so the two can't drift.
    (ORC bounds run the engine's distributed stats job — the caller
    hands a session-bearing table for that format.)"""
    from hiveberg_spark.sources.snapshot_table import (
        _BLOOM_DEFAULT_BITS,
        _BLOOM_STATS_KEY,
    )

    stats = tbl._collect_file_stats(files, fmt)
    props = tbl._read_meta().get("properties", {})
    bloom_cols = [
        x.strip()
        for x in props.get("write.metadata.bloom-filter-columns", "").split(
            ","
        )
        if x.strip()
    ]
    if bloom_cols and files:
        m_bits = int(
            props.get("write.metadata.bloom-filter-bits", "").strip()
            or _BLOOM_DEFAULT_BITS
        )
        for rel, b in tbl._collect_file_blooms(
            files, fmt, bloom_cols, m_bits
        ).items():
            stats.setdefault(rel, {})[_BLOOM_STATS_KEY] = b
    return stats


def _transform_column(t, p: dict):
    """One hidden-partition transform over an Arrow table, value-matched
    to the engine's Spark expressions (snapshot_table._transform_expr):
    bucket = pmod(xxhash64(col), n) via the self-checked XXH64 lanes
    (vectorized for int kinds; per-value for strings; null hashes to
    the seed 42 exactly like Spark's null-skipping xxhash64), truncate
    = floored multiple / codepoint prefix, time family = the same
    UTC-rendered monotonic strings. Returns a numpy unicode array of
    LOGICAL partition values prefixed 'V' ('N' alone = null) so
    composite np.unique can group rows without a per-row Python loop."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from hiveberg_spark.sources import xxh64 as xx

    kind, src, arg, styp = p["kind"], p["src"], p["arg"], p["styp"]
    n = t.num_rows
    col = t[src].combine_chunks()
    null_mask = pc.is_null(col).to_numpy(zero_copy_only=False)

    def with_nulls(rendered: "np.ndarray"):
        out = np.char.add("V", rendered.astype(str))
        out[null_mask] = "N"
        # Spark's getPartitionPathString maps EMPTY string values to
        # __HIVE_DEFAULT_PARTITION__ too — an empty rendered value
        # must take the null dir, or facade and engine manifests would
        # record different partition keys ('' vs None) for equal rows
        out[out == "V"] = "N"
        return out

    if kind == "bucket":
        if styp == "string":
            h = np.fromiter(
                (
                    xx.hash_bytes(s.encode("utf-8"), 42)
                    if s is not None
                    else 42
                    for s in col.to_pylist()
                ),
                dtype=np.uint64,
                count=n,
            )
        else:
            vals = col.cast(pa.int64()).fill_null(0).to_numpy(
                zero_copy_only=False
            )
            lane = xx.hash_long_vec if styp == "bigint" else xx.hash_int_vec
            h = lane(vals, 42)
            h[null_mask] = np.uint64(42)  # xxhash64 skips nulls -> seed
        bucket = xx.to_signed_vec(np.ascontiguousarray(h)) % np.int64(
            int(arg)
        )
        # bucket is never null: Spark's xxhash64(NULL) yields the seed
        return np.char.add("V", bucket.astype(str))
    if kind == "truncate":
        if styp == "string":
            w = int(arg)
            rendered = np.array(
                ["" if s is None else s[:w] for s in col.to_pylist()],
                dtype=str,
            )
            return with_nulls(rendered)
        vals = col.cast(pa.int64()).fill_null(0).to_numpy(
            zero_copy_only=False
        )
        return with_nulls(vals - vals % np.int64(int(arg)))
    if kind in _TIME_FMT:
        c = col
        if pa.types.is_timestamp(c.type) and c.type.tz is None:
            # engine timestamps are UTC wall-clock (session runs UTC)
            c = pc.assume_timezone(c, "UTC")
        rendered = pc.strftime(c, format=_TIME_FMT[kind]).fill_null("")
        return with_nulls(
            np.asarray(rendered.to_numpy(zero_copy_only=False), dtype=str)
        )
    # identity
    if styp == "date":
        rendered = pc.strftime(col, format="%Y-%m-%d").fill_null("")
        return with_nulls(
            np.asarray(rendered.to_numpy(zero_copy_only=False), dtype=str)
        )
    if styp in _INT_KINDS:
        vals = col.cast(pa.int64()).fill_null(0).to_numpy(
            zero_copy_only=False
        )
        return with_nulls(vals)
    rendered = np.array(
        ["" if s is None else s for s in col.to_pylist()], dtype=str
    )
    return with_nulls(rendered)


class _AvroTaskWriter:
    """One Avro container per (task, partition value): header + one
    block per incoming Arrow table, built from avro_io's public-spec
    encode primitives — the same per-row encode cost as the engine's
    jar-free avro write (inherent to the pure-Python codec)."""

    def __init__(self, path: str, spec: list[dict], codec: str):
        import json as _json

        from hiveberg_spark.sources.avro_io import (
            SYNC_SIZE,
            _spec_to_avro_schema,
            _write_header,
        )

        if codec not in ("null", "deflate"):
            raise ValueError(
                f"hiveberg write: avro codec {codec!r} (null|deflate)"
            )
        self.spec = spec
        self.codec = codec
        self.sync = os.urandom(SYNC_SIZE)
        self.fh = open(path, "wb")
        _write_header(
            self.fh,
            _json.dumps(_spec_to_avro_schema(spec)),
            codec,
            self.sync,
        )

    def write(self, t) -> None:
        from hiveberg_spark.sources.avro_io import (
            _append_long,
            _encode_value,
            _write_block,
        )

        n = t.num_rows
        if n == 0:
            return
        cols = [t[s["name"]].to_pylist() for s in self.spec]
        buf = bytearray()
        for i in range(n):
            for c, sp in zip(cols, self.spec):
                v = c[i]
                if sp["nullable"]:
                    if v is None:
                        _append_long(buf, 0)
                        continue
                    _append_long(buf, 1)
                _encode_value(buf, v, sp)
        _write_block(self.fh, buf, n, self.codec, self.sync)

    def close(self) -> None:
        self.fh.close()


@dataclass
class _WriteMessage(WriterCommitMessage):
    #: one entry per data file this task published:
    #: {"rel", "records", "bytes", "partition": {pfield: str|None}}
    files: list


class HivebergDataWriter(DataSourceArrowWriter):
    """``df.write.format("hiveberg").mode("append"|"overwrite").save(loc)``
    — the write half of the facade, against an EXISTING table
    (`SnapshotTable.create` declares the schema; like Iceberg, writes
    never create tables implicitly).

    Execution model mirrors the engine's two-phase commit protocol:
    executors stream Arrow batches into one parquet file per task
    inside a unique staging dir (write-then-rename, so failed attempts
    never surface a partial file), commit messages carry the file
    paths + counts back, and the driver registers them through the
    SAME `_commit_register` the engine's own writes use — snapshot-id
    assignment, row-id block allocation (v3 lineage), field-id name
    maps, footer min/max stats, and metadata-bloom collection are
    byte-identical between the two write paths by construction.

    Semantics: `mode("append")` = `SnapshotTable.append`;
    `mode("overwrite")` = `SnapshotTable.overwrite` (a replaces
    commit validated against the plan-time parent, so a concurrent
    commit raises instead of being clobbered). Options: `committed_at`
    (epoch ms, deterministic fixtures), `branch` (append onto a WAP
    branch). Input columns must belong to the declared schema; values
    cast to the DECLARED types at write (executor-side, vectorized);
    missing defaulted columns bake the write default as a plan-time
    constant (physical, like the engine); other missing columns read
    back as typed NULLs (declared-never-written semantics).

    Hidden-partitioned tables fan out executor-side: each task computes
    the spec's transforms over its Arrow batches (value-matched to the
    engine's Spark expressions — bucket through the self-checked
    vectorized XXH64 lanes, null hashing to the seed like Spark's
    null-skipping xxhash64), groups rows by composite np.unique, and
    streams each group into its own `_p_x=v/` file with the engine's
    Hive-escaped dir naming — manifests record identical partition
    values either way, so bucket/identity pruning is write-path
    agnostic. (Unlike the engine there is no exchange: a task writes
    one file per partition value it SEES — same trade as Spark's
    partitionBy without a repartition.)

    ORC-format tables write through pyarrow's ORC writer with BOUNDS
    FOLDED WRITER-SIDE over the Arrow batches (avro_io._ColStats —
    ORC footers expose no stats via pyarrow and the commit worker has
    no session for a distributed job), so min/max pruning works
    identically; roll targets bound the stripe size so the on-disk
    size check stays current.

    Avro-format tables write through per-task container encode
    (avro_io's public-spec primitives; the engine's jar-free per-row
    cost, documented) with the same writer-side bounds as ORC.

    Documented v1 limits (raise; `SnapshotTable.append()` is the
    full-fidelity writer): `write.sort.order`/zorder clustering
    (needs an engine-side exchange) and partition transforms over
    types the Arrow path can't value-match (timestamp/float
    identity). The
    `write.parquet.bloom-filter-*` FILE-level property is skipped
    (pyarrow's writer has no bloom hook); manifest-level
    `write.metadata.bloom-filter-columns` pruning works for parquet
    (ORC bloom tables write via the engine).

    Reference contract: the reference is read-only
    (main/IcebergSerDe.java:77-80 serialize -> null); this writer
    exceeds it the same way the engine's append does."""

    def __init__(
        self, options: dict, schema: StructType, overwrite: bool
    ):
        import uuid as _uuid

        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise ValueError("hiveberg: .save(<table location>) is required")
        self.overwrite = bool(overwrite)
        self.committed_at = (
            int(options["committed_at"])
            if options.get("committed_at") is not None
            else None
        )
        self.branch = options.get("branch")
        # Iceberg's snapshot-property.* write options: custom keys
        # stamped into the commit's snapshot summary (audit markers,
        # wap ids, job lineage) — readable from the snapshots table
        self.summary_props = {
            k[len("snapshot-property.") :]: str(v)
            for k, v in options.items()
            if k.startswith("snapshot-property.")
        }
        reserved = {
            k
            for k in self.summary_props
            if k.startswith(("streaming-", "added-", "carried-", "total-"))
        }
        if reserved:
            # engine-consumed keys: the streaming sink's exactly-once
            # dedup markers and the commit accounting counters must
            # never be user-forgeable
            raise ValueError(
                f"hiveberg write: snapshot properties {sorted(reserved)} "
                "collide with engine-reserved summary keys"
            )
        if self.branch and self.overwrite:
            raise ValueError(
                "hiveberg write: overwrite targets main; branch writes "
                "are append-only (WAP)"
            )
        tbl = SnapshotTable(None, self.path)
        meta = tbl._read_meta()
        if not meta.get("schema_json"):
            raise UnsupportedTableShape(
                "hiveberg write: the table must exist with a declared "
                "schema (SnapshotTable.create first — writes never "
                "create tables implicitly)"
            )
        fmt = meta.get("file_format", "parquet")
        if fmt not in ("parquet", "orc", "avro"):
            raise UnsupportedTableShape(
                f"hiveberg write: {fmt}-format tables write via "
                "SnapshotTable.append()"
            )
        props = meta.get("properties", {})
        if props.get("write.sort.order", "").strip():
            raise UnsupportedTableShape(
                "hiveberg write: write.sort.order/zorder tables write "
                "via SnapshotTable.append() (clustering needs an "
                "engine-side exchange)"
            )
        declared = StructType.fromJson(json.loads(meta["schema_json"]))
        extra = [f.name for f in schema.fields if f.name not in declared.names]
        if extra:
            raise ValueError(
                f"hiveberg write: columns {extra} are not in the table "
                f"schema {declared.names} (evolve the schema through "
                "the table API first)"
            )
        written_variant = [
            f.name
            for f in schema.fields
            if "variant" in declared[f.name].dataType.simpleString()
        ]
        if written_variant:
            raise UnsupportedTableShape(
                f"hiveberg write: variant columns {written_variant} "
                "write via SnapshotTable.append() (no Arrow mapping "
                "for VariantType)"
            )
        baked: list[tuple[str, Any]] = []
        for d in meta.get("defaults", []):
            wsql = d.get("write_sql", d.get("sql"))
            if (
                wsql is None
                or d["col"] in schema.names
                or d["col"] not in declared.names
            ):
                continue
            baked.append((d["col"], _eval_default(wsql)))
        written = StructType(
            [declared[f.name] for f in schema.fields]
            + [declared[c] for c, _ in baked]
        )
        self.written_schema = written
        # hidden partitioning: validate the spec's transforms are
        # executor-computable in Arrow (the engine computes them as
        # Spark expressions; the facade matches them value-for-value —
        # bucket via the self-checked XXH64 lanes, vectorized)
        part_plan: list[dict] = []
        for tr in meta.get("partition_spec") or []:
            tr = tuple(tr)
            kind, src = tr[0], tr[1]
            arg = tr[2] if len(tr) > 2 else None
            if src not in declared.names:
                raise UnsupportedTableShape(
                    f"hiveberg write: partition source {src!r} is not a "
                    "declared column"
                )
            styp = declared[src].dataType.simpleString()
            if kind in ("bucket", "truncate"):
                ok = styp in _INT_KINDS or styp == "string"
            elif kind in ("day", "year", "month", "hour"):
                ok = styp == "date" or styp.startswith("timestamp")
            elif kind == "identity":
                ok = styp in _INT_KINDS or styp in ("string", "date")
            else:
                ok = False
            if not ok:
                raise UnsupportedTableShape(
                    f"hiveberg write: partition transform {kind}({src}: "
                    f"{styp}) writes via SnapshotTable.append()"
                )
            from hiveberg_spark.sources.snapshot_table import _pfield_name

            if src not in written.names:
                raise ValueError(
                    f"hiveberg write: partition source column {src!r} "
                    "must be present in the written DataFrame"
                )
            part_plan.append(
                {
                    "kind": kind,
                    "src": src,
                    "arg": arg,
                    "styp": styp,
                    "name": _pfield_name(tr),
                }
            )
        self.spec_part_plan = part_plan
        if fmt == "orc":
            codec = (
                props.get("write.orc.compression-codec", "")
                .strip()
                .lower()
            )
            if codec and codec not in (
                "none", "uncompressed", "snappy", "zlib", "zstd", "lz4"
            ):
                raise ValueError(
                    f"hiveberg write: orc codec {codec!r} "
                    "(none|uncompressed|snappy|zlib|zstd|lz4)"
                )
        avro_spec = None
        if fmt == "avro":
            from hiveberg_spark.sources.avro_io import _schema_to_spec

            try:
                avro_spec = _schema_to_spec(written)
            except TypeError as ex:
                raise UnsupportedTableShape(
                    f"hiveberg write: {ex} (avro writes of this schema "
                    "go via SnapshotTable.append())"
                )
            codec = (
                props.get("write.avro.compression-codec", "")
                .strip()
                .lower()
                or "deflate"
            )
            if codec not in ("null", "deflate"):
                raise ValueError(
                    f"hiveberg write: avro codec {codec!r} (null|deflate)"
                )
        stats_spec = []
        if fmt == "avro":
            stats_spec = avro_spec
        elif fmt == "orc":
            # writer-side bounds (avro_io._ColStats): ORC footers expose
            # no stats via pyarrow and the commit worker has no session
            # for the engine's distributed job — so bounds fold over the
            # Arrow batches as they are written, like the avro encoder
            from hiveberg_spark.sources.avro_io import _schema_to_spec

            for f in written.fields:
                try:
                    stats_spec.extend(
                        _schema_to_spec(StructType([f]))
                    )
                except TypeError:
                    pass  # nested/unsupported: no bounds, prune keeps
        self.spec = {
            "location": self.path,
            "fmt": fmt,
            "stats_spec": stats_spec,
            "avro_spec": avro_spec,
            "commit_uuid": _uuid.uuid4().hex[:12],
            "compression": props.get(f"write.{fmt}.compression-codec", "")
            .strip()
            .lower()
            or None,
            # Iceberg write.target-file-size-bytes: tasks ROLL to a new
            # file once the open one reaches the target, so one long
            # task never produces one giant file (the engine sizes via
            # Spark partitioning; an executor-local writer must roll)
            "target_bytes": int(
                props.get("write.target-file-size-bytes", "").strip() or 0
            )
            or None,
            "written_schema_json": written.json(),
            "baked": baked,
        }
        # overwrite validates against the snapshot it planned over —
        # same CommitConflictError contract as SnapshotTable.overwrite
        self.expected_parent = (
            meta["current_snapshot_id"] if self.overwrite else None
        )

    # -- executor side --------------------------------------------------

    def write(self, iterator) -> _WriteMessage:
        import uuid as _uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from hiveberg_spark.sources.avro_io import _partition_dir

        spec = self.spec
        arrow_schema = to_arrow_schema(
            StructType.fromJson(json.loads(spec["written_schema_json"]))
        )
        data_dir = os.path.join(
            spec["location"], "data", spec["commit_uuid"]
        )
        fmt = spec.get("fmt", "parquet")
        if fmt == "avro":
            codec = spec["compression"] or "deflate"
            mk_writer = lambda path: _AvroTaskWriter(  # noqa: E731
                path, spec["avro_spec"], codec
            )
            put = lambda w, tab: w.write(tab)  # noqa: E731
        elif fmt == "orc":
            from pyarrow import orc as _orc

            kwargs = {"compression": spec["compression"] or "snappy"}
            if kwargs["compression"] == "none":
                kwargs["compression"] = "uncompressed"
            if spec.get("target_bytes"):
                # flush stripes at the roll target so the on-disk size
                # maybe_roll checks tracks what was actually written
                kwargs["stripe_size"] = max(
                    1 << 16, min(spec["target_bytes"], 1 << 26)
                )
            mk_writer = lambda path: _orc.ORCWriter(path, **kwargs)  # noqa: E731
            put = lambda w, tab: w.write(tab)  # noqa: E731
        else:
            kwargs = {}
            if spec["compression"]:
                kwargs["compression"] = spec["compression"]
            # pyarrow leaves NaN out of a footer's min/max, while Spark
            # orders NaN above every number: a file opened after a float
            # column held a NaN writes no statistics for that column
            mk_writer = lambda path: pq.ParquetWriter(  # noqa: E731
                path,
                arrow_schema,
                write_statistics=[
                    f.name for f in arrow_schema if f.name not in nan_cols
                ]
                if nan_cols
                else True,
                **kwargs,
            )
            put = lambda w, tab: w.write_table(tab)  # noqa: E731
        float_cols = (
            [f.name for f in arrow_schema if pa.types.is_floating(f.type)]
            if fmt == "parquet"
            else []
        )
        nan_cols: set[str] = set()
        pnames = [p["name"] for p in self.spec_part_plan]
        baked = dict(spec["baked"])
        # per-field single-element constants, built once per task
        baked_consts = {
            f.name: pa.array([baked[f.name]], type=None).cast(f.type)
            for f in arrow_schema
            if f.name in baked and baked[f.name] is not None
        }
        # dir -> [writer, tmp, final, partition values, rows, stats,
        #         float columns written without statistics]
        sinks: dict[str, list] = {}
        sealed: list[list] = []

        def sink_for(subdir: str, pvals: dict) -> list:
            s = sinks.get(subdir)
            if s is None:
                d = os.path.join(data_dir, subdir) if subdir else data_dir
                os.makedirs(d, exist_ok=True)
                final = os.path.join(
                    d, f"part-{_uuid.uuid4().hex}.{fmt}"
                )
                tmp = final + ".inprogress"
                cs = None
                if spec.get("stats_spec"):
                    from hiveberg_spark.sources.avro_io import _ColStats

                    cs = _ColStats(spec["stats_spec"])
                s = sinks[subdir] = [
                    mk_writer(tmp),
                    tmp,
                    final,
                    pvals,
                    0,
                    cs,
                    set(nan_cols),
                ]
            return s

        def maybe_roll(subdir: str, force: bool = False) -> None:
            # every write_table flushes a row group, so the on-disk
            # size is current; past the target, SEAL and start fresh.
            # Sealed files stay `.inprogress` until the whole task
            # succeeds — a failed or speculatively-duplicated attempt
            # must never leave published-looking files behind
            target = spec.get("target_bytes")
            s = sinks.get(subdir)
            if s and (force or target and os.path.getsize(s[1]) >= target):
                s[0].close()
                sealed.append(s)
                del sinks[subdir]

        def write_to(subdir: str, pvals: dict, tab) -> None:
            new_nan = {
                c for c in float_cols if pc.any(pc.is_nan(tab[c])).as_py()
            }
            nan_cols.update(new_nan)
            s = sinks.get(subdir)
            if s is not None and not new_nan <= s[6]:
                # seal the open file while its statistics still hold
                maybe_roll(subdir, force=True)
            s = sink_for(subdir, pvals)
            put(s[0], tab)
            s[4] += tab.num_rows
            if s[5] is not None:
                s[5].update_batch(
                    {c: tab[c].combine_chunks() for c in tab.column_names}
                )
            maybe_roll(subdir)

        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                t = pa.Table.from_batches([batch])
                rows = t.num_rows
                arrays = []
                for field in arrow_schema:
                    if field.name in t.column_names:
                        arrays.append(t[field.name].cast(field.type))
                    elif field.name in baked_consts:
                        arrays.append(
                            baked_consts[field.name].take(
                                pa.array(np.zeros(rows, dtype=np.int64))
                            )
                        )
                    else:
                        arrays.append(pa.nulls(rows, field.type))
                out = pa.table(arrays, schema=arrow_schema)
                if not self.spec_part_plan:
                    write_to("", {}, out)
                    continue
                # hidden-partition fan-out: per-transform logical value
                # strings (null-flag-prefixed), composite np.unique for
                # the group ids — fully vectorized grouping
                cols = [
                    _transform_column(out, p) for p in self.spec_part_plan
                ]
                mat = np.stack(cols, axis=1)
                uniq, inverse = np.unique(
                    mat, axis=0, return_inverse=True
                )
                for gi in range(len(uniq)):
                    vals = tuple(
                        None if u[0] == "N" else u[1:] for u in uniq[gi]
                    )
                    pvals = dict(zip(pnames, vals))
                    write_to(
                        _partition_dir(pnames, vals),
                        pvals,
                        out.filter(pa.array(inverse == gi)),
                    )
        finally:
            for s in sinks.values():
                s[0].close()
        files = []
        for s in sealed + list(sinks.values()):
            _, tmp, final, pvals, nrows, cs, _ = s
            os.rename(tmp, final)  # task-end publish, attempt-atomic
            files.append(
                {
                    "rel": os.path.relpath(final, spec["location"]),
                    "records": nrows,
                    "bytes": os.path.getsize(final),
                    "partition": pvals,
                    "stats": cs.finalize() if cs is not None else None,
                }
            )
        return _WriteMessage(files=files)

    # -- driver side ------------------------------------------------------

    def commit(self, messages) -> None:
        tbl = SnapshotTable(None, self.path)
        entries = [
            e for m in messages if m is not None for e in m.files
        ]
        files = sorted(e["rel"] for e in entries)
        file_info = {
            e["rel"]: {
                "records": int(e["records"]),
                "bytes": int(e["bytes"]),
            }
            for e in entries
        }
        partitions = {
            e["rel"]: e["partition"] for e in entries if e["partition"]
        }
        stats = _gather_stats(tbl, entries, files, self.spec)
        tbl._commit_register(
            operation="overwrite" if self.overwrite else "append",
            committed_at=self.committed_at,
            replaces=self.overwrite,
            files=files,
            stats=stats,
            partitions=partitions,
            file_info=file_info,
            n_records=sum(int(e["records"]) for e in entries),
            user_schema=self.written_schema,
            branch=self.branch,
            expected_parent=(
                self.expected_parent if self.overwrite else _NO_VALIDATION
            ),
            summary_extra=self.summary_props or None,
        )

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(
                self.path, "data", self.spec["commit_uuid"]
            ),
            ignore_errors=True,
        )


from pyspark.sql.datasource import DataSourceStreamArrowWriter  # noqa: E402


class HivebergStreamWriter(HivebergDataWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("hiveberg").start(loc)`` — the snapshot
    table as a native streaming SINK: every micro-batch becomes one
    append snapshot, committed EXACTLY ONCE.

    Exactly-once protocol: executors stage each batch's parquet files
    like the batch writer; the driver's `commit(messages, batchId)`
    records `streaming-sink-id` + `streaming-batch-id` in the snapshot
    summary and SKIPS registration (deleting the staged files) when the
    table's latest commit for this sink id already covers the batch —
    Structured Streaming replays the last uncommitted batch after a
    restart, and the summary check makes the replay a no-op instead of
    a duplicate snapshot (the same batch-id dedup Iceberg's Spark sink
    performs against snapshot summary `spark.app.id`+`epoch-id`).

    `.option("sink_id", ...)` scopes the dedup when several streaming
    queries append to one table (default "default": one writer query
    per table). Append output mode only — a streaming overwrite of the
    whole table per batch has no Iceberg analogue.

    Reference contract: none (reference is read-only); parity target is
    Iceberg's Spark structured-streaming write (append mode)."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        if overwrite:
            raise UnsupportedTableShape(
                "hiveberg stream write: append output mode only"
            )
        super().__init__(options, schema, overwrite=False)
        self.sink_id = str(options.get("sink_id", "default"))

    def _last_batch_id(self, tbl: SnapshotTable) -> int | None:
        meta = tbl._read_meta()
        for s in reversed(meta.get("snapshots", [])):
            summ = s.get("summary", {})
            if summ.get("streaming-sink-id") == self.sink_id:
                return int(summ["streaming-batch-id"])
        return None

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        tbl = SnapshotTable(None, self.path)
        entries = [
            e for m in messages if m is not None for e in m.files
        ]
        last = self._last_batch_id(tbl)
        if last is not None and last == batchId:
            # replayed micro-batch after a restart: already committed —
            # drop the staged duplicates, never double-append.
            # EQUALITY, not >=: Structured Streaming replays at most
            # the single last uncommitted batch, so only an exact
            # repeat of the latest committed id is a replay; a NEW
            # query (fresh checkpoint, batch ids restarting at 0)
            # against a previously-streamed table must NOT have its
            # early batches discarded.
            for e in entries:
                try:
                    os.unlink(os.path.join(self.path, e["rel"]))
                except OSError:
                    pass
            return
        files = sorted(e["rel"] for e in entries)
        file_info = {
            e["rel"]: {
                "records": int(e["records"]),
                "bytes": int(e["bytes"]),
            }
            for e in entries
        }
        tbl._commit_register(
            operation="append",
            committed_at=self.committed_at,
            replaces=False,
            files=files,
            stats=_gather_stats(tbl, entries, files, self.spec),
            partitions={
                e["rel"]: e["partition"] for e in entries if e["partition"]
            },
            file_info=file_info,
            n_records=sum(int(e["records"]) for e in entries),
            user_schema=self.written_schema,
            branch=self.branch,
            summary_extra={
                **self.summary_props,
                "streaming-sink-id": self.sink_id,
                "streaming-batch-id": str(int(batchId)),
            },
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        # staged files of THIS batch only — other batches' files in the
        # shared staging dir are already manifested; remove by message
        for m in messages:
            if m is None:
                continue
            for e in m.files:
                try:
                    os.unlink(os.path.join(self.path, e["rel"]))
                except OSError:
                    pass


# -- shared plan state ----------------------------------------------------


def _resolve_sid(tbl: SnapshotTable, options: dict) -> int | None:
    picked = [
        k
        for k in ("snapshot_id", "ref", "as_of_timestamp_ms")
        if options.get(k) is not None
    ]
    if len(picked) > 1:
        raise ValueError(
            "hiveberg: pass snapshot_id OR ref OR as_of_timestamp_ms, "
            f"not {picked}"
        )
    if options.get("snapshot_id") is not None:
        return int(options["snapshot_id"])
    if options.get("ref") is not None:
        return tbl.resolve_ref(str(options["ref"]))
    if options.get("as_of_timestamp_ms") is not None:
        return tbl.snapshot_id_as_of(int(options["as_of_timestamp_ms"]))
    return None


def _virtual_column(options: dict) -> str | None:
    if "virtual_column" in options:
        v = options.get("virtual_column")
        return v or None  # empty string / None opts the column out
    return DEFAULT_VIRTUAL_COLUMN


def _lineage_on(options: dict) -> bool:
    return str(options.get("row_lineage", "false")).lower() in (
        "true",
        "1",
        "yes",
    )


def _plan_shared(path: str, options: dict) -> dict:
    """Schema + scan-invariant state (cheap: metadata.json only)."""
    from pyspark.sql.types import LongType, StructField

    tbl = SnapshotTable(None, path)
    meta = tbl._read_meta()
    if not meta.get("schema_json"):
        raise UnsupportedTableShape(
            "hiveberg: the facade needs a declared schema "
            "(legacy schemaless tables read via SnapshotTable.scan())"
        )
    files, sid = tbl._files_as_of(_resolve_sid(tbl, options))
    declared = StructType.fromJson(json.loads(meta["schema_json"]))

    vcol = _virtual_column(options)
    fields = list(declared.fields)
    if options.get("columns"):
        # explicit projection: the Python Data Source API has no
        # column-pruning callback yet, so `.option("columns", "a,b")`
        # is the scale lever — executors then read ONLY those columns
        # from the parquet/ORC files (pyarrow column selection)
        want = [c.strip() for c in str(options["columns"]).split(",") if c.strip()]
        unknown = [c for c in want if c not in declared.names]
        if unknown:
            raise ValueError(f"hiveberg: unknown columns {unknown}")
        fields = [declared[c] for c in want]
    variant_cols = [
        f.name
        for f in declared.fields
        if "variant" in f.dataType.simpleString()  # incl. nested
    ]
    if variant_cols:
        # pyarrow 16 cannot even OPEN a parquet footer carrying a
        # variant column (unrecognized Thrift LogicalType), so even a
        # projected read of such files is impossible — a plan-time
        # refusal on the DECLARED schema beats an executor traceback
        raise UnsupportedTableShape(
            f"hiveberg facade: variant columns {variant_cols} read via "
            "SnapshotTable.scan() (pyarrow cannot open parquet files "
            "containing VariantType)"
        )
    if _lineage_on(options):
        # `.option("row_lineage", "true")`: the Iceberg v3 lineage
        # columns, matching scan_with_row_lineage's output shape
        # (which carries no virtual snapshot column)
        vcol = None
        clash = {"_row_id", "_last_updated_sequence_number"} & set(
            declared.names
        )
        if clash:
            raise ValueError(
                f"hiveberg: row_lineage reserves {sorted(clash)}"
            )
        fields = fields + [
            StructField("_row_id", LongType(), True),
            StructField("_last_updated_sequence_number", LongType(), True),
        ]
    if vcol:
        if vcol in declared.names:
            raise ValueError(
                f"hiveberg: virtual column {vcol!r} collides with a "
                "table column"
            )
        fields.append(StructField(vcol, LongType(), True))
    out = StructType(fields)
    return {
        "out_schema": out,
        "out_schema_json": out.json(),
        "renames": meta.get("renames", []),
        "drops": meta.get("drops", []),
        "virtual_column": vcol,
        "sid": sid,
        "n_files": len(files),
    }


#: default split-packing target — Spark's files.maxPartitionBytes
_DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


def _pack_splits(
    path: str, options: dict, specs: list[dict]
) -> list[list[dict]]:
    """Bin-pack per-file read specs into read SPLITS (Iceberg's split
    planning / Spark's maxPartitionBytes): many small files share one
    InputPartition instead of paying per-partition scheduling overhead
    each, while files at or above the target keep their own split.
    Sizes come from manifest file_info (no file opens); unknown sizes
    conservatively count as a full split. `.option("target_split_bytes",
    n)` tunes; 0 disables packing."""
    target = int(
        options.get("target_split_bytes", _DEFAULT_SPLIT_BYTES) or 0
    )
    if target <= 0 or len(specs) <= 1:
        return [[s] for s in specs]
    groups: list[list[dict]] = []
    cur: list[dict] = []
    cur_bytes = 0
    for spec in specs:
        nb = spec.get("bytes")  # stamped at plan time from manifests
        nb = int(nb) if nb is not None else target
        if cur and cur_bytes + nb > target:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(spec)
        cur_bytes += nb
    if cur:
        groups.append(cur)
    return groups


def _plan_partitions(
    path: str, options: dict, conjuncts: list[str]
) -> list[dict]:
    """One read spec per surviving data file (driver-side planning:
    O(live files) metadata, zero data reads except plan-time default
    evaluation)."""
    tbl = SnapshotTable(None, path)
    meta = tbl._read_meta()
    sid_req = _resolve_sid(tbl, options)
    files, sid = tbl._files_as_of(sid_req)
    if not files:
        return []
    if conjuncts:
        kept = set(
            tbl.plan_files(where=" AND ".join(conjuncts), snapshot_id=sid)
        )
        files = [f for f in files if f in kept]

    bases = meta.get("adopted_hive_bases", {})
    for f in files:
        fmt = f.rsplit(".", 1)[-1]
        if fmt not in ("parquet", "orc", "avro"):
            raise UnsupportedTableShape(f"hiveberg facade: format {fmt!r}")
        if fmt == "avro" and _lineage_on(options):
            # engine parity: scan_with_row_lineage raises for avro
            # (no row positions in the pure-Python path)
            raise UnsupportedTableShape(
                "hiveberg facade: row lineage is unavailable over avro "
                "data files"
            )



    renames = meta.get("renames", [])
    fields_meta = meta.get("fields")
    name_maps = tbl._all_file_name_maps(meta) if fields_meta else {}
    id_to_cur = (
        {fl["id"]: fl["name"] for fl in fields_meta} if fields_meta else {}
    )
    seq = tbl._file_seq_as_of(meta, sid) if sid is not None else {}
    deletes = tbl._raw_deletes_as_of(meta, sid) if sid is not None else []
    defaults = [
        d for d in meta.get("defaults", []) if d.get("sql") is not None
    ]
    default_vals = {d["col"]: _eval_default(d["sql"]) for d in defaults}

    pos_paths = sorted(
        os.path.join(tbl.location, d["path"])
        for d in deletes
        if d["type"] == "position"
    )
    # route each position-delete file to the data files it actually
    # targets: one COLUMN-PRUNED read of its file_path values at plan
    # time replaces every partition re-reading every delete file (an
    # N-files x M-delete-files read amplification). Oversized delete
    # files (manifest record count above the tier, or unknown) skip
    # routing and broadcast to all partitions — the driver never
    # materializes an unbounded target list.
    pos_route: dict[str, list[str]] | None = None
    if pos_paths:
        counts = {
            os.path.join(tbl.location, d["path"]): d.get("count")
            for d in deletes
            if d["type"] == "position"
        }
        if all(
            c is not None and int(c) <= _POS_ROUTE_MAX_RECORDS
            for c in counts.values()
        ):
            import pyarrow.parquet as _pq

            pos_route = {}
            for p in pos_paths:
                targets = set(
                    _pq.read_table(p, columns=["file_path"])[
                        "file_path"
                    ].to_pylist()
                )
                for tg in targets:
                    pos_route.setdefault(tg, []).append(p)
    dv_last = _dv_last_per_file(deletes)
    eq_deletes = [d for d in deletes if d["type"] == "equality"]
    byte_info = tbl._file_info_as_of(meta)
    lineage = _lineage_on(options)
    rid_map = (
        tbl._first_row_id_as_of(meta, sid)
        if lineage and sid is not None
        else {}
    )

    specs: list[dict] = []
    for f in files:
        rel = tbl._index_file_rel(f)
        fseq = seq.get(rel, sid or 0)
        mp = name_maps.get(rel) or name_maps.get(f)
        colmap = None
        if mp:
            # physical name -> current name; absent target = retired id
            colmap = {
                phys: id_to_cur.get(fid) for phys, fid in mp.items()
            }
        file_defaults = [
            (d["col"], default_vals[d["col"]])
            for d in defaults
            if fseq <= d["as_of"]
        ] + _hive_parts_for(bases, f)
        dv = dv_last.get(rel)
        eq = []
        for d in eq_deletes:
            if fseq >= int(d["sid"]):
                continue  # row written at-or-after the delete survives
            cols = list(d["cols"])
            for r in renames:
                cols = [r["to"] if c == r["from"] else c for c in cols]
            eq.append(
                {"path": os.path.join(tbl.location, d["path"]), "cols": cols}
            )
        specs.append(
            {
                "path": f,
                "rel": rel,
                "fmt": f.rsplit(".", 1)[-1],
                "colmap": colmap,
                "defaults": file_defaults,
                "pos_delete_paths": (
                    sorted(pos_route.get(rel, []))
                    if pos_route is not None
                    else pos_paths
                ),
                "dv_bits": (dv or {}).get("bits"),
                "eq_deletes": eq,
                # row lineage (None keys when the option is off):
                # the file's commit-assigned first_row_id block base
                # and its data sequence number — the per-file inputs
                # scan_with_row_lineage broadcasts as map joins
                "lineage": lineage,
                "first_row_id": rid_map.get(rel) if lineage else None,
                "fseq": fseq if lineage else None,
                "bytes": (byte_info.get(rel) or {}).get("bytes"),
            }
        )
    return specs


# -- streaming (offsets = snapshot ids) -----------------------------------


def _plan_stream_specs(
    path: str, options: dict, start_sid: int, end_sid: int
) -> list[dict]:
    """Read specs for the data files APPENDED in (start_sid, end_sid]
    on main — the per-microbatch planning of the streaming read.
    Append-only contract (Iceberg's streaming read): a replace commit
    (compaction, COW DML, overwrite) or a merge-on-read delete in the
    range raises unless `skip_replace_snapshots` opts into skipping it
    — silently re-reading rewritten files would duplicate rows.
    Each spec carries its ADDING snapshot id, so the virtual column
    tells the consumer which commit delivered the row."""
    tbl = SnapshotTable(None, path)
    meta = tbl._read_meta()
    skip_replace = str(
        options.get("skip_replace_snapshots", "false")
    ).lower() in ("true", "1", "yes")
    fields_meta = meta.get("fields")
    name_maps = tbl._all_file_name_maps(meta) if fields_meta else {}
    id_to_cur = (
        {fl["id"]: fl["name"] for fl in fields_meta} if fields_meta else {}
    )
    defaults = [
        d for d in meta.get("defaults", []) if d.get("sql") is not None
    ]
    default_vals = {d["col"]: _eval_default(d["sql"]) for d in defaults}
    bases = meta.get("adopted_hive_bases", {})

    specs: list[dict] = []
    for s in meta.get("snapshots", []):
        sid = s["snapshot_id"]
        if s.get("branch") or not (start_sid < sid <= end_sid):
            continue
        snap_info = tbl._read_manifest_json(s).get("file_info", {})
        is_replace = bool(s.get("replaces")) or s["operation"] != "append"
        has_deletes = bool(
            tbl._read_manifest_json(s).get("deletes")
        )
        if is_replace or has_deletes:
            if skip_replace:
                continue
            raise ValueError(
                f"hiveberg: snapshot {sid} is {s['operation']!r}; the "
                "streaming/incremental read requires an append-only "
                "range (set skip_replace_snapshots=true to skip "
                "non-append commits)"
            )
        for rel in tbl._read_manifest(s):
            f = (
                rel
                if os.path.isabs(rel)
                else os.path.join(tbl.location, rel)
            )
            fmt = f.rsplit(".", 1)[-1]
            if fmt not in ("parquet", "orc", "avro"):
                raise UnsupportedTableShape(f"hiveberg: format {fmt!r}")
            relkey = tbl._index_file_rel(f)
            mp = name_maps.get(relkey) or name_maps.get(f)
            colmap = (
                {phys: id_to_cur.get(fid) for phys, fid in mp.items()}
                if mp
                else None
            )
            specs.append(
                {
                    "path": f,
                    "rel": relkey,
                    "fmt": fmt,
                    "colmap": colmap,
                    # appends never carry: the file's data sequence
                    # number IS its adding snapshot
                    "defaults": [
                        (d["col"], default_vals[d["col"]])
                        for d in defaults
                        if sid <= d["as_of"]
                    ]
                    + _hive_parts_for(bases, f),
                    "pos_delete_paths": [],
                    "dv_bits": None,
                    "eq_deletes": [],
                    "sid": sid,
                    "bytes": (snap_info.get(relkey) or {}).get("bytes"),
                }
            )
    return specs


class HivebergStreamReader(DataSourceStreamReader):
    """`spark.readStream.format("hiveberg")` — snapshot-granular
    microbatches: offsets ARE snapshot ids ({"snapshot_id": N}), so a
    restart from checkpoint resumes exactly at a commit boundary and
    every appended file is delivered exactly once. Executors read the
    batch's files via the same Arrow partition reader as the batch
    facade.

    Options: `starting_snapshot_id` (exclusive; default 0 = full
    history), `starting_offsets=latest` (start at the current head),
    `skip_replace_snapshots` (skip non-append commits instead of
    failing), `max_snapshots_per_batch` (admission control: each
    trigger advances the offset by at most N commits, so a stream
    catching up on a month of backlog holds per-batch state bounded
    instead of swallowing the table in one batch — Iceberg's
    streaming-max-files valve at snapshot granularity; `availableNow`
    captures the capped offset once at query start, so one
    availableNow run drains at most N commits — continuous triggers
    batch the whole backlog N at a time). Parity target:
    Iceberg's Spark streaming read (stream-from-timestamp /
    skip-overwrite-snapshots semantics).

    Admission-control caveat: the cap floor is tracked in-process
    (initialOffset, then each planned batch's end). After a restart
    from a checkpoint whose offset is AHEAD of initialOffset, the
    first trigger(s) may plan empty ranges until the cap catches up —
    idle triggers, never wrong or duplicated rows."""

    def __init__(self, options: dict):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise ValueError("hiveberg: .load(<table location>) is required")
        self.options = dict(options)
        self.plan = _plan_shared(self.path, self.options)
        self._max_snaps = int(options.get("max_snapshots_per_batch", 0) or 0)
        if self._max_snaps < 0:
            raise ValueError("max_snapshots_per_batch must be >= 0")
        self._last_end: int | None = None

    def _head(self) -> int:
        meta = SnapshotTable(None, self.path)._read_meta()
        return meta["current_snapshot_id"] or 0

    def initialOffset(self) -> dict:
        if self.options.get("starting_snapshot_id") is not None:
            return {"snapshot_id": int(self.options["starting_snapshot_id"])}
        if str(self.options.get("starting_offsets", "")).lower() == "latest":
            return {"snapshot_id": self._head()}
        return {"snapshot_id": 0}

    def latestOffset(self) -> dict:
        head = self._head()
        if self._max_snaps:
            if self._last_end is None:
                self._last_end = self.initialOffset()["snapshot_id"]
            head = min(head, self._last_end + self._max_snaps)
        return {"snapshot_id": head}

    def partitions(self, start: dict, end: dict):
        # floor for admission control: never re-admit below a planned
        # batch's end (also re-anchors the cap after a restart replay)
        if self._last_end is None or end["snapshot_id"] > self._last_end:
            self._last_end = end["snapshot_id"]
        if end["snapshot_id"] < start["snapshot_id"]:
            # restart with a cap below the checkpointed offset: an idle
            # batch while the cap catches up (see class docstring)
            return [_FilePartition(None)]
        specs = _plan_stream_specs(
            self.path, self.options, start["snapshot_id"], end["snapshot_id"]
        )
        if not specs:
            return [_FilePartition(None)]
        # one file per partition (micro-batches are few files by
        # construction) — but the same {"specs": [...]} payload shape
        # as the batch reader, so there is ONE partition contract
        return [_FilePartition({"specs": [s]}) for s in specs]

    def read(self, partition: _FilePartition):
        if partition is None or partition.spec is None:
            return
        for spec in partition.spec["specs"]:
            yield from _read_partition(
                spec,
                self.plan["out_schema_json"],
                self.plan["renames"],
                self.plan["drops"],
                self.plan["virtual_column"],
                spec["sid"],
            )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to ack


# -- executor-side read ---------------------------------------------------


def _read_avro_arrow(path: str):
    """Decode one Avro container file to an Arrow table with its
    PHYSICAL written column names (resolution happens downstream via
    the field-id map / rename log, same as parquet); the per-logical
    conversions live in avro_io.rows_to_pandas, shared with the
    engine's decoder."""
    import pyarrow as pa

    from hiveberg_spark.sources.avro_io import _decode_file, rows_to_pandas

    with open(path, "rb") as fh:
        fspec, rows = _decode_file(fh.read())
    return pa.Table.from_pandas(
        rows_to_pandas(fspec, rows), preserve_index=False
    )


def _legacy_rename(t, renames: list[dict]):
    """The rename-log resolution `_apply_renames` runs, in Arrow: per
    file, old-name columns rename to (or coalesce into) current names."""
    import pyarrow.compute as pc

    for r in renames:
        cols = t.column_names
        old, new = r["from"], r["to"]
        if old in cols and new in cols:
            merged = pc.coalesce(
                t[new].combine_chunks(), t[old].combine_chunks()
            )
            t = t.set_column(cols.index(new), new, merged).drop_columns([old])
        elif old in cols:
            t = t.rename_columns([new if c == old else c for c in cols])
    return t


def _anti_filter_keys(t, keys_t, cols: list[str]):
    """Null-safe multi-column anti-semi-join, vectorized: both sides'
    key columns stringify (same types both sides — the delete file was
    written from the same schema) with a null marker, join with a
    separator, and rows whose composite key appears in the delete set
    drop (eqNullSafe semantics: null matches null)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def composite(tab, names):
        parts = []
        for c in names:
            arr = tab[c].combine_chunks()
            if pa.types.is_floating(arr.type):
                # Spark's eqNullSafe treats -0.0 = 0.0 (and NaN = NaN);
                # +0.0 collapses the signed zeros before stringifying —
                # NaN already stringifies to one canonical form
                arr = pc.add(arr, pa.scalar(0.0, type=arr.type))
            s = pc.coalesce(
                pc.cast(arr, pa.string()), pa.scalar("\x01<null>")
            )
            parts.append(s)
        if len(parts) == 1:
            return parts[0]
        return pc.binary_join_element_wise(*parts, "\x00")

    data_keys = composite(t, cols)
    del_keys = composite(keys_t, list(keys_t.column_names))
    kill = pc.is_in(data_keys, value_set=pc.unique(del_keys))
    return t.filter(pc.invert(kill))


def _read_partition(
    spec: dict,
    out_schema_json: str,
    renames: list[dict],
    drops: list[str],
    virtual_column: str | None,
    sid: int | None,
):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    out_struct = StructType.fromJson(json.loads(out_schema_json))
    # physical column selection (the `.option("columns", ...)` path):
    # the needed CURRENT names are the projected schema plus any
    # equality-delete key columns; each file reads only the physical
    # columns that resolve to one of them
    needed = {f.name for f in out_struct.fields if f.name != virtual_column}
    for eq in spec["eq_deletes"]:
        needed.update(eq["cols"])

    def resolves_to(phys: str) -> str | None:
        if spec["colmap"] is not None:
            return spec["colmap"].get(phys, phys)
        cur = phys
        for r in renames:
            if cur == r["from"]:
                cur = r["to"]
        return cur

    lineage = bool(spec.get("lineage"))
    if spec["fmt"] == "avro":
        # pure-Python Avro container decode to Arrow (the jar-free
        # path, same per-row cost as the engine's avro read); the codec
        # has no column projection, so pruning happens post-decode
        t = _read_avro_arrow(spec["path"])
        sel = [c for c in t.column_names if resolves_to(c) in needed]
        t = t.select(sel or t.column_names[:1])
    else:
        if spec["fmt"] == "parquet":
            file_cols = pq.ParquetFile(spec["path"]).schema_arrow.names
        else:
            from pyarrow import orc

            file_cols = orc.ORCFile(spec["path"]).schema.names
        sel = [
            c
            for c in file_cols
            if resolves_to(c) in needed
            or (lineage and c in ("__hb_row_id", "__hb_last_seq"))
        ]
        if not sel and file_cols:
            # no needed column is physical in this file (all defaulted
            # / null-filled) — read one anyway to carry the row count
            sel = [file_cols[0]]
        if spec["fmt"] == "parquet":
            t = pq.read_table(spec["path"], columns=sel)
        else:
            from pyarrow import orc

            t = orc.ORCFile(spec["path"]).read(columns=sel)

    if lineage:
        # Iceberg v3 lineage, scan_with_row_lineage's exact semantics:
        # a rewrite-materialized id / originating-seq column wins over
        # block-base+position / the file's data sequence number
        # (copied-but-unmodified rows keep their identity). Positions
        # require parquet — ORC ids fall back to materialized-or-null.
        import pyarrow.compute as pc

        n0 = t.num_rows
        if spec["fmt"] == "parquet" and spec.get("first_row_id") is not None:
            base = pa.array(
                np.arange(n0, dtype=np.int64) + int(spec["first_row_id"])
            )
        else:
            base = pa.nulls(n0, pa.int64())
        rid = base
        if "__hb_row_id" in t.column_names:
            rid = pc.coalesce(
                t["__hb_row_id"].combine_chunks().cast(pa.int64()), base
            )
        fseq = spec.get("fseq")
        seq_arr = (
            pa.array(np.full(n0, int(fseq), dtype=np.int64))
            if fseq is not None
            else pa.nulls(n0, pa.int64())
        )
        if "__hb_last_seq" in t.column_names:
            seq_arr = pc.coalesce(
                t["__hb_last_seq"].combine_chunks().cast(pa.int64()),
                seq_arr,
            )
        t = t.append_column("_row_id", rid).append_column(
            "_last_updated_sequence_number", seq_arr
        )
        eng = [
            c
            for c in ("__hb_row_id", "__hb_last_seq")
            if c in t.column_names
        ]
        if eng:
            t = t.drop_columns(eng)

    # position-based deletes key on parquet row positions; ORC rows
    # have no position (engine parity: its __hb_pos is null for ORC)
    if spec["fmt"] == "parquet":
        dead: set[int] = set()
        for dp in spec["pos_delete_paths"]:
            dt_ = pq.read_table(
                dp, filters=[("file_path", "==", spec["rel"])]
            )
            dead.update(dt_["pos"].to_pylist())
        if spec["dv_bits"]:
            dead.update(_dv_decode(spec["dv_bits"]))
        if dead:
            mask = np.ones(t.num_rows, dtype=bool)
            idx = [p for p in dead if 0 <= p < t.num_rows]
            if idx:
                mask[idx] = False
                t = t.filter(pa.array(mask))

    # column resolution: field-id map when the manifest recorded one
    # (name reuse safe), else the rename log
    if spec["colmap"] is not None:
        keep, names = [], []
        for c in t.column_names:
            cur = spec["colmap"].get(c, c)
            if cur is None:
                continue  # retired field id
            keep.append(c)
            names.append(cur)
        t = t.select(keep).rename_columns(names)
    elif renames:
        t = _legacy_rename(t, renames)
    if drops:
        present = [c for c in drops if c in t.column_names]
        if present:
            t = t.drop_columns(present)

    # v3 initial defaults: files predating the defaulted column's add
    # read the evaluated constant (overriding, like the engine's
    # withColumn — such files have no physical value to preserve)
    arrow_out = to_arrow_schema(out_struct)
    for col, val in spec["defaults"]:
        if col not in needed:
            continue  # projected away — don't materialize it
        typ = arrow_out.field(col).type
        const = pa.array([val], type=None).cast(typ)
        arr = pa.chunked_array(
            [const.take(pa.array(np.zeros(t.num_rows, dtype=np.int64)))]
        ) if t.num_rows else pa.chunked_array([pa.array([], type=typ)])
        if col in t.column_names:
            t = t.set_column(t.column_names.index(col), col, arr)
        else:
            t = t.append_column(col, arr)

    # sequence-scoped equality deletes (already scoped at plan time)
    for eq in spec["eq_deletes"]:
        keys_t = pq.read_table(eq["path"])
        if keys_t.num_rows:
            t = _anti_filter_keys(t, keys_t, eq["cols"])

    # final projection: declared order, declared (possibly widened)
    # types, typed NULLs for declared-never-written columns, constant
    # virtual snapshot-id column
    n = t.num_rows
    arrays = []
    for field in arrow_out:
        if virtual_column and field.name == virtual_column:
            if sid is None:
                arrays.append(pa.nulls(n, field.type))
            else:
                arrays.append(
                    pa.chunked_array(
                        [pa.array(np.full(n, sid, dtype=np.int64))]
                    ).cast(field.type)
                )
        elif field.name in t.column_names:
            arrays.append(t[field.name].cast(field.type))
        else:
            arrays.append(pa.nulls(n, field.type))
    out = pa.table(arrays, schema=arrow_out)
    yield from out.to_batches(max_chunksize=1 << 16)
