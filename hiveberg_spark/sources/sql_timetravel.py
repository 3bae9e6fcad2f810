"""SQL-string time travel: `VERSION AS OF` / `FOR SYSTEM_TIME AS OF`
over snapshot tables (Iceberg's SQL surface; the capability the
reference exposes through `WHERE snapshot__id = n`,
IcebergInputFormat.java:100-107 — here also as the standard SQL form).

Spark's parser supports the clauses only for real catalog tables, so
for path-based snapshot tables this pre-pass rewrites

    ... FROM <table> VERSION AS OF <n> [AS alias] ...
    ... FROM <table> FOR SYSTEM_TIME AS OF '<ts>' [AS alias] ...

into a scan of the resolved snapshot registered as a temp view, then
hands the rewritten SQL to Spark. Deliberately conservative: table
names must be bare identifiers known to the warehouse; anything else is
left untouched for Spark to parse (and error on) itself.
"""

from __future__ import annotations

import datetime
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from hiveberg_spark.sources.snapshot_table import SnapshotTable

_VERSION_RE = re.compile(
    r"\b(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+)",
    re.IGNORECASE,
)
# VERSION AS OF 'tag-name' — Iceberg named refs (tags); resolved
# through the table's refs metadata
_VERSION_TAG_RE = re.compile(
    r"\b(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+"
    r"'(?P<tag>[^']+)'",
    re.IGNORECASE,
)
_TIME_RE = re.compile(
    r"\b(?P<table>[A-Za-z_][A-Za-z0-9_]*)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
    r"'(?P<ts>[^']+)'",
    re.IGNORECASE,
)


def _ts_to_millis(ts: str) -> int:
    dt = datetime.datetime.fromisoformat(ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def _register_stored_views(
    spark: SparkSession, warehouse: str, sql: str, depth: int = 0
) -> None:
    """Resolve STORED VIEWS referenced by `sql` (Iceberg view-spec
    equivalent: a view is saved SQL, `<name>.view.json` in the
    warehouse, re-planned against current table state on every read).
    Each referenced view's SQL runs through the full time-travel-aware
    path itself (views may reference views, depth-capped) and lands as
    a temp view the outer statement resolves."""
    if not os.path.isdir(warehouse):
        return
    if depth > 5:
        raise ValueError("view nesting deeper than 5 (cycle?)")
    for fn in os.listdir(warehouse):
        if not fn.endswith(".view.json"):
            continue
        name = fn[: -len(".view.json")]
        if not re.search(rf"\b{re.escape(name)}\b", sql):
            continue
        with open(os.path.join(warehouse, fn)) as f:
            doc = json.load(f)
        sql_with_time_travel(
            spark, warehouse, doc["sql"], _depth=depth + 1
        ).createOrReplaceTempView(name)


#: snapshot-table names THIS module auto-registered as temp views —
#: these refresh on every statement; user-registered names never do
_AUTO_VIEWS: set[str] = set()


def _register_referenced_tables(
    spark: SparkSession, warehouse: str, sql: str
) -> None:
    """Make BARE snapshot-table names referenced by `sql` resolvable:
    each gets its current scan registered as a temp view, unless a
    view/table of that name already exists in the session (an
    existing registration — e.g. a fixture's raw-parquet view — wins,
    so this never shadows user state)."""
    if not os.path.isdir(warehouse):
        return
    from hiveberg_spark.sources.snapshot_table import (
        ALL_FILES_SUFFIX,
        ENTRIES_SUFFIX,
        FILES_SUFFIX,
        HISTORY_SUFFIX,
        INDEXES_SUFFIX,
        MANIFESTS_SUFFIX,
        PARTITIONS_SUFFIX,
        REFS_SUFFIX,
        SNAPSHOTS_SUFFIX,
        STATS_SUFFIX,
    )

    metadata_views = {
        SNAPSHOTS_SUFFIX: lambda t: t.snapshots(),
        FILES_SUFFIX: lambda t: t.files(),
        HISTORY_SUFFIX: lambda t: t.history(),
        MANIFESTS_SUFFIX: lambda t: t.manifests(),
        PARTITIONS_SUFFIX: lambda t: t.partitions(),
        REFS_SUFFIX: lambda t: t.refs_table(),
        STATS_SUFFIX: lambda t: t.statistics(),
        ENTRIES_SUFFIX: lambda t: t.entries(),
        ALL_FILES_SUFFIX: lambda t: t.all_files(),
        INDEXES_SUFFIX: lambda t: t.indexes(),
    }
    for d in os.listdir(warehouse):
        if not os.path.exists(os.path.join(warehouse, d, "metadata.json")):
            continue
        # the base name and each referenced metadata suffix register
        # independently (`SELECT ... FROM t__stats` needs no scan of t;
        # note `\b` does NOT fire between the base name and `__`, so
        # the base-name test below naturally excludes suffixed refs)
        wanted = [
            (sfx, fn)
            for sfx, fn in metadata_views.items()
            if re.search(rf"\b{re.escape(d + sfx)}\b", sql)
        ]
        if re.search(rf"\b{re.escape(d)}\b", sql):
            wanted.insert(0, ("", lambda t: t.scan()))
        if not wanted:
            continue
        t = None
        for sfx, fn in wanted:
            name = d + sfx
            if spark.catalog.tableExists(name) and name not in _AUTO_VIEWS:
                continue  # a user-registered view of that name wins
            # re-register OUR views every time: a scan pins its file
            # list at registration, and the table may have committed
            if t is None:
                t = SnapshotTable.load(spark, os.path.join(warehouse, d))
            fn(t).createOrReplaceTempView(name)
            _AUTO_VIEWS.add(name)


def sql_with_time_travel(
    spark: SparkSession, warehouse: str, sql: str, _depth: int = 0
) -> DataFrame:
    """Run `sql`, resolving VERSION AS OF / FOR SYSTEM_TIME AS OF
    clauses against snapshot tables in `warehouse`, stored views
    (see _register_stored_views), and bare snapshot-table names."""
    _register_stored_views(spark, warehouse, sql, _depth)

    def _load(name: str) -> SnapshotTable | None:
        loc = os.path.join(warehouse, name)
        if os.path.exists(os.path.join(loc, "metadata.json")):
            return SnapshotTable.load(spark, loc)
        return None

    def sub_version(m: re.Match) -> str:
        t = _load(m.group("table"))
        if t is None:
            return m.group(0)
        view = f"{m.group('table')}__v{m.group('ver')}"
        t.scan(snapshot_id=int(m.group("ver"))).createOrReplaceTempView(view)
        return view

    def sub_version_tag(m: re.Match) -> str:
        t = _load(m.group("table"))
        if t is None:
            return m.group(0)
        sid = t.resolve_ref(m.group("tag"))
        view = f"{m.group('table')}__tag{sid}"
        t.scan(snapshot_id=sid).createOrReplaceTempView(view)
        return view

    def sub_time(m: re.Match) -> str:
        t = _load(m.group("table"))
        if t is None:
            return m.group(0)
        millis = _ts_to_millis(m.group("ts"))
        sid = t.snapshot_id_as_of(millis)
        view = f"{m.group('table')}__t{sid}"
        t.scan(snapshot_id=sid).createOrReplaceTempView(view)
        return view

    rewritten = _VERSION_RE.sub(sub_version, sql)
    rewritten = _VERSION_TAG_RE.sub(sub_version_tag, rewritten)
    rewritten = _TIME_RE.sub(sub_time, rewritten)
    # bare names only, AFTER the AS OF rewrites: `t VERSION AS OF n`
    # became `t__v<n>` (no `\b` between `t` and `__`), so a pure
    # time-travel query registers no current-snapshot scan of `t`
    _register_referenced_tables(spark, warehouse, rewritten)
    return spark.sql(rewritten)


# -- SQL DML over snapshot tables -----------------------------------------
# Spark's parser only accepts DELETE/UPDATE/MERGE against DSv2 catalog
# tables; for path-based snapshot tables this thin statement layer
# dispatches the three standard forms to the copy-on-write operations.
# Grammar is deliberately the common Iceberg-user shape, not all of SQL:
#   DELETE FROM t WHERE <pred>
#   UPDATE t SET c1 = e1, c2 = e2 [WHERE <pred>]
#   MERGE INTO t USING s ON t.k = s.k [AND ...]
#     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *

_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[A-Za-z_]\w*)\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<table>[A-Za-z_]\w*)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<target>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<talias>[A-Za-z_]\w*))?\s+USING\s+"
    r"(?P<source>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<salias>[A-Za-z_]\w*))?\s+ON\s+(?P<on>.+?)\s+"
    r"(?P<clauses>WHEN\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_WHEN_RE = re.compile(
    r"^\s*(?P<not>NOT\s+)?MATCHED(?:\s+BY\s+(?P<by>SOURCE|TARGET))?"
    r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+(?P<act>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_INSERT_RE = re.compile(
    r"^INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ_RE = re.compile(
    r"^\s*(?:(?P<q1>\w+)\.)?(?P<c1>\w+)\s*=\s*(?:(?P<q2>\w+)\.)?(?P<c2>\w+)\s*$"
)


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas outside parens and single-quoted literals (SET
    lists may contain function calls and string literals)."""
    parts, depth, start, in_quote = [], 0, 0, False
    for i, c in enumerate(s):
        if in_quote:
            in_quote = c != "'"
        elif c == "'":
            in_quote = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


_SET_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<props>.+?)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNSET_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+UNSET\s+TBLPROPERTIES\s*"
    r"\((?P<props>.+?)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CALL_RE = re.compile(
    r"^\s*CALL\s+system\s*\.\s*(?P<proc>[A-Za-z_]\w*)\s*"
    r"\((?P<args>.*?)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_KV_RE = re.compile(r"^\s*'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'\s*$")

#: CALL system.<proc>('table', ...) — the Iceberg stored-procedure
#: surface for maintenance actions (Spark's `CALL catalog.system.*`)
_PROCEDURES = {
    "expire_snapshots": lambda t, older_than_ms, *retain: t.expire_snapshots(
        int(older_than_ms), int(retain[0]) if retain else 1
    ),
    # optional second arg = Iceberg's `filter`: targeted compaction of
    # only the files that might match (rows are never filtered)
    "rewrite_data_files": lambda t, *flt: t.compact(
        where=flt[0] if flt else None
    ),
    "rewrite_manifests": lambda t: t.rewrite_manifests(),
    "build_value_index": lambda t, col: t.build_value_index(col),
    "refresh_value_index": lambda t, col: t.refresh_value_index(col),
    "rewrite_position_deletes": lambda t: t.rewrite_position_deletes(),
    "rollback_to_snapshot": lambda t, sid: t.rollback_to(int(sid)),
    "fast_forward": lambda t, branch: t.fast_forward(branch),
    "create_tag": lambda t, name, *sid: t.create_tag(
        name, int(sid[0]) if sid else None
    ),
    "create_branch": lambda t, name, *sid: t.create_branch(
        name, int(sid[0]) if sid else None
    ),
    "remove_orphan_files": lambda t, older_than_ms: t.remove_orphan_files(
        int(older_than_ms)
    ),
    "add_files": lambda t, path: t.add_files(path),
    "compute_table_stats": lambda t, *cols: t.analyze_table(
        list(cols) or None
    ),
    "cherrypick_snapshot": lambda t, sid: t.cherry_pick(int(sid)),
    # CALL system.snapshot('src', 'dst'[, snapshot_id]) — zero-copy clone
    "snapshot": lambda t, dst, *sid: SnapshotTable.snapshot_of(
        t.spark,
        t.location,
        os.path.join(os.path.dirname(os.path.abspath(t.location)), dst),
        int(sid[0]) if sid else None,
    ).location,
}

_DROP_TABLE_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_TABLE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<old>[A-Za-z_]\w*)\s+RENAME\s+TO\s+"
    r"(?P<new>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
_DESCRIBE_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?P<ext>EXTENDED\s+)?"
    r"(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_VIEWS_RE = re.compile(r"^\s*SHOW\s+VIEWS\s*;?\s*$", re.IGNORECASE)
_SHOW_PARTS_RE = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_PROPS_RE = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+"
    r"(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_MV_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s+AS\s+"
    r"SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<src>[A-Za-z_]\w*)\s+"
    r"GROUP\s+BY\s+(?P<keys>[A-Za-z_][\w,\s]*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_MV_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
#: one select-list item of the restricted MV grammar: a group key or
#: COUNT(*)/SUM/MIN/MAX(expr) AS alias
_MV_AGG_ITEM_RE = re.compile(
    r"^(?P<kind>COUNT|SUM|MIN|MAX)\s*\(\s*(?P<expr>\*|.+?)\s*\)\s+AS\s+"
    r"(?P<alias>[A-Za-z_]\w*)$",
    re.IGNORECASE | re.DOTALL,
)


_DROP_VIEW_RE = re.compile(
    r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(?P<name>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)

_RENAME_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>[A-Za-z_]\w*)\s+TO\s+(?P<new>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+DROP\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_ADD_COL_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+ADD\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+"
    r"(?P<type>[A-Za-z_]\w*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
    r"(?:\s*<[^>]+>)?)"
    r"(?:\s+DEFAULT\s+(?P<default>.+?))?\s*;?\s*$",
    re.IGNORECASE,
)
#: Iceberg partition-spec evolution statements:
#: ALTER TABLE t ADD PARTITION FIELD bucket(c, 16) | truncate(c, 4) |
#: year(c) | month(c) | day(c) | hour(c) | c (identity);
#: DROP PARTITION FIELD <same form>
_PART_FIELD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+"
    r"(?P<op>ADD|DROP)\s+PARTITION\s+FIELD\s+(?P<field>.+?)\s*;?\s*$",
    re.IGNORECASE,
)
_TRANSFORM_RE = re.compile(
    r"^(?:(?P<kind>bucket|truncate|year|month|day|hour|identity)"
    r"\s*\(\s*(?P<col>[A-Za-z_]\w*)"
    r"\s*(?:,\s*(?P<arg>\d+)\s*)?\)|(?P<bare>[A-Za-z_]\w*))$",
    re.IGNORECASE,
)


def _parse_transform(field: str) -> list:
    m = _TRANSFORM_RE.match(field.strip())
    if not m:
        raise ValueError(f"bad partition field: {field!r}")
    if m.group("bare"):
        return ["identity", m.group("bare"), None]
    kind = m.group("kind").lower()
    arg = m.group("arg")
    if kind in ("bucket", "truncate") and arg is None:
        raise ValueError(f"{kind} needs a numeric argument: {field!r}")
    return [kind, m.group("col"), int(arg) if arg is not None else None]


_ALTER_TYPE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+TYPE\s+(?P<type>[A-Za-z_]\w*(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)\s*;?\s*$",
    re.IGNORECASE,
)

_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>[A-Za-z_]\w*)\s+(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: INSERT OVERWRITE t SELECT ... — Iceberg's full-table overwrite
#: (a new `replaces` snapshot; history stays travelable)
_INSERT_OVERWRITE_RE = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(?P<table>[A-Za-z_]\w*)\s+"
    r"(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: TRUNCATE TABLE t — overwrite with the empty frame (metadata-fast,
#: rows removed in one snapshot, history stays travelable)
_TRUNCATE_RE = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
#: CREATE OR REPLACE TABLE t AS SELECT — Iceberg RTAS: an existing
#: table is replaced in ONE replaces-snapshot (schema may change,
#: history stays travelable); a missing table is plain CTAS
_RTAS_RE = re.compile(
    r"^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))*)\)\s+)?AS\s+"
    r"(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))*)\)\s+)?AS\s+"
    r"(?P<select>SELECT\s+.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: Iceberg v3 write-default DDL: ALTER COLUMN c SET DEFAULT <lit> /
#: ALTER COLUMN c DROP DEFAULT (the TYPE form is _ALTER_TYPE_RE)
_COL_DEFAULT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+"
    r"(?P<col>[A-Za-z_]\w*)\s+"
    r"(?:SET\s+DEFAULT\s+(?P<default>.+?)|(?P<drop>DROP\s+DEFAULT))\s*;?\s*$",
    re.IGNORECASE,
)
#: one column item of an explicit-schema CREATE TABLE, with optional
#: per-column DEFAULT (write default — a new table has no history for
#: an initial default to apply to)
_CREATE_COL_RE = re.compile(
    r"^(?P<col>[A-Za-z_]\w*)\s+(?P<type>.+?)"
    r"(?:\s+DEFAULT\s+(?P<default>.+?))?$",
    re.IGNORECASE | re.DOTALL,
)
#: explicit-schema create — exactly the form SHOW CREATE TABLE emits,
#: so its output round-trips back through execute_sql
_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<table>[A-Za-z_]\w*)\s*"
    r"\(\s*(?P<cols>.*?)\s*\)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>(?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\(\s*(?P<props>.*?)\s*\)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_partition_fields(raw: str) -> list:
    return [
        _parse_transform(item.strip())
        for item in _split_top_level_commas(raw)
        if item.strip()
    ]


def _parse_call_args(raw: str) -> list:
    args = []
    for item in _split_top_level_commas(raw):
        if item.startswith("'") and item.endswith("'"):
            args.append(item[1:-1])
        else:
            args.append(item)
    return args


def execute_sql(spark: SparkSession, warehouse: str, sql: str) -> DataFrame:
    """Run one SQL statement against the warehouse: DML (DELETE/UPDATE/
    MERGE) dispatches to the snapshot table's row-level commits (the
    strategy — copy-on-write vs merge-on-read — follows the table's
    write.*.mode properties) and returns a one-row summary (operation,
    snapshot_id); `ALTER TABLE ... SET/UNSET TBLPROPERTIES` edits table
    properties; schema DDL maps to the evolution ops (`RENAME COLUMN`,
    `DROP COLUMN`, `ALTER COLUMN ... TYPE` -> rename/drop/widen);
    catalog DDL maps to warehouse ops (`SHOW TABLES`, `SHOW PARTITIONS`,
    `DROP TABLE [IF EXISTS]`, `ALTER TABLE ... RENAME TO`, `CREATE
    TABLE ... AS SELECT`, `INSERT INTO ... SELECT`); `CALL system.<proc>('t', ...)`
    runs the Iceberg-style maintenance procedures (expire_snapshots,
    rewrite_data_files, rewrite_position_deletes, plan_maintenance,
    rollback_to_snapshot,
    fast_forward, create_tag, create_branch, remove_orphan_files);
    anything else goes through the time-travel-aware SELECT path."""

    def _table(name: str) -> SnapshotTable:
        loc = os.path.join(warehouse, name)
        if not os.path.exists(os.path.join(loc, "metadata.json")):
            raise ValueError(f"not a snapshot table: {name}")
        return SnapshotTable.load(spark, loc)

    def _exists(name: str) -> bool:
        return os.path.exists(os.path.join(warehouse, name, "metadata.json"))

    def _summary(op: str, sid: int) -> DataFrame:
        return spark.createDataFrame(
            [(op, sid)], "operation string, snapshot_id long"
        )

    m = _SHOW_TABLES_RE.match(sql)
    if m:
        from hiveberg_spark.sources.snapshot_table import list_tables

        return spark.createDataFrame(
            [(n,) for n in list_tables(warehouse)], "table string"
        )
    m = _DESCRIBE_RE.match(sql)
    if m and _exists(m.group("table")):
        t = _table(m.group("table"))
        schema = t.schema()
        rows = [
            (f.name, f.dataType.simpleString(), "data")
            for f in (schema.fields if schema else [])
        ]
        if m.group("ext"):
            meta = t._read_meta()
            for fl in meta.get("fields") or []:
                # synthetic field ids (round 6): the resolution identity
                # behind each current column, Iceberg DESCRIBE parity
                rows.append((fl["name"], str(fl["id"]), "field_id"))
            for spec in [meta.get("partition_spec") or []]:
                for tr in spec:
                    arg = f", {tr[2]}" if len(tr) > 2 and tr[2] is not None else ""
                    rows.append(
                        (tr[1], f"{tr[0]}({tr[1]}{arg})", "partition")
                    )
            for d in meta.get("defaults", []):
                wsql = d.get("write_sql", d.get("sql"))
                if wsql is not None:
                    rows.append((d["col"], f"DEFAULT {wsql}", "default"))
            for k, v in sorted(t.properties().items()):
                rows.append((k, v, "property"))
            rows.append(
                ("current_snapshot_id", str(meta["current_snapshot_id"]), "info")
            )
        return spark.createDataFrame(
            rows, "col_name string, data_type string, kind string"
        )
    m = _SHOW_VIEWS_RE.match(sql)
    if m:
        names = (
            sorted(
                fn[: -len(".view.json")]
                for fn in os.listdir(warehouse)
                if fn.endswith(".view.json")
            )
            if os.path.isdir(warehouse)
            else []
        )
        return spark.createDataFrame([(n,) for n in names] or [], "view string")
    m = _SHOW_PARTS_RE.match(sql)
    if m and _exists(m.group("table")):
        # SHOW PARTITIONS <t>: Spark renders `k=v[/k2=v2]` strings; ours
        # adds the layout-health counters the `partitions` metadata
        # table computes from manifests alone (no data IO)
        t = _table(m.group("table"))
        rows = []
        for r in t.partitions().collect():
            pd = dict(r.partition or {})
            rows.append(
                (
                    "/".join(f"{k}={pd[k]}" for k in sorted(pd)),
                    r.file_count,
                    r.record_count,
                    r.total_bytes,
                )
            )
        return spark.createDataFrame(
            sorted(rows) or [],
            "partition string, file_count long, record_count long, "
            "total_bytes long",
        )
    m = _SHOW_PROPS_RE.match(sql)
    if m and _exists(m.group("table")):
        props = _table(m.group("table")).properties()
        return spark.createDataFrame(
            sorted(props.items()) or [], "key string, value string"
        )
    m = _SHOW_CREATE_RE.match(sql)
    if m and _exists(m.group("table")):
        t = _table(m.group("table"))
        meta = t._read_meta()
        schema = t.schema()
        # current write defaults round-trip through the CREATE parser
        wdefaults = {
            d["col"]: d.get("write_sql", d.get("sql"))
            for d in meta.get("defaults", [])
            if d.get("write_sql", d.get("sql")) is not None
        }
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString()}"
            + (f" DEFAULT {wdefaults[f.name]}" if f.name in wdefaults else "")
            for f in (schema.fields if schema else [])
        )
        ddl = f"CREATE TABLE {m.group('table')} (\n  {cols}\n)"
        spec = meta.get("partition_spec") or []
        if spec:
            parts = ", ".join(
                f"{tr[0]}({tr[1]}"
                + (f", {tr[2]}" if len(tr) > 2 and tr[2] is not None else "")
                + ")"
                for tr in spec
            )
            ddl += f"\nPARTITIONED BY ({parts})"
        props = t.properties()
        if props:
            kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
            ddl += f"\nTBLPROPERTIES ({kv})"
        return spark.createDataFrame([(ddl,)], "createtab_stmt string")
    m = _CREATE_MV_RE.match(sql)
    if m:
        # restricted incremental-maintenance grammar: group keys +
        # COUNT(*)/SUM/MIN/MAX(expr) AS alias over ONE source table —
        # exactly the decomposable shape MaterializedAggregate refreshes
        # from deltas; anything richer belongs in a stored (virtual)
        # view, which re-plans per read
        from hiveberg_spark.sources.materialized import MaterializedAggregate

        name = m.group("name")
        if _exists(name):
            raise ValueError(f"a table named {name!r} already exists")
        keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
        specs: dict[str, tuple[str, str]] = {}
        plain: list[str] = []
        for item in _split_top_level_commas(m.group("items")):
            am = _MV_AGG_ITEM_RE.match(item)
            if am:
                kind = am.group("kind").lower()
                expr = am.group("expr")
                if kind == "count" and expr != "*":
                    raise ValueError(
                        "materialized views support COUNT(*) only "
                        "(COUNT(expr) is not delta-mergeable with nulls)"
                    )
                specs[am.group("alias")] = (
                    kind,
                    "" if kind == "count" else expr,
                )
            else:
                plain.append(item)
        if sorted(plain) != sorted(keys):
            raise ValueError(
                f"non-aggregate select items {plain} must equal the "
                f"GROUP BY keys {keys}"
            )
        if not specs:
            raise ValueError("materialized view needs at least one aggregate")
        MaterializedAggregate.create(
            spark, os.path.join(warehouse, name), _table(m.group("src")),
            keys, specs,
        )
        return spark.createDataFrame(
            [(name, "create_materialized_view")], "table string, ddl string"
        )
    m = _REFRESH_MV_RE.match(sql)
    if m:
        from hiveberg_spark.sources.materialized import MaterializedAggregate

        mv = MaterializedAggregate.load(
            spark, os.path.join(warehouse, m.group("name"))
        )
        r = mv.refresh()
        return spark.createDataFrame(
            [(m.group("name"), r["from"], r["to"], r["updated_keys"])],
            "table string, from_snapshot long, to_snapshot long, updated_keys long",
        )
    m = _DROP_MV_RE.match(sql)
    if m:
        from hiveberg_spark.sources.snapshot_table import drop_table, list_tables

        name = m.group("name")
        loc = os.path.join(warehouse, name)
        existed = name in list_tables(warehouse) and os.path.exists(
            os.path.join(loc, "mv_state.json")
        )
        if existed:
            drop_table(warehouse, name)
        elif "IF EXISTS" not in sql.upper():
            raise ValueError(f"no such materialized view: {name}")
        return spark.createDataFrame(
            [(name, bool(existed))], "table string, dropped boolean"
        )
    m = _CREATE_VIEW_RE.match(sql)
    if m:
        name = m.group("name")
        loc = os.path.join(warehouse, name)
        if os.path.exists(os.path.join(loc, "metadata.json")):
            raise ValueError(f"a table named {name!r} already exists")
        # validate the SQL plans now (against current state)
        sql_with_time_travel(spark, warehouse, m.group("select"))
        os.makedirs(warehouse, exist_ok=True)
        with open(os.path.join(warehouse, f"{name}.view.json"), "w") as f:
            json.dump({"sql": m.group("select")}, f)
        return spark.createDataFrame(
            [(name, "create_view")], "table string, ddl string"
        )
    m = _DROP_VIEW_RE.match(sql)
    if m:
        name = m.group("name")
        path = os.path.join(warehouse, f"{name}.view.json")
        existed = os.path.exists(path)
        if existed:
            os.unlink(path)
        elif "IF EXISTS" not in sql.upper():
            raise ValueError(f"no such view: {name}")
        return spark.createDataFrame(
            [(name, bool(existed))], "table string, dropped boolean"
        )
    m = _DROP_TABLE_RE.match(sql)
    if m:
        from hiveberg_spark.sources.snapshot_table import list_tables, drop_table

        name = m.group("table")
        existed = name in list_tables(warehouse)
        if existed:
            drop_table(warehouse, name)
        elif "IF EXISTS" not in sql.upper():
            raise ValueError(f"not a snapshot table: {name}")
        return spark.createDataFrame(
            [(name, bool(existed))], "table string, dropped boolean"
        )
    m = _RENAME_TABLE_RE.match(sql)
    if m:
        from hiveberg_spark.sources.snapshot_table import rename_table

        rename_table(warehouse, m.group("old"), m.group("new"))
        return spark.createDataFrame(
            [(m.group("new"), "rename_table")], "table string, ddl string"
        )
    m = _RENAME_COL_RE.match(sql)
    if m:
        _table(m.group("table")).rename_column(m.group("old"), m.group("new"))
        return spark.createDataFrame(
            [(m.group("table"), "rename_column")], "table string, ddl string"
        )
    m = _DROP_COL_RE.match(sql)
    if m:
        _table(m.group("table")).drop_column(m.group("col"))
        return spark.createDataFrame(
            [(m.group("table"), "drop_column")], "table string, ddl string"
        )
    m = _COL_DEFAULT_RE.match(sql)
    if m:
        t = _table(m.group("table"))
        if m.group("drop"):
            t.drop_column_default(m.group("col"))
            op = "drop_column_default"
        else:
            t.set_column_default(m.group("col"), m.group("default"))
            op = "set_column_default"
        return spark.createDataFrame(
            [(m.group("table"), op)], "table string, ddl string"
        )
    m = _ALTER_TYPE_RE.match(sql)
    if m:
        _table(m.group("table")).widen_column(m.group("col"), m.group("type"))
        return spark.createDataFrame(
            [(m.group("table"), "widen_column")], "table string, ddl string"
        )
    m = _ADD_COL_RE.match(sql)
    if m:
        _table(m.group("table")).add_column(
            m.group("col"), m.group("type"), default_sql=m.group("default")
        )
        return spark.createDataFrame(
            [(m.group("table"), "add_column")], "table string, ddl string"
        )
    m = _PART_FIELD_RE.match(sql)
    if m:
        t = _table(m.group("table"))
        tr = _parse_transform(m.group("field"))
        spec = [list(x) for x in (t._read_meta().get("partition_spec") or [])]
        if m.group("op").upper() == "ADD":
            if tr in spec:
                raise ValueError(f"partition field already in spec: {tr}")
            spec.append(tr)
        else:
            if tr not in spec:
                raise ValueError(f"no such partition field in spec: {tr}")
            spec.remove(tr)
        t.update_partition_spec([tuple(x) for x in spec] or None)
        return spark.createDataFrame(
            [(m.group("table"), f"{m.group('op').lower()}_partition_field")],
            "table string, ddl string",
        )
    m = _SET_PROPS_RE.match(sql)
    if m:
        props = {}
        for item in _split_top_level_commas(m.group("props")):
            kv = _KV_RE.match(item)
            if not kv:
                raise ValueError(f"bad TBLPROPERTIES item: {item!r}")
            props[kv.group("k")] = kv.group("v")
        _table(m.group("table")).set_properties(props)
        return spark.createDataFrame(
            [(m.group("table"), len(props))], "table string, properties_set long"
        )
    m = _UNSET_PROPS_RE.match(sql)
    if m:
        keys = [
            item.strip().strip("'")
            for item in _split_top_level_commas(m.group("props"))
        ]
        _table(m.group("table")).set_properties({k: None for k in keys})
        return spark.createDataFrame(
            [(m.group("table"), len(keys))], "table string, properties_set long"
        )
    m = _CALL_RE.match(sql)
    if m:
        proc = m.group("proc").lower()
        args = _parse_call_args(m.group("args"))
        if proc == "create_changelog_view":
            # DataFrame-returning procedure (Iceberg's
            # create_changelog_view): CALL system.create_changelog_view(
            #   't', from_sid[, to_sid[, 'id_col1,id_col2' | 'row_lineage']])
            # — the optional 4th argument turns on update pairing, keyed
            # on the named identifier columns or on v3 row lineage
            if len(args) < 2:
                raise ValueError(
                    "create_changelog_view needs (table, from_snapshot"
                    "[, to_snapshot[, identifier_cols|'row_lineage']])"
                )
            t = _table(args[0])
            to_sid = int(args[2]) if len(args) > 2 and args[2] else None
            key = args[3] if len(args) > 3 else None
            if key == "row_lineage":
                return t.scan_changelog(
                    int(args[1]), to_sid, compute_updates=True,
                    use_row_lineage=True,
                )
            if key:
                return t.scan_changelog(
                    int(args[1]), to_sid, compute_updates=True,
                    identifier_columns=[
                        c.strip() for c in key.split(",") if c.strip()
                    ],
                )
            return t.scan_changelog(int(args[1]), to_sid)
        if proc == "plan_maintenance":
            # DataFrame-returning advisor: CALL system.plan_maintenance('t')
            return _table(args[0]).plan_maintenance(
                *[float(a) for a in args[1:2]],
                **({"max_snapshots": int(args[2])} if len(args) > 2 else {}),
            )
        if proc not in _PROCEDURES:
            raise ValueError(
                f"unknown procedure: {proc!r} (have {sorted(_PROCEDURES)})"
            )
        if not args:
            raise ValueError("CALL needs at least the table name argument")
        result = _PROCEDURES[proc](_table(args[0]), *args[1:])
        return spark.createDataFrame(
            [(proc, str(result))], "procedure string, result string"
        )
    m = _INSERT_OVERWRITE_RE.match(sql)
    if m:
        df = sql_with_time_travel(spark, warehouse, m.group("select"))
        sid = _table(m.group("table")).overwrite(df)
        return _summary("overwrite", sid)
    m = _TRUNCATE_RE.match(sql)
    if m:
        t = _table(m.group("table"))
        empty = t.scan(virtual_column=None).limit(0)
        sid = t.overwrite(empty)
        return _summary("truncate", sid)
    m = _INSERT_RE.match(sql)
    if m:
        # the SELECT side goes through the time-travel-aware path, so
        # INSERT INTO t SELECT ... FROM s VERSION AS OF 3 works
        df = sql_with_time_travel(spark, warehouse, m.group("select"))
        sid = _table(m.group("table")).append(df)
        return _summary("append", sid)
    m = _RTAS_RE.match(sql)
    if m:
        name = m.group("table")
        loc = os.path.join(warehouse, name)
        df = sql_with_time_travel(spark, warehouse, m.group("select"))
        spec = (
            _parse_partition_fields(m.group("parts"))
            if m.group("parts")
            else None
        )
        if os.path.exists(os.path.join(loc, "metadata.json")):
            t = SnapshotTable.load(spark, loc)
            # RTAS on a live table: adopt the SELECT's schema (schema
            # replacement is part of the contract), move the partition
            # spec if given, then land the data as one replaces commit
            meta = t._read_meta()
            lock = t._acquire_lock()
            try:
                meta = t._read_meta()
                meta["schema_json"] = df.schema.json()
                t._write_meta(meta)
            finally:
                os.unlink(lock)
            if spec is not None:
                t.update_partition_spec(spec)
            sid = t.overwrite(df)
            return _summary("replace", sid)
        t = SnapshotTable.create(
            spark, loc, schema=df.schema, partition_spec=spec
        )
        sid = t.append(df)
        return _summary("create", sid)
    m = _CTAS_RE.match(sql)
    if m:
        name = m.group("table")
        loc = os.path.join(warehouse, name)
        if os.path.exists(os.path.join(loc, "metadata.json")):
            raise ValueError(f"table already exists: {name}")
        df = sql_with_time_travel(spark, warehouse, m.group("select"))
        spec = (
            _parse_partition_fields(m.group("parts"))
            if m.group("parts")
            else None
        )
        t = SnapshotTable.create(
            spark, loc, schema=df.schema, partition_spec=spec
        )
        sid = t.append(df)
        return _summary("create", sid)
    m = _CREATE_TABLE_RE.match(sql)
    if m:
        name = m.group("table")
        loc = os.path.join(warehouse, name)
        if os.path.exists(os.path.join(loc, "metadata.json")):
            raise ValueError(f"table already exists: {name}")
        from pyspark.sql.types import StructType

        # per-column DEFAULT clauses: strip into write defaults (a new
        # table has no pre-existing files for an initial default)
        plain_items, col_defaults = [], {}
        for item in _split_top_level_commas(m.group("cols")):
            cm = _CREATE_COL_RE.match(item.strip())
            if cm and cm.group("default"):
                plain_items.append(f"{cm.group('col')} {cm.group('type')}")
                col_defaults[cm.group("col")] = cm.group("default")
            else:
                plain_items.append(item.strip())
        schema = StructType.fromDDL(", ".join(plain_items))
        spec = (
            _parse_partition_fields(m.group("parts"))
            if m.group("parts")
            else None
        )
        t = SnapshotTable.create(
            spark, loc, schema=schema, partition_spec=spec
        )
        for col, dflt in col_defaults.items():
            t.set_column_default(col, dflt)
        if m.group("props"):
            props = {}
            for item in _split_top_level_commas(m.group("props")):
                kv = _KV_RE.match(item)
                if not kv:
                    raise ValueError(f"bad TBLPROPERTIES item: {item!r}")
                props[kv.group("k")] = kv.group("v")
            t.set_properties(props)
        return _summary("create", 0)
    m = _DELETE_RE.match(sql)
    if m:
        sid = _table(m.group("table")).delete_where(m.group("pred"))
        return _summary("delete", sid)
    m = _UPDATE_RE.match(sql)
    if m:
        assignments = {}
        for item in _split_top_level_commas(m.group("sets")):
            col, _, expr = item.partition("=")
            if not _:
                raise ValueError(f"bad SET item: {item!r}")
            assignments[col.strip()] = expr.strip()
        sid = _table(m.group("table")).update_where(
            m.group("pred") or "true", assignments
        )
        return _summary("update", sid)
    m = _MERGE_RE.match(sql)
    if m:
        target, source = m.group("target"), m.group("source")
        keys = []
        # ON clause: conjunction of target.k = source.k equalities
        from hiveberg_spark.sources.snapshot_table import _split_top_level_and

        for conj in _split_top_level_and(m.group("on")):
            eq = _ON_EQ_RE.match(conj)
            if not eq:
                raise ValueError(f"unsupported MERGE ON conjunct: {conj!r}")
            c1, c2 = eq.group("c1"), eq.group("c2")
            if c1 != c2:
                raise ValueError(
                    f"MERGE ON must equate the same column name: {conj!r}"
                )
            keys.append(c1)
        src_loc = os.path.join(warehouse, source)
        if os.path.exists(os.path.join(src_loc, "metadata.json")):
            source_df = SnapshotTable.load(spark, src_loc).scan(
                virtual_column=None
            )
        else:  # a registered view/temp table
            source_df = spark.table(source)

        # requalify target/source table names and aliases to the
        # struct columns merge_into evaluates against (t.* / s.*)
        tnames = {target, m.group("talias")} - {None}
        snames = {source, m.group("salias")} - {None}
        if tnames & snames:
            raise ValueError("MERGE target and source aliases collide")

        def requal(expr: str) -> str:
            for n in tnames:
                expr = re.sub(rf"\b{re.escape(n)}\s*\.", "t.", expr)
            for n in snames:
                expr = re.sub(rf"\b{re.escape(n)}\s*\.", "s.", expr)
            return expr.strip()

        # parse the ordered WHEN clause list (full Spark/Iceberg MERGE
        # surface: conditional UPDATE SET ... / DELETE / INSERT (...)
        # VALUES (...), plus the * shorthands)
        matched: list[tuple] = []
        not_matched: list[tuple] = []
        nmbs: list[tuple] = []
        raw = re.split(r"(?i)\bWHEN\b", m.group("clauses"))
        for part in raw:
            if not part.strip():
                continue
            wm = _MERGE_WHEN_RE.match(part)
            if not wm:
                raise ValueError(f"unsupported MERGE clause: WHEN {part!r}")
            cond = requal(wm.group("cond")) if wm.group("cond") else None
            act = wm.group("act").strip()
            by = (wm.group("by") or "").upper()
            if by == "SOURCE":
                # Spark 4: WHEN NOT MATCHED BY SOURCE THEN UPDATE|DELETE
                if not wm.group("not"):
                    raise ValueError("MATCHED BY SOURCE is not a clause")
                if re.fullmatch(r"(?is)DELETE", act):
                    nmbs.append(("delete", cond))
                    continue
                um = re.match(r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", act)
                if not um:
                    raise ValueError(
                        f"unsupported NOT MATCHED BY SOURCE action: {act!r}"
                    )
                assigns = {}
                for part2 in _split_top_level_commas(um.group("sets")):
                    lhs, _, rhs = part2.partition("=")
                    col = requal(lhs).removeprefix("t.").strip()
                    if not col or not rhs.strip():
                        raise ValueError(f"bad SET assignment: {part2!r}")
                    assigns[col] = requal(rhs)
                nmbs.append(("update", cond, assigns))
                continue
            if wm.group("not"):
                if re.fullmatch(r"(?is)INSERT\s*\*", act):
                    not_matched.append((cond, None))
                    continue
                im = _MERGE_INSERT_RE.match(act)
                if not im:
                    raise ValueError(
                        f"unsupported NOT MATCHED action: {act!r}"
                    )
                cols = [
                    c.strip() for c in im.group("cols").split(",") if c.strip()
                ]
                vals = _split_top_level_commas(im.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError(
                        "INSERT column list and VALUES arity differ"
                    )
                not_matched.append(
                    (cond, {c: requal(v) for c, v in zip(cols, vals)})
                )
            else:
                if re.fullmatch(r"(?is)DELETE", act):
                    matched.append(("delete", cond))
                elif re.fullmatch(r"(?is)UPDATE\s+SET\s*\*", act):
                    matched.append(("update", cond, "*"))
                else:
                    um = re.match(
                        r"(?is)^UPDATE\s+SET\s+(?P<sets>.+)$", act
                    )
                    if not um:
                        raise ValueError(
                            f"unsupported MATCHED action: {act!r}"
                        )
                    assigns = {}
                    for part2 in _split_top_level_commas(um.group("sets")):
                        lhs, _, rhs = part2.partition("=")
                        col = requal(lhs).removeprefix("t.").strip()
                        if not col or not rhs.strip():
                            raise ValueError(
                                f"bad SET assignment: {part2!r}"
                            )
                        assigns[col] = requal(rhs)
                    matched.append(("update", cond, assigns))

        # the classic upsert-all shape keeps routing through
        # merge_upsert so write.merge.mode (merge-on-read) still
        # applies; any richer clause set runs the general COW executor
        is_upsert_all = (
            not nmbs
            and len(matched) == 1
            and matched[0][0] == "update"
            and matched[0][1] is None
            and matched[0][2] == "*"
            and len(not_matched) == 1
            and not_matched[0] == (None, None)
        )
        if is_upsert_all:
            sid = _table(target).merge_upsert(source_df, keys=keys)
            return _summary("merge", sid)
        t = _table(target)
        tcols = set((t.schema() or source_df.schema).fieldNames())
        matched = [
            (
                "update",
                cl[1],
                {
                    c: f"s.{c}"
                    for c in source_df.columns
                    if c in tcols and not c.startswith("__hb_")
                },
            )
            if cl[0] == "update" and cl[2] == "*"
            else cl
            for cl in matched
        ]
        sid = t.merge_into(
            source_df,
            keys=keys,
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source=nmbs,
        )
        return _summary("merge", sid)
    return sql_with_time_travel(spark, warehouse, sql)
