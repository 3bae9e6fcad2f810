"""Driver-resident parquet writes for commits of small frames.

A Spark write job pays ~100 ms of fixed cost per commit (task set-up,
the Hadoop output committer, the `_temporary` rename, `_SUCCESS` and
`.crc` markers) however few rows it writes. A frame whose estimated
size is at most `MAX_BYTES` is instead collected once as Arrow
(`toArrow()`, one Spark job) and written by pyarrow as the file the
Spark writer would have produced:

  - one file, `part-00000-<uuid>-c000.<codec>.parquet`, no markers;
  - the footer carries `org.apache.spark.sql.parquet.row.metadata`
    (the writer's `StructType`, field metadata included) and
    `org.apache.spark.version`, which marks dates and timestamps as
    proleptic Gregorian, so a session whose
    `spark.sql.parquet.datetimeRebaseModeInRead` is EXCEPTION or
    LEGACY reads pre-1582 values as it reads Spark's own files. pyarrow
    writes footer key/values only together with its `ARROW:schema`
    entry, which repeats the row metadata: 2.2 KB for 11 columns;
  - dictionary encoding per column follows parquet-mr's fallback rule,
    so files are no larger than Spark's;
  - codec and level match parquet-mr's defaults.

`driver_write_codec` is the gate; every frame it declines (an estimate
above `MAX_BYTES`, a requested file count, Python code or a `Generate`
whose output the estimate cannot see, types pyarrow stores differently)
keeps the Spark writer, which runs on executors.
"""

from __future__ import annotations

import os
import uuid

#: The largest frame, in bytes of the gate's estimate, that the driver
#: writer takes. Measured on a 4-vCPU host with the benchmark's session
#: (local[2]): appends of generated lineitem slices, each read from one
#: parquet file of four row groups, median of 5 interleaved commits per
#: writer (driver against Spark): 1.3 MB estimated (12k rows) 0.14 s
#: against 0.24 s; 6.6 MB 0.19 s against 0.26 s; 13 MB 0.31 s against
#: 0.32 s; 27 MB 0.51 s against 0.54 s; 53 MB 1.06 s against 0.98 s;
#: 106 MB 1.63 s against 1.15 s. Past ~13 MB the gain is gone: the
#: collect and one pyarrow thread cost what the write job's fixed cost
#: saves. In the benchmark's `ingest` workload the appends estimate
#: 1.0-1.4 MB, the copy-on-write delete and the compaction 2.8-2.9 MB
#: and the merge 11.6 MB, which keeps the Spark writer. A value <= 0
#: turns the driver writer off.
MAX_BYTES = 8 * 1024 * 1024

#: Spark simpleStrings pyarrow stores with parquet-mr's physical and
#: logical types. Decimals are out: pyarrow 16 cannot store them as
#: INT32/INT64 the way Spark does, so files would grow; nested and
#: binary types are out because nothing here proves their parity.
_TYPES = frozenset((
    "tinyint", "smallint", "int", "bigint", "float", "double", "boolean",
    "string", "date", "timestamp", "timestamp_ntz",
))

#: Spark codec name -> (pyarrow codec, Spark's file-name infix,
#: parquet-mr's default level). Other codecs keep the Spark writer.
_CODECS = {
    "snappy": ("snappy", ".snappy", None),
    "gzip": ("gzip", ".gz", 6),
    "zstd": ("zstd", ".zstd", 3),
    "none": ("none", "", None),
    "uncompressed": ("none", "", None),
}

#: More parquet files than this under one scan leaf decline the driver
#: writer rather than have it read every footer.
_MAX_LEAF_FILES = 256


def driver_write_codec(df, codec: str = "") -> str | None:
    """The codec to write `df` with on the driver, or None when the
    Spark writer must write it. An empty `codec` means the session's
    `spark.sql.parquet.compression.codec`.

    Callers have already declined hidden partitioning, sort orders and
    parquet bloom filters; this checks what the frame itself decides:
    the codec, the column types, and the optimized plan through
    `_scan_factor`: Spark's size estimate times that factor must be at
    most `MAX_BYTES`. No check launches a Spark job."""
    if MAX_BYTES <= 0:
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    codec = codec or conf.parquetCompressionCodec()
    if codec not in _CODECS:
        return None
    types = {f.dataType.simpleString() for f in df.schema.fields}
    if not types <= _TYPES:
        return None
    if "timestamp" in types and (
        conf.parquetOutputTimestampType().toString() != "TIMESTAMP_MICROS"
    ):
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    size = float(plan.stats().sizeInBytes())
    if size > MAX_BYTES:
        return None  # no plan walk, no footer reads
    factor = _scan_factor(plan)
    if factor is None or size * factor > MAX_BYTES:
        return None
    return codec


def _scan_factor(node) -> float | None:
    """How much larger than Spark's size estimate of the optimized
    logical plan `node` its collected result can be, or None when the
    plan must keep the Spark writer: a node whose output no estimate
    sees (`Generate`, Python UDFs and map functions), a requested
    partition count above one (a requested file count), or a scan
    whose rows cannot be counted on the driver (a non-parquet or
    non-local file, or more than `_MAX_LEAF_FILES` files).

    Spark sizes a file scan by its compressed bytes on disk, while the
    collected Arrow table grows with its rows: a run-length-encoded
    column can be 100 times larger in memory than on disk. A scan's
    factor is its footer row count times Spark's row width (8 bytes
    plus each column's default size, 20 for a string) over its disk
    size, at least 1. Spark's estimates grow at most linearly with each
    input except at joins, which multiply their sides, so a join's
    factor is the product of its sides' (a semi or anti join's is its
    left side's) and any other node's is the largest of its
    children's. Long repeated strings still count 20 bytes each, so the
    scaled estimate is not a hard limit; at `MAX_BYTES` it leaves two
    orders of magnitude to `spark.driver.maxResultSize` (1 GB by
    default)."""
    import pyarrow.parquet as pq

    name = node.nodeName()
    if name == "Generate" or "Python" in name or "InPandas" in name or (
        "Arrow" in name
    ):
        return None
    if name in ("Repartition", "RepartitionByExpression") and (
        node.numPartitions() > 1
    ):
        return None
    if name == "RebalancePartitions" and node.partitioning().numPartitions() > 1:
        return None
    children = node.children()
    factors = [_scan_factor(children.apply(i)) for i in range(children.size())]
    if None in factors:
        return None
    if name == "Join":
        # Spark sizes a semi or anti join by its left side alone
        if node.joinType().toString() in ("LeftSemi", "LeftAnti"):
            return factors[0]
        return factors[0] * factors[1]
    if name != "LogicalRelation" or (
        node.relation().getClass().getSimpleName() != "HadoopFsRelation"
    ):
        return max(factors, default=1.0)
    rel = node.relation()
    files = list(rel.location().inputFiles())
    if rel.fileFormat().shortName() != "parquet" or len(files) > _MAX_LEAF_FILES:
        return None
    if not all(f.startswith("file:") for f in files):
        return None
    rows = sum(pq.read_metadata(_local_path(f)).num_rows for f in files)
    disk = max(float(node.stats().sizeInBytes()), 1.0)
    return max(1.0, rows * (8 + node.schema().defaultSize()) / disk)


def _local_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path)


def write_parquet_on_driver(df, out_dir: str, codec: str) -> None:
    """Collect `df` as Arrow and write it as one parquet file under
    `out_dir`. A 0-row frame writes no file: the Spark writer's 0-row
    part is dropped at listing, so both give the same manifest.
    `codec` comes from `driver_write_codec`."""
    import pyarrow.parquet as pq

    tbl = df.toArrow().replace_schema_metadata({
        "org.apache.spark.sql.parquet.row.metadata": df.schema.json(),
        "org.apache.spark.version": df.sparkSession.version,
    })
    if tbl.num_rows == 0:
        return
    name, infix, level = _CODECS[codec]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"part-00000-{uuid.uuid4()}-c000{infix}.parquet")
    pq.write_table(
        tbl,
        path,
        compression=name,
        compression_level=level,
        use_dictionary=_dictionary_columns(tbl),
        write_statistics=_statistics_columns(tbl),
    )
    del tbl  # the collected frame is the largest object here


def _dictionary_columns(tbl) -> list[str]:
    """Columns parquet-mr would keep dictionary-encoded: it falls back
    to plain encoding unless `dictionary + indices < plain`, i.e.
    `distinct*width + n*ceil(log2 distinct)/8 < n*width` (strings count
    their 4-byte length prefix in each width). Booleans never use a
    dictionary. pyarrow encodes every column with one by default, which
    grows high-cardinality doubles such as prices by ~30%."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for name, col in zip(tbl.column_names, tbl.columns):
        if pa.types.is_boolean(col.type):
            continue
        n = len(col) - col.null_count
        distinct = pc.count_distinct(col).as_py()
        index_bytes = n * max(distinct - 1, 0).bit_length() / 8
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            plain = 4 * n + (pc.sum(pc.binary_length(col)).as_py() or 0)
            uniq = pc.unique(col)
            dictionary = 4 * distinct + (pc.sum(pc.binary_length(uniq)).as_py() or 0)
        else:
            width = 8 if col.type.bit_width == 64 else 4  # INT32 holds byte/short/date
            plain, dictionary = n * width, distinct * width
        if dictionary + index_bytes < plain:
            out.append(name)
    return out


def _statistics_columns(tbl) -> list[str]:
    """Columns written with min/max statistics: all but float columns
    holding NaN. pyarrow leaves NaN out of min/max, so a file holding
    NaN would carry bounds that exclude it, while Spark orders NaN above
    every number; without bounds, file pruning keeps such a file."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return [
        name
        for name, col in zip(tbl.column_names, tbl.columns)
        if not (pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py())
    ]
