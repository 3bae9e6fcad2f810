"""SparkSession bootstrap tuned for both local testing and cluster scale.

Reference parity: the reference's client-side planning path
(IcebergInputFormat.getSplits, TableResolverUtil) is subsumed by Spark's
driver-side Catalyst planning; this module only sets the knobs that make
the resulting plans scale-safe (AQE, skew handling, Arrow, sane shuffle
partitioning).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# At 100 TB these come from cluster conf / dynamic allocation; locally the
# driver contract runs on local[$SPARK_GRAFT_CPUS].
_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


# Confs every query needs regardless of who built the session. The
# correctness driver passes its OWN SparkSession into queries(), so
# `ensure_runtime_conf` sets these at runtime as well as the builder.
_RUNTIME_CONF = {
    # Spark has no nanosecond timestamp type. Historical fixture
    # generations carried events.ts as TIMESTAMP(NANOS) (current ones are
    # timestamp[us]); the conf is a no-op for micros files and keeps a
    # fixture revert to nanos readable (catalog.py and streaming/events.py
    # adapt per-file).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark-3 arithmetic semantics: 64-bit wraparound multiply is the
    # basis of the rolling/minhash fingerprint math (ANSI mode would
    # raise on intentional overflow); no query here relies on
    # error-on-cast behavior.
    "spark.sql.ansi.enabled": "false",
    # timestamp formatting/epoch outputs must be timezone-stable
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # INT96 (the legacy default) carries NO parquet footer statistics, so
    # timestamp predicates could never prune snapshot-table files; micros
    # is the modern interoperable physical type (DuckDB/Arrow read it
    # natively) and footer min/max work
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # the hiveberg Python Data Source facade (sources/pyds.py) routes
    # pushed filters into manifest min/max pruning; off by default in
    # Spark 4.1 while the Python pushdown API stabilizes
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate infers `size(e) > 0` from explode(e)
    # and predicate pushdown then re-substitutes e THROUGH the
    # projections, shoving the full expression below the parallelism
    # exchange — for this engine's expensive derived arrays (3-gram
    # shingle construction, k-gram windows) that evaluates the most
    # expensive expression in the pipeline twice, once on the
    # narrow PRE-shuffle side (serial on a single-file scan).
    # Measured: the shingle->minhash fingerprint pass drops 9.5s ->
    # 0.8s at sf0.1 with the rule excluded (OPTIMIZATION_r14.md).
    # The rule only ever infers redundant filters (explode already
    # drops empty/null arrays), so plans stay semantically identical.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Snapshot-table scans pass EXPLICIT leaf-file lists from the
    # manifest (no directory recursion), so driver-side listing is
    # O(files-in-scan) stat calls; Spark's default threshold (32
    # paths) instead launches a DISTRIBUTED listing job per scan —
    # a whole Spark job to stat a few dozen local files (visible as
    # "Listing leaf files and directories for N paths" jobs in every
    # multi-file scan profile). 512 keeps manifest-sized lists on
    # the driver; a lake-scale deployment with thousands of files
    # per scan still gets the parallel path.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "512",
}


def get_spark(
    app_name: str = "hiveberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Scale posture (all of these matter more at 1000 executors than on
    local[32], and none of them hurt locally):
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, dynamic join-strategy downgrade to broadcast.
      - shuffle partitions sized to cores locally; on a real cluster AQE
        coalesces from a deliberately-high initial number.
      - Arrow for any Python<->JVM exchange (pandas UDFs are the sanctioned
        slow path; row-at-a-time Python UDFs are banned in this codebase).
      - UTC session timezone so timestamp semantics are stable across
        engines (the reference leaks timestamps as bigints instead —
        IcebergSchemaToTypeInfo.java:48-49 — which we deliberately do not
        replicate).
    """
    master = master or f"local[{_DEF_CPUS}]"
    cpus = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = SparkSession.builder.master(master).appName(app_name)
    build_conf = {
        **_RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.streaming.schemaInference": "false",
    }
    for k, v in {**build_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_ENSURED_SESSIONS: "weakref.WeakSet" = None  # built lazily below


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an externally-built
    session (idempotent, cheap).

    Round 15: memoized per session — each conf.get is a py4j round-trip
    (~2 ms idle, ~3 ms while the JVM is executing jobs, measured), and
    the registry wrapper calls this on EVERY query invocation, so the
    8-key loop cost ~20 ms of serial driver time per query run. Confs
    set here only change if external code flips them mid-session (the
    one test that does restores them in `finally`), so asserting once
    per session is equivalent."""
    global _ENSURED_SESSIONS
    if _ENSURED_SESSIONS is None:
        import weakref

        _ENSURED_SESSIONS = weakref.WeakSet()
    if spark in _ENSURED_SESSIONS:
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # static conf in some deployment: builder already set it
    _ENSURED_SESSIONS.add(spark)
    return spark


@contextlib.contextmanager
def conf_override(spark: SparkSession, key: str, value: str):
    """Set a runtime conf for the block, then put back what was there
    before: the prior value, or no value at all if the key was unset."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
