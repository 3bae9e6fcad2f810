"""Join operators (SURVEY.md §2.3).

The reference implements no join; its e2e tests run Hive inner equi-joins
over two Iceberg tables (TestJoinTablesWithHadoopCatalog.java:121-152).
Contract here: the full Spark join surface, each shape chosen for scale
(broadcast for dims, shuffle-hash/sort-merge via AQE for fact-fact,
explicit comments where a 100 TB plan differs from the local one).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hiveberg_spark.catalog import load_table
from hiveberg_spark.registry import query
from hiveberg_spark.session import conf_override


@query(
    "join_inner_equi",
    oracle="""
    SELECT s_name, s_acctbal, c_name
    FROM supplier JOIN customer ON s_nationkey = c_nationkey
    WHERE c_acctbal > 9000
    """,
)
def join_inner_equi(spark, sf_dir):
    """The reference's canonical tested case (two-table inner equi-join,
    TestJoinTablesWithHadoopCatalog.java:121-126). supplier is the
    smallest SF-scaling table: no forced hint — AQE broadcasts it at
    every SF where it fits and falls back to shuffle when it doesn't
    (a forced hint would bypass the size check at 100×)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return (
        c.join(s, s.s_nationkey == c.c_nationkey, "inner")
        .select("s_name", "s_acctbal", "c_name")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 400000
    """,
)
def join_left_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000)
    return c.join(o, cond, "left").select("c_custkey", "o_orderkey")


@query(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, c_name
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    WHERE c_acctbal < -900
    """,
)
def join_right_outer(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -900)
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "o_orderkey", "c_name"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT a.n_nationkey AS left_key, b.s_suppkey AS right_key
    FROM (SELECT n_nationkey FROM nation WHERE n_nationkey < 15) a
    FULL JOIN (SELECT s_suppkey, s_nationkey FROM supplier) b
      ON a.n_nationkey = b.s_nationkey
    """,
)
def join_full_outer(spark, sf_dir):
    n = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 15)
        .select("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        F.col("n_nationkey").alias("left_key"), F.col("s_suppkey").alias("right_key")
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_semi(spark, sf_dir):
    """Hive LEFT SEMI JOIN / EXISTS rewrite."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 450000)
    """,
)
def join_left_anti(spark, sf_dir):
    """NOT EXISTS rewrite. The anti side filters to >450k orders
    (round 13): every fixture customer has SOME order, so the
    unfiltered anti-join returned 0 rows and the driver row certified
    only schema — now ~1/3 of customers survive at every SF and both
    legs are load-bearing."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation WHERE n_nationkey < 5
    """,
)
def join_cross(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, p_partkey
    FROM supplier JOIN part
      ON s_acctbal < p_retailprice AND p_retailprice - s_acctbal < 10
    """,
)
def join_theta_range(spark, sf_dir):
    """Non-equi (range) join → broadcast-nested-loop. Scale note: BNL is
    O(n·m); at 100 TB a band join like this must be bucketized — see
    `asof_join_events` for the bucketed pattern. No broadcast hint:
    `part` is a fact-sized table, so a forced hint would bypass AQE's
    size check and OOM executors at scale (VERDICT r1 #3); Spark picks
    BNL with the statistically smaller side on its own."""
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    cond = (s.s_acctbal < p.p_retailprice) & ((p.p_retailprice - s.s_acctbal) < 10)
    return s.join(p, cond).select("s_suppkey", "p_partkey")


@query(
    "asof_join_events",
    oracle="""
    WITH orders_ts AS (
      SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey,
           epoch_us((SELECT MAX(e.ts) FROM events e
             WHERE e.user_id = o_custkey % 50 AND e.ts <= o_orderdate + INTERVAL 10000 DAYS
           )) AS last_event_us
    FROM orders_ts
    ORDER BY o_orderkey
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join [N]: for each order, the latest event of the matching
    user at-or-before a reference time. Implemented as equi-join on the
    entity key + max-over-time — the scalable composition (shuffle on
    user_id only); a naive approach would be a per-row range scan.

    At 100 TB the same shape holds: join keyed on entity, per-key
    aggregation, no cross product. (The +10000-day offset makes the 2024
    events fall in range of 1990s orderdates in this synthetic data.)
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 50).alias("user_key"),
            (F.col("o_orderdate") + F.expr("INTERVAL 10000 DAYS")).alias("cutoff"),
        )
    )
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    joined = o.join(e, (o.user_key == e.user_id) & (e.ts <= o.cutoff), "left")
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_event_us")
        )
        .orderBy("o_orderkey")
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT l_returnflag, flag_desc, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN (VALUES ('A', 'returned-accepted'), ('R', 'returned'), ('N', 'kept'))
         AS d(flag, flag_desc) ON l_returnflag = flag
    GROUP BY 1, 2
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-handling pattern [N]: joining a fact table on a 3-value hot
    key would put ~1/3 of all rows in each of 3 shuffle partitions. The
    salted form appends salt ∈ [0,16) to the fact key and explodes the
    dim side 16× — the shuffle spreads over 48 partitions, then the
    aggregate removes the salt. Result is salt-invariant (oracle proves
    it). At 100 TB this (or AQE skew-join, enabled in session.py) is the
    difference between 3 stragglers and uniform tasks."""
    n_salt = 16
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt))
    )
    dim = spark.createDataFrame(
        [("A", "returned-accepted"), ("R", "returned"), ("N", "kept")],
        "flag string, flag_desc string",
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    return (
        li.join(dim, (li.l_returnflag == dim.flag) & (li.salt == dim.salt))
        .groupBy("l_returnflag", "flag_desc")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "join_bucketed_colocate",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           TRUE AS colocated_no_exchange
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocate(spark, sf_dir):
    """BUCKETED CO-LOCATED fact-fact join — the bucketing strategy that
    makes a repeated 100 TB lineitem-orders join shuffle-FREE: both
    sides are written `bucketBy(8, orderkey).sortBy(orderkey)`, so the
    sort-merge join reads bucket i against bucket i directly — no
    Exchange, no Sort, on either side, ever again for any join on that
    key. `colocated_no_exchange` is computed FROM THE PHYSICAL PLAN of
    the join (broadcast disabled, merge hint) and pinned TRUE by the
    oracle — a regression that reintroduces a shuffle flips the row
    red. The aggregate after the join shuffles only the group keys, as
    any engine must. (The same assertion runs as a plan unit test; this
    row makes it a driver-checked contract.)"""
    import uuid

    from hiveberg_spark.plans import explain_str

    tag = uuid.uuid4().hex[:10]
    li_name, o_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    try:
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable(li_name)
        o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable(o_name)
        a, b = spark.table(li_name), spark.table(o_name)
        with conf_override(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            joined = a.hint("merge").join(b, a.l_orderkey == b.o_orderkey)
            no_exchange = "Exchange" not in explain_str(joined, "simple")
            return (
                joined.groupBy("o_orderpriority")
                .agg(
                    F.count("*").cast("long").alias("n_items"),
                    F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                    .cast("double")
                    .alias("sum_qty"),
                )
                .withColumn("colocated_no_exchange", F.lit(bool(no_exchange)))
                # eager localCheckpoint severs lineage from the catalog
                # tables: DROP TABLE below cascades cache invalidation, so
                # a plain persist would recompute against deleted files
                .localCheckpoint()
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_name}")
        spark.sql(f"DROP TABLE IF EXISTS {o_name}")


_RANGE_BAND = 1.0  # price band half-width == bucket width


@query(
    "join_range_bucketed",
    oracle=f"""
    SELECT a.p_brand AS brand_a, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(ABS(a.p_retailprice - b.p_retailprice), 6)
                          AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_gap,
           TRUE AS no_nl_join
    FROM part a JOIN part b
      ON a.p_partkey < b.p_partkey
     AND ABS(a.p_retailprice - b.p_retailprice) <= {_RANGE_BAND}
    GROUP BY a.p_brand
    """,
)
def join_range_bucketed(spark, sf_dir):
    """BUCKETED RANGE JOIN — the scale path for interval/band joins
    that Catalyst would otherwise run as BroadcastNestedLoop (compare
    `join_theta_range`, which registers the naive plan): each row maps
    to bucket floor(price/W) with W = the band width, the LEFT side
    expands to its 3 adjacent buckets (one explode), and the band
    predicate becomes an EQUI-join on bucket plus an exact residual
    filter — every true pair shares one of the probed buckets, so the
    rewrite is lossless (oracle = the plain theta join), while the
    candidate space drops from |A| x |B| to sum of bucket products —
    the difference between impossible and routine at 100 TB.
    `no_nl_join` pins, from the physical plan, that no nested-loop or
    cartesian operator survived. Gap values are rounded to 6 dp before
    the DECIMAL sum so the per-brand average is order-free."""
    from hiveberg_spark.plans import explain_str

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    b = F.floor(F.col("p_retailprice") / _RANGE_BAND).cast("long")
    left = p.select(
        F.col("p_partkey").alias("ka"),
        F.col("p_brand").alias("brand_a"),
        F.col("p_retailprice").alias("pa"),
        F.explode(F.array(b - 1, b, b + 1)).alias("bk"),
    )
    right = p.select(
        F.col("p_partkey").alias("kb"),
        F.col("p_retailprice").alias("pb"),
        b.alias("bk"),
    )
    pairs = left.join(right, "bk").filter(
        (F.col("ka") < F.col("kb"))
        & (F.abs(F.col("pa") - F.col("pb")) <= _RANGE_BAND)
    )
    no_nl = True
    plan = explain_str(pairs, "simple")
    if "NestedLoop" in plan or "Cartesian" in plan:
        no_nl = False
    return (
        pairs.groupBy("brand_a")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            # exact DECIMAL sum, then ONE double division+round — the
            # final type is DOUBLE on both sides (a DECIMAL result here
            # vs DuckDB's DOUBLE division is the r8 data_card hash
            # class; the round-10 Decimal-strict harness flagged it)
            F.round(
                F.sum(
                    F.round(F.abs(F.col("pa") - F.col("pb")), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_gap"),
        )
        .withColumn("no_nl_join", F.lit(bool(no_nl)))
    )


# -- as-of join with staleness tolerance (round 9) -----------------------------------

_ASOF_TOL_DAYS = 9900  # max staleness: reference time minus this many days


@query(
    "asof_join_tolerance",
    oracle=f"""
    WITH orders_ts AS (
      SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey,
           epoch_us((SELECT MAX(e.ts) FROM events e
             WHERE e.user_id = o_custkey % 50
               AND e.ts <= o_orderdate + INTERVAL 10000 DAYS
               AND e.ts > o_orderdate + INTERVAL 10000 DAYS
                          - INTERVAL {_ASOF_TOL_DAYS} DAYS
           )) AS last_event_us,
           ((SELECT MAX(e.ts) FROM events e
             WHERE e.user_id = o_custkey % 50
               AND e.ts <= o_orderdate + INTERVAL 10000 DAYS
               AND e.ts > o_orderdate + INTERVAL 10000 DAYS
                          - INTERVAL {_ASOF_TOL_DAYS} DAYS) IS NULL)
             AS stale_miss
    FROM orders_ts
    ORDER BY o_orderkey
    """,
)
def asof_join_tolerance(spark, sf_dir):
    """AS-OF join with STALENESS TOLERANCE [N] — the form sensor-fusion
    and feature-serving pipelines actually need: `asof_join_events`
    takes the latest match however old, but a feature older than the
    tolerance window is a data-quality miss, not a match, so rows whose
    only candidates are older than {_ASOF_TOL_DAYS} days surface as
    explicit NULL + `stale_miss` instead of silently joining ancient
    state. Same scalable composition as the base op (equi-join on the
    entity key + max-over-time, shuffle on user_id only) — the
    tolerance is one extra pushed-down range conjunct that PRUNES the
    join input at scale rather than widening it."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 50).alias("user_key"),
            (F.col("o_orderdate") + F.expr("INTERVAL 10000 DAYS")).alias(
                "cutoff"
            ),
        )
        .withColumn(
            "floor_ts",
            F.col("cutoff") - F.expr(f"INTERVAL {_ASOF_TOL_DAYS} DAYS"),
        )
    )
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    joined = o.join(
        e,
        (o.user_key == e.user_id)
        & (e.ts <= o.cutoff)
        & (e.ts > o.floor_ts),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.unix_micros(F.max("ts").cast("timestamp")).alias(
                "last_event_us"
            ),
            F.max("ts").isNull().alias("stale_miss"),
        )
        .orderBy("o_orderkey")
    )


#: nearest-join symmetric tolerance (days either side of the anchor)
_NEAREST_TOL_DAYS = 9900


@query(
    "asof_join_nearest",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey % 50 AS user_key,
             o_orderdate + INTERVAL 10000 DAY AS anchor
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    cand AS (
      SELECT o.o_orderkey,
             epoch_us(e.ts) AS ts_us,
             ABS(epoch_us(e.ts) - epoch_us(o.anchor)) AS gap_us,
             CASE WHEN epoch_us(e.ts) > epoch_us(o.anchor)
                  THEN 1 ELSE 0 END AS is_after
      FROM o LEFT JOIN events e
        ON o.user_key = e.user_id
       AND e.ts >= o.anchor - INTERVAL {_NEAREST_TOL_DAYS} DAY
       AND e.ts <= o.anchor + INTERVAL {_NEAREST_TOL_DAYS} DAY
    )
    SELECT o_orderkey,
           arg_min(ts_us, gap_us * 2 + is_after) AS nearest_event_us,
           CAST(MIN(gap_us) AS BIGINT) AS gap_us
    FROM cand GROUP BY o_orderkey
    """,

)
def asof_join_nearest(spark, sf_dir):
    """NEAREST-event as-of join [N] — completes the as-of family
    (backward = `asof_join_events`, backward-with-staleness =
    `asof_join_tolerance`): match each anchor to its user's CLOSEST
    event in EITHER direction, bounded by a symmetric tolerance that
    keeps the join input pruned. Tie between an earlier and a later
    event at the same distance breaks toward the EARLIER one via the
    encoded ordering key gap*2 + is_after (exact integer arithmetic,
    identical both engines). Scale: equi-join on the entity key with
    two pushed range conjuncts + one keyed min_by aggregate — the same
    shape as the rest of the family, no window."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 50).alias("user_key"),
            (F.col("o_orderdate") + F.expr("INTERVAL 10000 DAYS")).alias(
                "anchor"
            ),
        )
    )
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    lo = F.col("anchor") - F.expr(f"INTERVAL {_NEAREST_TOL_DAYS} DAYS")
    hi = F.col("anchor") + F.expr(f"INTERVAL {_NEAREST_TOL_DAYS} DAYS")
    j = o.join(
        e,
        (o.user_key == e.user_id) & (e.ts >= lo) & (e.ts <= hi),
        "left",
    ).select(
        "o_orderkey",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("anchor").cast("timestamp")).alias("anchor_us"),
    )
    gap = F.abs(F.col("ts_us") - F.col("anchor_us"))
    is_after = (F.col("ts_us") > F.col("anchor_us")).cast("long")
    return (
        j.select(
            "o_orderkey",
            "ts_us",
            gap.alias("gap_us"),
            (gap * 2 + is_after).alias("ordk"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.min_by("ts_us", "ordk").alias("nearest_event_us"),
            F.min("gap_us").alias("gap_us"),
        )
    )


# -- bucketed interval-overlap join (round 10) ---------------------------------------


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT o.o_custkey, l.l_orderkey AS okey,
             MIN(CAST(l.l_shipdate AS DATE)) AS s,
             MAX(CAST(l.l_shipdate AS DATE)) AS e
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT a.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(date_diff('day', greatest(a.s, b.s),
                              least(a.e, b.e)) + 1) AS BIGINT)
             AS max_overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.okey < b.okey
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1
    """,
)
def join_interval_overlap(spark, sf_dir):
    """INTERVAL-OVERLAP self-join, bucket-blocked: per customer, pairs
    of their orders whose ship windows [min shipdate, max shipdate]
    overlap — the temporal-conflict primitive (double-bookings,
    concurrent sessions, overlapping leases). The naive form is a
    theta-join on s1<=e2 AND s2<=e1, which Spark can only execute as a
    nested loop. Here each interval EXPLODES to the fixed-width time
    BUCKETS it covers and pairs equi-join on (custkey, bucket) —
    candidates are only bucket-co-resident intervals (BroadcastHash/
    SortMerge-able, AQE-skew-splittable), the overlap predicate
    verifies exactly, and dropDuplicates absorbs multi-bucket
    double-matches. Correct at ANY width: an overlapping pair always
    co-resides in the bucket containing the LATER start, so no width
    can lose a pair — width only trades explosion factor against cell
    size. The width must track the INTERVAL scale (the classic
    interval-join banding rule): this fixture's ship windows span a
    median ~210 weeks, so week-granularity buckets exploded 147k
    intervals into 28.4M rows and 40s of join; 128-week buckets hold
    the explosion at ~2.7x (sub-second, measured round 12, PERF.md).
    Candidate space is sum-of-bucket-squares, never all-pairs — the
    same blocking posture as dedup's LSH families."""
    from hiveberg_spark.caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("timestamp").cast("date").alias("sd")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    iv = persist_tracked(
        li.groupBy("l_orderkey")
        .agg(F.min("sd").alias("s"), F.max("sd").alias("e"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", F.col("l_orderkey").alias("okey"), "s", "e")
    )  # consumed by both sides of the pair join
    epoch = F.to_date(F.lit("1970-01-01"))
    bucket_days = 7 * 128  # bucket width ~ interval scale (docstring)
    exp = iv.withColumn(
        "wk",
        F.explode(
            F.sequence(
                F.floor(F.datediff("s", epoch) / bucket_days),
                F.floor(F.datediff("e", epoch) / bucket_days),
            )
        ),
    )
    a = exp.select(
        "o_custkey",
        F.col("okey").alias("k1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        "wk",
    )
    b = exp.select(
        F.col("o_custkey").alias("ck_b"),
        F.col("okey").alias("k2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
        F.col("wk").alias("wk_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("o_custkey") == F.col("ck_b"))
            & (F.col("wk") == F.col("wk_b"))
            & (F.col("k1") < F.col("k2")),
        )
        .filter((F.col("s1") <= F.col("e2")) & (F.col("s2") <= F.col("e1")))
        .dropDuplicates(["k1", "k2"])
    )
    overlap = (
        F.datediff(F.least("e1", "e2"), F.greatest("s1", "s2")) + 1
    ).cast("long")
    return pairs.groupBy("o_custkey").agg(
        F.count("*").alias("n_pairs"),
        F.max(overlap).alias("max_overlap_days"),
    )
