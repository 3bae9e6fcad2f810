"""Physical-plan assertions: the reference's scan-level optimizations
(predicate pushdown, projection pushdown — README.md:59-65) and our
scale posture (broadcasts, top-k without global sort, codegen) verified
against actual Catalyst plans."""

from __future__ import annotations

import pytest

from hiveberg_spark import registry
from hiveberg_spark.plans import (
    explain_str,
    pushed_filters,
    read_schema_columns,
    assert_whole_stage_codegen,
)
from hiveberg_spark.session import conf_override

registry.load_all()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    # parity: IcebergInputFormat.java:94-107 pushes the SARG to the scan
    df = registry.QUERIES["filter_between"](spark, sf_dir)
    fs = pushed_filters(df)
    assert any("l_quantity" in f and "GreaterThanOrEqual" in f for f in fs), fs
    assert any("l_quantity" in f and "LessThanOrEqual" in f for f in fs), fs


def test_projection_pushdown_prunes_columns(spark, sf_dir):
    # parity: ColumnProjectionUtils read-column list
    # (IcebergInputFormat.java:87) — 2-column select reads ≤2 columns
    df = registry.QUERIES["projection_pushdown"](spark, sf_dir)
    schemas = read_schema_columns(df)
    assert schemas and all(
        set(cols) <= {"l_orderkey", "l_extendedprice"} for cols in schemas
    ), schemas


def test_q1_scan_prunes_to_needed_columns(spark, sf_dir):
    df = registry.QUERIES["q1_pricing_summary"](spark, sf_dir)
    (cols,) = read_schema_columns(df)
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q3_topk_avoids_global_sort(spark, sf_dir):
    plan = explain_str(registry.QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = explain_str(registry.QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]


def test_correlated_exists_becomes_semi_join(spark, sf_dir):
    plan = explain_str(registry.QUERIES["subquery_correlated_exists"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_partition_pruning_in_partitioned_write(spark, sf_dir):
    df = registry.QUERIES["partitioned_write_prune"](spark, sf_dir)
    plan = explain_str(df)
    # directory-partition filter appears as PartitionFilters on the scan
    assert "l_returnflag" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    for name in ("q1_pricing_summary", "q6_forecast_revenue", "filter_bool_tree"):
        assert_whole_stage_codegen(registry.QUERIES[name](spark, sf_dir))


def test_epoch_shuffle_single_data_exchange(spark, sf_dir):
    """The global permutation must cost exactly ONE full-data shuffle
    (the range partition — the floor for a total order). A regression to
    Window.partitionBy would add a second hashpartitioning exchange of
    the full rows; the only hash exchanges allowed are the 8-row
    per-partition count aggregation feeding the broadcast offsets."""
    plan = explain_str(registry.QUERIES["sample_epoch_shuffle"](spark, sf_dir))
    assert plan.count("rangepartitioning") >= 1, plan
    # no Window operator over the full data (positions decode from
    # monotonically_increasing_id); the offsets window runs on 8 rows
    # inside the aggregate branch, after the count aggregation
    row_path = plan.split("BroadcastExchange")[0]
    assert "hashpartitioning" not in row_path, row_path


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_conf_override_restores_a_set_or_unset_key(spark):
    key = "spark.hbs.test.override"
    with conf_override(spark, key, "a"):
        with conf_override(spark, key, "b"):
            assert spark.conf.get(key) == "b"
        assert spark.conf.get(key) == "a"
    assert spark.conf.get(key, None) is None


@pytest.mark.parametrize(
    "name,key,value",
    [
        ("join_bucketed_colocate", "spark.sql.autoBroadcastJoinThreshold", "1048576"),
        ("snapshot_table_properties", "spark.sql.adaptive.coalescePartitions.enabled", "false"),
        ("snapshot_zorder_table", "spark.sql.adaptive.coalescePartitions.enabled", "false"),
    ],
)
def test_query_keeps_the_session_conf_it_overrides(
    spark, sf_dir, tmp_path, monkeypatch, name, key, value
):
    # a fresh fixture dir, so the table builders that override run here
    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    with conf_override(spark, key, value):
        registry.QUERIES[name](spark, sf_dir).collect()
        assert spark.conf.get(key) == value


def test_no_forced_broadcast_on_fact_tables():
    # VERDICT r1 #3 / r2 #5: a forced broadcast hint bypasses AQE's size
    # check — at 100× scale that OOMs executors. Hints are allowed ONLY
    # on fixed-cardinality dimensions (nation/region, 25/5 rows at any
    # SF) and deliberately tiny derived frames (query sets, centroid
    # tables, vocabulary DF). Every SF-scaling table — including
    # supplier, the smallest — must go through AQE (it still broadcasts
    # wherever it fits the threshold).
    import os
    import re

    allowed = {
        "n", "nation", "region", "r", "sn", "cn",  # fixed-size dims
        "q", "qe", "cents", "df_", "offsets",        # tiny derived frames
        "qcents", "qc0",  # quantized centroid frames: k rows (k cells)
        "fb",      # RM3 feedback set: exactly 10 doc ids by construction
        "planes_df",                                 # 1-row literal plane matrix
        "tot",                                       # 1-row totals aggregate (DSIR)
        "spine",   # hour spine: one row per hour in the corpus range
        "days",    # day spine: one row per active DAY (calendar-bounded)
        "sizes",   # cohort sizes: one row per cohort DAY
        "luts",    # ADC lookup tables: queries × probed cells rows
        # metadata-sized frames: O(live data files), the same scale as
        # the manifests themselves — never O(rows)
        "seq_df",                                    # file -> sequence number map
        "live_paths", "live_df",                     # live file-path lists
        "sidmap",   # delete-file path -> commit id (position_deletes)
        "map_df",   # file -> (first_row_id, seq) map (row lineage)
        "stats",    # one-row corpus (N, V) scalars (perplexity proxy)
        "boiler",   # boilerplate segments: DF>=3 vocabulary, bounded
        # recall-contract truth query sets: _RECALL_SEEDS (200) rows +
        # the 20 plants — fixed cardinality at ANY SF by construction
        "seeds",
        "cells",    # CMS bucket sums: exactly _CMS_W rows per hash row
        "mom",      # CUPED pooled moments: one-row aggregate
        "level_row",  # water-filling level: one-row aggregate
        "bounds",   # churn temporal cutoff: one-row aggregate
        "thr",      # DSIR keep threshold: one-row aggregate (k-th pair)
        "th",       # tercile thresholds: one-row aggregate (upsampling)
        "vocab",    # OOV audit vocabulary: top-K rows, K=200 constant
        "lang_sizes",  # per-language counts + offsets: #languages rows
        "nu",       # user-count scalar: one-row aggregate (uplift deciles)
        "lall",     # corpus log-mass scalar: one-row aggregate (KL drift)
        "mx",       # stream fixture anchor (max ts): one-row aggregate
        "src_sizes",  # per-source counts + offsets: #sources rows
        "pad_sorted", "pad_naive",  # batching pad totals: one-row aggs
        "thresholds",  # curriculum tercile boundaries: one-row aggregate
        "clicks_row", "purch_row",  # windowed-funnel counts: one-row aggs
        "corpus",   # distinctive-terms corpus token total: one-row agg
        "mxday",    # corpus max-day anchor: one-row aggregate (RFM, KM)
        "wedges_row", "tri_row",  # triangle-count scalars: one-row aggs
        "tt_row", "bt_row",  # PMI token/bigram totals: one-row aggs
        "ws", "lagd",  # 3-row literal sweep frames (windows/lags)
        "xk_row",  # Hill tail anchor: one row from an 11-row head
        "fr",  # 4-row literal keep-fraction frame (tradeoff curve)
    }
    ops_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "hiveberg_spark",
    )
    offenders = []
    for root, _, files in os.walk(ops_dir):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            src = open(os.path.join(root, fn)).read()
            for m in re.finditer(r"F\.broadcast\((\w+)\)", src):
                if m.group(1) not in allowed:
                    offenders.append(f"{fn}: F.broadcast({m.group(1)})")
    assert not offenders, offenders


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing parity [N scale posture]: two tables bucketed on the
    join key by the same bucket count join WITHOUT a shuffle exchange —
    the co-located join strategy for repeated fact-fact joins at scale."""
    from hiveberg_spark.catalog import load_table
    from hiveberg_spark.plans import explain_str

    # session warehouse dir is a temp dir (conftest) — saveAsTable is safe
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("o_bucketed")
    a = spark.table("li_bucketed")
    b = spark.table("o_bucketed")
    try:
        with conf_override(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            joined = a.join(b, a.l_orderkey == b.o_orderkey)
            joined.collect()
            plan = explain_str(joined, "simple")
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_mor_scan_plan_pushdown_and_broadcast_only(spark, tmp_path_factory):
    """Merge-on-read scan shape at scale: the residual filter still
    reaches the parquet scan (pushdown survives the _metadata lineage
    projection), and every delete-application join is a BROADCAST join
    — the data side is never shuffled (an Exchange hashpartitioning on
    the fact side would be a 100 TB regression)."""
    import os

    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    wh = str(tmp_path_factory.mktemp("morplan"))
    t = SnapshotTable.create(spark, os.path.join(wh, "t"))
    t.append(spark.range(0, 5000).selectExpr("id", "cast(id % 7 as long) k"))
    t.delete_where("id < 10", mode="merge-on-read")
    t.delete_by_keys(spark.createDataFrame([(5,)], "k long"))
    df = t.scan(virtual_column=None).filter("id > 2500")
    fs = pushed_filters(df)
    assert any("id" in f and "GreaterThan" in f for f in fs), fs
    plan = explain_str(df)
    # position + equality anti-joins (formatted explain lists each join
    # once in the tree and once in the detail section)
    assert plan.count("Join type: LeftAnti") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    # the only exchanges are the broadcast of the (tiny) delete sets
    import re

    non_broadcast = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert not non_broadcast, non_broadcast


def test_hashed_classifier_stays_jvm_side(spark, sf_dir):
    # the quality gate must be pure JVM expressions with map-side
    # partial aggregation — no Python eval anywhere in the plan
    plan = explain_str(
        registry.QUERIES["text_hashed_classifier"](spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan[:1500]


def test_transition_matrix_single_events_pass(spark, sf_dir):
    # one user-keyed window + one partial-aggregated count; never a
    # self-join of events against itself
    plan = explain_str(
        registry.QUERIES["events_transition_matrix"](spark, sf_dir)
    )
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_no_cartesian_product(spark, sf_dir):
    # candidate pairs come from the cell-equality join only — a
    # cartesian in this plan would be the O(n^2) bug at 100 TB
    plan = explain_str(registry.QUERIES["dedup_semdedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]


def test_substring_spans_jvm_side_no_cartesian(spark, sf_dir):
    # ExactSubstr coverage must be pure JVM (windowing + higher-order
    # transform, never Python eval) and the dup-window probe must be a
    # semi join on the gram hash, never an all-pairs product
    plan = explain_str(registry.QUERIES["dedup_substring_spans"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, plan[:2000]


def test_registry_window_integrity():
    # the driver hard-checks the FIRST 50 of queries(): every window
    # name must resolve to a registered query, the window must be
    # exactly 50, and the deferred rotation must be disjoint + valid —
    # a retired/renamed query must fail HERE, not in the driver run
    registry.load_all()
    assert len(registry.DRIVER_WINDOW) == 50
    assert len(set(registry.DRIVER_WINDOW)) == 50
    missing_w = [n for n in registry.DRIVER_WINDOW if n not in registry.QUERIES]
    assert not missing_w, missing_w
    missing_d = [
        n for n in registry.DEFERRED_TO_NEXT_WINDOW if n not in registry.QUERIES
    ]
    assert not missing_d, missing_d
    assert not set(registry.DRIVER_WINDOW) & set(registry.DEFERRED_TO_NEXT_WINDOW)
    ordered = registry.window_ordered(registry.QUERIES)
    assert list(ordered)[:50] == registry.DRIVER_WINDOW
    # every registered query has an oracle (zero rows-only is this
    # repo's standing contract since round 6)
    assert set(registry.QUERIES) == set(registry.ORACLES)
