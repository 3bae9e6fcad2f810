"""The per-commit stream driver behind the tick-driven registry queries
(`run_per_commit`, `stream_workspace`, `_write_ticks_ordered`): one
micro-batch per snapshot commit, an atomically written cursor, and a
workspace that is gone once the query returns or raises."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from hiveberg_spark import registry
from hiveberg_spark.operators import snapshot_stream
from hiveberg_spark.operators.snapshot_stream import (
    _appended,
    _write_ticks_ordered,
    run_per_commit,
    stream_workspace,
)
from hiveberg_spark.testing import compare

registry.load_all()


def test_write_ticks_ordered_mtimes_strictly_increase(tmp_path):
    tick_dir = str(tmp_path / "ticks")
    os.makedirs(tick_dir)
    _write_ticks_ordered(tick_dir, [11, 12, 13])
    mtimes = [
        os.path.getmtime(os.path.join(tick_dir, f"tick_{sid}.parquet"))
        for sid in (11, 12, 13)
    ]
    assert mtimes[0] < mtimes[1] < mtimes[2], mtimes


def _three_appends(spark, base):
    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable.create(spark, os.path.join(base, "t"), schema="id long")
    sids = [t.append(spark.range(i * 10, i * 10 + n)) for i, n in enumerate((1, 2, 3))]
    return t, sids


def test_stream_per_commit_ranges_carry_on_range_values(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    seen = []
    with stream_workspace("hbs_rpc_test") as base:
        t, sids = _three_appends(spark, base)

        def on_range(lo, hi):
            seen.append((lo, hi))
            return _appended(t, lo, hi).count()

        ranges = run_per_commit(spark, base, sids, on_range)
        s1, s2, s3 = sids
        assert seen == [(0, s1), (s1, s2), (s2, s3)]
        # each range applies exactly that commit's appended rows
        assert ranges == [(0, s1, 1), (s1, s2, 2), (s2, s3, 3)]
        assert glob.glob(os.path.join(base, "*.tmp")) == []
    assert glob.glob(str(tmp_path / "hbs_*")) == []


def test_stream_workspace_removed_when_on_range_raises(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def on_range(lo, hi):
        if lo > 0:
            raise RuntimeError("on_range failed on the second range")

    with pytest.raises(Exception, match="second range"):
        with stream_workspace("hbs_rpc_test") as base:
            _t, sids = _three_appends(spark, base)
            run_per_commit(spark, base, sids, on_range)
    assert glob.glob(str(tmp_path / "hbs_*")) == []


@pytest.mark.parametrize(
    "name", ["stream_changelog_source", "text_bm25_stream_refresh"]
)
def test_stream_query_rerun_after_failure_matches_oracle(
    spark, sf_dir, duck, tmp_path, monkeypatch, name
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def failing(spark, base, sids, on_range):
        def flaky(lo, hi):
            if lo > 0:
                raise RuntimeError("injected failure on the second range")
            return on_range(lo, hi)

        return run_per_commit(spark, base, sids, flaky)

    monkeypatch.setattr(snapshot_stream, "run_per_commit", failing)
    with pytest.raises(Exception, match="injected failure"):
        registry.QUERIES[name](spark, sf_dir)
    assert glob.glob(str(tmp_path / "hbs_*")) == []

    monkeypatch.setattr(snapshot_stream, "run_per_commit", run_per_commit)
    result = registry.QUERIES[name](spark, sf_dir)
    problems = compare(result, duck.sql(registry.ORACLES[name]).df())
    assert not problems, f"{name}: " + "; ".join(problems)
    assert glob.glob(str(tmp_path / "hbs_*")) == []


@pytest.mark.parametrize(
    "name",
    [
        "stream_upsert_sink",
        "stream_scd_enrichment",
        "stream_branch_wap",
        "stream_bot_rate_monitor",
        "stream_late_data_policy",
    ],
)
def test_stream_query_leaves_no_workspace(
    spark, sf_dir, duck, tmp_path, monkeypatch, name
):
    from hiveberg_spark.streaming.events import _stream_input_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    # the events landing dir is a per-fixture cache that every
    # events_stream call shares, not a per-call workspace
    cache = _stream_input_dir(sf_dir)
    result = registry.QUERIES[name](spark, sf_dir)
    assert glob.glob(str(tmp_path / "hbs_*")) == [cache]
    # the result is read only after its workspace is gone
    problems = compare(result, duck.sql(registry.ORACLES[name]).df())
    assert not problems, f"{name}: " + "; ".join(problems)
