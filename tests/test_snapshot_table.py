"""Unit tests for the snapshot-table source — mirrors the reference's
e2e scenarios (file:line cites against /root/reference/src/test/...)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hiveberg_spark.session import conf_override
from hiveberg_spark.sources.snapshot_table import (
    SnapshotTable,
    resolve_table,
    _split_top_level_and,
)


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _simple_df(spark, rows):
    # the reference's `simple` fixture: (id long, data string)
    # (TestHelpers.java:109-116; FIXTURES.md A1)
    return spark.createDataFrame(rows, "id long, data string")


def test_empty_table_scans_as_zero_rows(spark, warehouse):
    # TestInputFormatWithEmptyTable.java:61-79
    t = SnapshotTable.create(spark, os.path.join(warehouse, "empty"))
    assert t.scan().count() == 0


def test_append_and_scan_all_rows_once(spark, warehouse):
    # TestInputFormatWithMultipleTasks.java:85-107: multi-append, every
    # row surfaced exactly once, every row carries snapshot__id
    t = SnapshotTable.create(spark, os.path.join(warehouse, "simple"))
    t.append(_simple_df(spark, [(1, "Michael"), (2, "Andy"), (3, "Berta")]))
    t.append(_simple_df(spark, [(4, "Xavier")]))
    rows = t.scan().orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3, 4]
    assert all(r["snapshot__id"] == 2 for r in rows)


def test_time_travel_by_snapshot_id(spark, warehouse):
    # TestReadSnapshotTable.java:139-166
    t = SnapshotTable.create(spark, os.path.join(warehouse, "tt"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    assert t.scan(snapshot_id=1).count() == 1
    assert t.scan(snapshot_id=2).count() == 2
    assert t.scan().count() == 3
    # isolation: time travel must not contaminate the next scan
    # (TestReadSnapshotTable.java:158-165)
    _ = t.scan(snapshot_id=1).collect()
    assert t.scan().count() == 3


def test_unknown_snapshot_id_raises(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "bad"))
    t.append(_simple_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.scan(snapshot_id=99)


def test_virtual_column_rename(spark, warehouse):
    # SystemTableUtil.java:51-58; TestReadSnapshotTable.java:169-193
    t = SnapshotTable.create(spark, os.path.join(warehouse, "vc"))
    t.append(_simple_df(spark, [(1, "a")]))
    df = t.scan(virtual_column="my_version")
    assert "my_version" in df.columns and "snapshot__id" not in df.columns
    df2 = t.scan(virtual_column=None)
    assert df2.columns == ["id", "data"]


def test_snapshots_metadata_table(spark, warehouse):
    # SnapshotIterable.java:48-57: committed_at, snapshot_id, parent_id,
    # operation, manifest_list, summary
    t = SnapshotTable.create(spark, os.path.join(warehouse, "meta"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert snaps[0].parent_id is None and snaps[1].parent_id == 1
    assert all(s.operation == "append" for s in snaps)
    assert all(s.committed_at > 0 for s in snaps)
    assert all(s.manifest_list for s in snaps)
    assert snaps[0].summary["added-records"] == "2"


def test_resolve_table_suffix_convention(spark, warehouse):
    # TableResolverUtil.java:39-41,72-85,93-100
    t = SnapshotTable.create(spark, os.path.join(warehouse, "base"))
    t.append(_simple_df(spark, [(1, "a")]))
    data = resolve_table(spark, warehouse, "base")
    assert data.count() == 1
    snaps = resolve_table(spark, warehouse, "base__snapshots")
    assert snaps.columns[:2] == ["committed_at", "snapshot_id"]
    # opt-out: suffix treated as a literal table name
    # (iceberg.snapshots.table=false, TableResolverUtil.java:40,73-78)
    lit_table = SnapshotTable.create(spark, os.path.join(warehouse, "x__snapshots"))
    lit_table.append(_simple_df(spark, [(9, "z")]))
    df = resolve_table(spark, warehouse, "x__snapshots", snapshots_table_enabled=False)
    assert df.select("id").first().id == 9


def test_where_shim_top_level_conjunct_only(spark, warehouse):
    # IcebergInputFormat.java:288-299 — but stricter: only a top-level
    # conjunct `snapshot__id = N` triggers time travel (SURVEY.md §7)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "shim"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    df = t.scan_where("snapshot__id = 1 AND id >= 1")
    assert df.count() == 1 and df.first()["snapshot__id"] == 1
    # a snapshot__id buried under OR is NOT honored as time travel; it's
    # an ordinary filter on the virtual column of the current snapshot
    df2 = t.scan_where("snapshot__id = 1 OR id = 2")
    assert sorted(r.id for r in df2.collect()) == [2]


def test_split_top_level_and():
    assert _split_top_level_and("a = 1 AND (b = 2 OR c = 3) AND d = 4") == [
        "a = 1",
        "(b = 2 OR c = 3)",
        "d = 4",
    ]
    assert _split_top_level_and("x = 1") == ["x = 1"]


def test_split_top_level_and_mixed_case_and_literals():
    # ADVICE fix: the reference's SARG walk is case-insensitive — 'And'
    # and 'aNd' must split too
    assert _split_top_level_and("snapshot__id = 2 And x > 1") == [
        "snapshot__id = 2",
        "x > 1",
    ]
    assert _split_top_level_and("a = 1 aNd b = 2") == ["a = 1", "b = 2"]
    # ...but an AND inside a string literal is data, not an operator
    assert _split_top_level_and("name = 'BRAND AND BOLD' AND id = 1") == [
        "name = 'BRAND AND BOLD'",
        "id = 1",
    ]
    # SQL '' escape keeps the literal open
    assert _split_top_level_and("name = 'it''s AND stays' AND id = 1") == [
        "name = 'it''s AND stays'",
        "id = 1",
    ]
    # AND as part of an identifier must not split
    assert _split_top_level_and("brand = 1") == ["brand = 1"]


def test_where_shim_mixed_case_and_time_travels(spark, warehouse):
    # the exact silent-wrong-answer scenario from ADVICE: 'And' between
    # the snapshot conjunct and a residual must still time-travel
    t = SnapshotTable.create(spark, os.path.join(warehouse, "shim2"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    df = t.scan_where("snapshot__id = 1 And id >= 1")
    assert df.count() == 1 and df.first()["snapshot__id"] == 1


def test_empty_table_keeps_declared_schema(spark, warehouse):
    # ADVICE fix: empty scan surfaces the declared schema, not an
    # invented `id` column (reference keeps the DDL schema,
    # TestInputFormatWithEmptyTable.java:61-79)
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "empty2"), schema="k long, v string"
    )
    df = t.scan()
    assert df.count() == 0
    assert df.columns == ["k", "v", "snapshot__id"]
    # selecting a declared column works (previously AnalysisException)
    assert df.select("v").count() == 0
    # schema is also adopted from the first append when not declared
    t2 = SnapshotTable.create(spark, os.path.join(warehouse, "empty3"))
    t2.append(_simple_df(spark, [(1, "a")]))
    assert [f.name for f in t2.schema().fields] == ["id", "data"]


def test_append_concurrent_handles_no_lost_commits(spark, warehouse):
    # ADVICE fix: two appends through independent handles (simulating two
    # processes) must both land — the second may not clobber the first
    loc = os.path.join(warehouse, "cas")
    t1 = SnapshotTable.create(spark, loc)
    t2 = SnapshotTable.load(spark, t1.location) if False else SnapshotTable(spark, loc)
    t1.append(_simple_df(spark, [(1, "a")]))
    t2.append(_simple_df(spark, [(2, "b")]))  # stale handle, fresh meta read
    assert t1.scan().count() == 2
    assert [s.snapshot_id for s in t1.snapshots().collect()] == [1, 2]


def test_time_travel_by_timestamp(spark, warehouse):
    # FOR SYSTEM_TIME AS OF semantics over pinned commit times
    t = SnapshotTable.create(spark, os.path.join(warehouse, "ts"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1_000)
    t.append(_simple_df(spark, [(2, "b")]), committed_at=2_000)
    t.append(_simple_df(spark, [(3, "c")]), committed_at=3_000)
    assert t.scan(as_of_timestamp_ms=2_500).count() == 2
    assert t.scan(as_of_timestamp_ms=3_000).count() == 3  # inclusive
    assert t.snapshot_id_as_of(1_000) == 1
    with pytest.raises(ValueError, match="no snapshot"):
        t.scan(as_of_timestamp_ms=999)
    with pytest.raises(ValueError, match="not both"):
        t.scan(snapshot_id=1, as_of_timestamp_ms=2_500)


def test_rename_column_resolves_old_files(spark, warehouse):
    # name-mapping log: pre-rename files resolve through the mapping
    # (field-id-free equivalent of Iceberg schema resolution)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "ren"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("data", "payload")
    t.append(
        spark.createDataFrame([(3, "c")], "id long, payload string")
    )
    rows = {r.id: r.payload for r in t.scan().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}
    # time travel before the rename still reads through the CURRENT schema
    old = t.scan(snapshot_id=1)
    assert "payload" in old.columns and "data" not in old.columns
    # chained rename collapses (a→b then b→c)
    t.rename_column("payload", "content")
    assert {r.id: r.content for r in t.scan().collect()} == {1: "a", 2: "b", 3: "c"}
    # declared schema tracks the rename
    assert "content" in [f.name for f in t.schema().fields]


def test_expire_snapshots_prefix(spark, warehouse):
    """expire_snapshots (Iceberg maintenance): expired ids leave the
    time-travel surface; the oldest survivor consolidates into a
    self-contained replaces manifest; append-only history deletes no
    data files (everything is still referenced by survivors)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "expire1"))
    for i, ts in enumerate([1000, 2000, 3000, 4000]):
        t.append(_simple_df(spark, [(i, f"r{i}")]), committed_at=ts)
    before = {tuple(r) for r in t.scan(virtual_column=None).collect()}
    res = t.expire_snapshots(older_than_ms=3000)
    assert res == {"expired_snapshots": 2, "deleted_files": 0}
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == before
    assert {r.snapshot_id for r in t.snapshots().collect()} == {3, 4}
    # survivors time-travel intact, expired ids raise
    assert t.scan(snapshot_id=3, virtual_column=None).count() == 3
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.scan(snapshot_id=1)
    # and the table still commits normally afterwards
    t.append(_simple_df(spark, [(9, "z")]))
    assert t.scan(virtual_column=None).count() == 5


def test_expire_snapshots_deletes_orphaned_files(spark, warehouse):
    """Files only referenced by expired history (pre-compaction
    fragments) are physically deleted; files the survivors reference
    stay."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "expire2"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)
    t.append(_simple_df(spark, [(2, "b")]), committed_at=2000)
    t.compact(committed_at=3000)  # rewrites the live set
    t.append(_simple_df(spark, [(3, "c")]), committed_at=4000)

    def n_data_files():
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(t.location)
        )

    before_files = n_data_files()
    res = t.expire_snapshots(older_than_ms=2500)
    assert res["expired_snapshots"] == 2
    assert res["deleted_files"] >= 1  # the pre-compaction fragments
    assert n_data_files() == before_files - res["deleted_files"]
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }
    assert t.scan(snapshot_id=3, virtual_column=None).count() == 2


def test_expire_snapshots_interleaved(spark, warehouse):
    """An expired snapshot BETWEEN survivors: every survivor whose
    additive walk would cross the deleted manifest is consolidated, so
    all surviving as-of reads stay exact."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "expire3"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)  # expires
    t.append(_simple_df(spark, [(2, "b")]), committed_at=5000)  # survives
    t.append(_simple_df(spark, [(3, "c")]), committed_at=1500)  # expires
    t.append(_simple_df(spark, [(4, "d")]), committed_at=5000)  # survives
    asof2 = {tuple(r) for r in t.scan(snapshot_id=2, virtual_column=None).collect()}
    asof4 = {tuple(r) for r in t.scan(snapshot_id=4, virtual_column=None).collect()}
    res = t.expire_snapshots(older_than_ms=3000)
    assert res["expired_snapshots"] == 2
    assert {
        tuple(r) for r in t.scan(snapshot_id=2, virtual_column=None).collect()
    } == asof2
    assert {
        tuple(r) for r in t.scan(snapshot_id=4, virtual_column=None).collect()
    } == asof4
    assert {r.snapshot_id for r in t.snapshots().collect()} == {2, 4}


def test_branch_write_audit_publish(spark, warehouse):
    """Iceberg branches (round-4): commits on a branch chain from the
    branch head and never touch main until fast_forward publishes —
    the write-audit-publish workflow. The lineage-based manifest walk
    keeps branch and main live sets fully independent even though their
    snapshot ids interleave."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "wap"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)  # s1 main
    t.create_branch("audit")
    t.append(
        _simple_df(spark, [(2, "b")]), committed_at=2000, branch="audit"
    )  # s2 on branch
    # main is untouched; the branch sees base + branch commit
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1}
    assert {r.id for r in t.scan(ref="audit", virtual_column=None).collect()} == {
        1,
        2,
    }
    assert t.refs() == {"audit": 2}
    # a second branch commit chains from the branch head
    t.append(
        _simple_df(spark, [(3, "c")]), committed_at=3000, branch="audit"
    )  # s3
    assert {r.id for r in t.scan(ref="audit", virtual_column=None).collect()} == {
        1,
        2,
        3,
    }
    # unpublished branch commits are invisible to main's timestamp travel
    assert t.snapshot_id_as_of(3500) == 1
    # publish: fast-forward main to the branch head
    new_current = t.fast_forward("audit", published_at=5000)
    assert new_current == 3
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1, 2, 3}
    # published commits enter timestamp travel AT THE PUBLISH INSTANT
    # (Iceberg snapshot-log semantics, ADVICE r4): between their
    # original commit time and publish, main still held s1 — travel to
    # then must NOT surface branch state main never held
    assert t.snapshot_id_as_of(2500) == 1
    assert t.snapshot_id_as_of(4999) == 1
    assert t.snapshot_id_as_of(5000) == 3
    # history() reports made_current_at = publish time for published
    # commits, original committed_at for main-line ones
    hist = {r.snapshot_id: r.made_current_at for r in t.history().collect()}
    assert hist[1] == 1000 and hist[2] == 5000 and hist[3] == 5000


def test_branch_dml_write_audit_publish(spark, warehouse):
    """COW DML on a branch (round-5): delete/update/merge plan against
    the branch HEAD and move only the branch ref; main is byte-stable
    until fast_forward, after which it reads the audited result. The
    carried-file walk stays branch-lineage-accurate through replacing
    commits."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "dmlwap"))
    t.append(
        _simple_df(spark, [(1, "a"), (2, "b"), (3, "c")]), committed_at=1000
    )  # s1
    t.create_branch("audit")
    t.delete_where("id = 2", committed_at=2000, branch="audit")  # s2
    t.update_where(
        "id = 1", {"data": "'A'"}, committed_at=3000, branch="audit"
    )  # s3
    src = spark.createDataFrame([(3, "C"), (4, "d")], "id int, data string")
    t.merge_upsert(src, keys=["id"], committed_at=4000, branch="audit")  # s4
    # main untouched through all three DML ops
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }
    # the branch sees the full audited result
    assert {
        tuple(r) for r in t.scan(ref="audit", virtual_column=None).collect()
    } == {(1, "A"), (3, "C"), (4, "d")}
    t.fast_forward("audit", published_at=9000)
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == {
        (1, "A"),
        (3, "C"),
        (4, "d"),
    }
    # pre-publish instants still travel to pre-branch state
    assert t.snapshot_id_as_of(8999) == 1


def test_branch_dml_conflicts_with_concurrent_branch_commit(spark, warehouse):
    """DML-on-branch carries the same lost-update protection as main:
    a branch commit landing between planning and lock acquisition
    raises CommitConflictError instead of silently dropping it."""
    from hiveberg_spark.sources.snapshot_table import CommitConflictError

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dmlconf"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]), committed_at=1000)
    t.create_branch("audit")
    # simulate the race: plan the delete against the branch head, then
    # land another branch commit before the delete's _commit runs
    plan = t._cow_split("id = 1", branch="audit")
    t.append(_simple_df(spark, [(9, "z")]), committed_at=2000, branch="audit")
    with pytest.raises(CommitConflictError):
        t._commit(
            plan.affected_df.filter("id != 1"),
            "delete",
            3000,
            replaces=True,
            carry=plan.carry,
            expected_parent=plan.parent,
            branch="audit",
        )
    # DML on a nonexistent branch refuses up front
    with pytest.raises(ValueError, match="no such branch"):
        t.delete_where("id = 1", branch="ghost")


def test_branch_diverged_main_refuses_fast_forward(spark, warehouse):
    """Fast-forward is fast-forward-ONLY: if main moved after the fork,
    publishing raises instead of silently dropping main's commits; main
    commits after the fork never leak into the branch view."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "wap2"))
    t.append(_simple_df(spark, [(1, "a")]))  # s1
    t.create_branch("audit")
    t.append(_simple_df(spark, [(2, "b")]), branch="audit")  # s2 branch
    t.append(_simple_df(spark, [(3, "c")]))  # s3 main: diverged
    # id-interleaved histories stay separate in both directions
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1, 3}
    assert {r.id for r in t.scan(ref="audit", virtual_column=None).collect()} == {
        1,
        2,
    }
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("audit")
    # branch commits stay out of main's incremental read surface
    assert sorted(r.id for r in t.scan_changes(1, 3).collect()) == [3]


def test_branch_head_survives_expiry_via_consolidation(spark, warehouse):
    """Expiring the branch's fork base consolidates the branch head
    (chain-based shielding), so the branch keeps reading correctly."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "wap3"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)  # s1
    t.create_branch("audit")
    t.append(
        _simple_df(spark, [(2, "b")]), committed_at=5000, branch="audit"
    )  # s2
    t.append(_simple_df(spark, [(3, "c")]), committed_at=5000)  # s3 main
    res = t.expire_snapshots(older_than_ms=3000)  # expires s1 only
    assert res["expired_snapshots"] == 1
    assert {r.id for r in t.scan(ref="audit", virtual_column=None).collect()} == {
        1,
        2,
    }
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1, 3}


def test_history_metadata_table(spark, warehouse):
    """Iceberg `history` table: every snapshot's commit time plus
    is_current_ancestor — a rollback makes the rolled-past snapshots
    NON-ancestors while they stay time-travelable."""
    from hiveberg_spark.sources.snapshot_table import resolve_table

    t = SnapshotTable.create(spark, os.path.join(warehouse, "hist"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)
    t.append(_simple_df(spark, [(2, "b")]), committed_at=2000)
    t.append(_simple_df(spark, [(3, "c")]), committed_at=3000)
    h = {r.snapshot_id: r.is_current_ancestor for r in t.history().collect()}
    assert h == {1: True, 2: True, 3: True}
    t.rollback_to(1, committed_at=4000)
    h = {r.snapshot_id: r.is_current_ancestor for r in t.history().collect()}
    # snapshots 2,3 were rolled past: not ancestors of the current state
    assert h[1] is True and h[4] is True
    assert h[2] is False and h[3] is False
    assert {r.made_current_at for r in t.history().collect()} == {
        1000,
        2000,
        3000,
        4000,
    }
    # __history suffix resolution
    hv = resolve_table(spark, warehouse, "hist__history")
    assert hv.columns == [
        "made_current_at",
        "snapshot_id",
        "parent_id",
        "is_current_ancestor",
    ]


def test_tags_name_snapshots_and_survive_expiry(spark, warehouse):
    """Iceberg tags: named read-only refs — resolvable for time travel,
    listed in refs(), retained by expire_snapshots regardless of age,
    droppable (after which expiry can reclaim the snapshot)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "tags"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)
    t.append(_simple_df(spark, [(2, "b")]), committed_at=2000)
    t.create_tag("v1.0", snapshot_id=1)
    t.append(_simple_df(spark, [(3, "c")]), committed_at=3000)
    assert t.refs() == {"v1.0": 1}
    assert t.resolve_ref("v1.0") == 1
    assert t.scan(snapshot_id=t.resolve_ref("v1.0"), virtual_column=None).count() == 1
    with pytest.raises(ValueError, match="no such ref"):
        t.resolve_ref("ghost")
    with pytest.raises(ValueError, match="already exists"):
        t.create_tag("v1.0")
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.create_tag("bad", snapshot_id=99)
    # expiry retains the tagged snapshot 1 but reclaims untagged 2
    res = t.expire_snapshots(older_than_ms=2500)
    assert res["expired_snapshots"] == 1
    assert {r.snapshot_id for r in t.snapshots().collect()} == {1, 3}
    assert t.scan(snapshot_id=1, virtual_column=None).count() == 1
    # drop the tag → the snapshot becomes expirable
    t.drop_tag("v1.0")
    assert t.expire_snapshots(older_than_ms=2500)["expired_snapshots"] == 1
    assert {r.snapshot_id for r in t.snapshots().collect()} == {3}
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }


def test_snapshot_ids_never_reused_after_expiry(spark, warehouse):
    """Snapshot ids come from a persisted monotonic counter (Iceberg's
    last-sequence-number pattern, ADVICE r4): after expire_snapshots
    removes the max-id snapshot, the next commit must NOT re-issue its
    id — a reused id would silently re-point scan(snapshot_id=N), old
    tags, and incremental-read ranges at different data."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "noreuse"))
    t.append(_simple_df(spark, [(1, "a")]), committed_at=1000)  # s1
    t.append(_simple_df(spark, [(2, "b")]), committed_at=2000)  # s2
    t.append(_simple_df(spark, [(3, "c")]), committed_at=9000)  # s3 current
    # roll back so s3 leaves the current line, then expire it away:
    # rollback (s4) becomes current; s3 is old enough and untagged
    t.rollback_to(2, committed_at=9500)  # s4
    t.expire_snapshots(older_than_ms=9400)
    live = {r.snapshot_id for r in t.snapshots().collect()}
    assert 4 in live and 3 not in live  # max-id s3 was expired
    new_id = t.append(_simple_df(spark, [(5, "e")]), committed_at=9600)
    assert new_id == 5  # monotonic counter: never re-issues 3


def test_drop_ref_type_checks(spark, warehouse):
    """drop_tag refuses branches and drop_branch refuses tags (ADVICE
    r4: silently deleting a writable branch orphans its unpublished
    commits); drop_branch is the explicit abandon path."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "refty"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.create_tag("v1")
    t.create_branch("audit")
    with pytest.raises(ValueError, match="is a branch, not a tag"):
        t.drop_tag("audit")
    with pytest.raises(ValueError, match="is a tag, not a branch"):
        t.drop_branch("v1")
    with pytest.raises(ValueError, match="no such ref"):
        t.drop_tag("ghost")
    t.drop_branch("audit")
    t.drop_tag("v1")
    assert t.refs() == {}


def test_partition_values_format_independent(spark, warehouse):
    """Manifest partition values are LOGICAL values regardless of file
    format (ADVICE r4): a space (which Hive escapePathName leaves
    literal, but quote(safe='') used to turn into %20) must be recorded
    identically for parquet and avro identity-partitioned tables, and a
    ':' (escaped %3A on disk by BOTH writers) must parse back to ':'."""
    vals = [(1, "with space"), (2, "a:b"), (3, "plain")]
    recorded = {}
    for fmt in ("parquet", "avro"):
        t = SnapshotTable.create(
            spark,
            os.path.join(warehouse, f"pvals_{fmt}"),
            partition_spec=[("identity", "data", None)],
            file_format=fmt,
        )
        t.append(_simple_df(spark, vals))
        meta = t._read_meta()
        entries = t._raw_entries_as_of(meta, meta["current_snapshot_id"])
        recorded[fmt] = sorted(
            pa["_p_data"] for _, _, pa in entries if pa
        )
        got = {(r.id, r.data) for r in t.scan(virtual_column=None).collect()}
        assert got == set(vals), fmt
    assert recorded["parquet"] == recorded["avro"] == [
        "a:b",
        "plain",
        "with space",
    ]


def test_sql_version_as_of_tag(spark, warehouse):
    """`VERSION AS OF '<tag>'` resolves through the refs metadata in the
    SQL rewriter — the string form Iceberg's SQL surface accepts."""
    from hiveberg_spark.sources.sql_timetravel import sql_with_time_travel

    t = SnapshotTable.create(spark, os.path.join(warehouse, "sqltag"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    t.create_tag("release", snapshot_id=1)
    out = sql_with_time_travel(
        spark,
        warehouse,
        "SELECT COUNT(*) AS n FROM sqltag VERSION AS OF 'release'",
    )
    assert out.first().n == 1


def test_drop_column_projects_away_everywhere(spark, warehouse):
    """drop_column (Iceberg UpdateSchema.deleteColumn): metadata-only,
    projected away at scan for current reads AND time travel; DML after
    the drop rewrites without the column; partition sources refuse."""
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "dropcol"),
        schema="id long, data string, extra double",
    )
    t.append(
        spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], t.schema())
    )
    t.drop_column("extra")
    cur = t.scan(virtual_column=None)
    assert cur.columns == ["id", "data"]
    assert {tuple(r) for r in cur.collect()} == {(1, "a"), (2, "b")}
    # time travel reads through the CURRENT schema
    assert t.scan(snapshot_id=1, virtual_column=None).columns == ["id", "data"]
    # declared schema tracks the drop; appends use the narrowed schema
    assert [f.name for f in t.schema().fields] == ["id", "data"]
    t.append(_simple_df(spark, [(3, "c")]))
    assert {tuple(r) for r in t.scan(virtual_column=None).collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
    }
    # DML rewrite across pre-drop files does not resurrect the column
    t.update_where("id = 1", {"data": "upper(data)"})
    got = t.scan(virtual_column=None)
    assert got.columns == ["id", "data"]
    assert {tuple(r) for r in got.collect()} == {(1, "A"), (2, "b"), (3, "c")}
    # validations
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("ghost")
    tp = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "dropcol_part"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    with pytest.raises(ValueError, match="partition source"):
        tp.drop_column("id")


def test_manifest_sharded_per_snapshot(spark, warehouse):
    # commit writes O(this-commit) metadata: per-snapshot manifest files,
    # not a full file-history rewrite (ARCHITECTURE.md scale note)
    import json as _json

    t = SnapshotTable.create(spark, os.path.join(warehouse, "shard"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    meta = t._read_meta()
    assert all("added_files" not in s for s in meta["snapshots"])
    for s in meta["snapshots"]:
        with open(os.path.join(t.location, s["manifest"])) as f:
            files = _json.load(f)["files"]
        assert files and all(f.endswith(".parquet") for f in files)


def test_scan_pushdown_reaches_parquet(spark, warehouse):
    # the reference's headline optimization (README.md:59-65) — verify
    # our snapshot scan preserves DSv2 filter/projection pushdown
    from hiveberg_spark.plans import pushed_filters, read_schema_columns

    t = SnapshotTable.create(spark, os.path.join(warehouse, "push"))
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(100)]))
    df = t.scan(virtual_column=None).filter(F.col("id") > 50).select("id")
    assert any("id" in f for f in pushed_filters(df))
    assert read_schema_columns(df) == [["id"]]


def test_scan_changes_incremental(spark, warehouse):
    # appends-between semantics: (from, to] delta only; empty delta OK
    t = SnapshotTable.create(spark, os.path.join(warehouse, "cdc"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b"), (3, "c")]))
    t.append(_simple_df(spark, [(4, "d")]))
    delta = t.scan_changes(1, 2)
    assert sorted(r.id for r in delta.collect()) == [2, 3]
    assert all(r["snapshot__id"] == 2 for r in delta.collect())
    assert t.scan_changes(2).count() == 1  # to current
    assert t.scan_changes(3, 3).count() == 0  # empty delta
    with pytest.raises(ValueError):
        t.scan_changes(9)


def test_overwrite_replaces_contents_history_preserved(spark, warehouse):
    # Iceberg operation=overwrite: new snapshot sees only the new data;
    # earlier snapshots stay time-travelable
    t = SnapshotTable.create(spark, os.path.join(warehouse, "ow"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_simple_df(spark, [(9, "z")]))
    assert sorted(r.id for r in t.scan().collect()) == [9]
    assert sorted(r.id for r in t.scan(snapshot_id=1).collect()) == [1, 2]
    ops = {s.snapshot_id: s.operation for s in t.snapshots().collect()}
    assert ops == {1: "append", 2: "overwrite"}
    t.append(_simple_df(spark, [(10, "y")]))
    assert sorted(r.id for r in t.scan().collect()) == [9, 10]


def test_compact_coalesces_files_preserves_contents(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "cmp"))
    for i in range(4):  # 4 appends → >= 4 files
        t.append(_simple_df(spark, [(i, f"r{i}")]).repartition(2))
    before_files, _ = t._files_as_of(None)
    before = sorted(map(tuple, t.scan(virtual_column=None).collect()))
    sid = t.compact()
    after_files, _ = t._files_as_of(None)
    after = sorted(map(tuple, t.scan(virtual_column=None).collect()))
    assert after == before                      # contents identical
    assert len(after_files) < len(before_files)  # fewer files
    assert t.snapshots().filter(f"snapshot_id = {sid}").first().operation == "replace"
    # pre-compaction history still readable
    assert len(t.scan(snapshot_id=2).collect()) == 2


def test_incremental_read_rejects_rewrite_range(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "cdc2"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.overwrite(_simple_df(spark, [(2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    with pytest.raises(ValueError, match="append-only"):
        t.scan_changes(1, 3)
    assert sorted(r.id for r in t.scan_changes(2, 3).collect()) == [3]


# -- min/max file pruning (Iceberg manifest-pruning analog) ---------------


def _three_range_appends(spark, warehouse, name="pruned", file_format="parquet"):
    """3 appends with disjoint id ranges, one file each → 3 prunable files."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, name), file_format=file_format
    )
    t.append(_simple_df(spark, [(i, f"lo{i}") for i in range(0, 10)]).coalesce(1))
    t.append(_simple_df(spark, [(i, f"mid{i}") for i in range(10, 20)]).coalesce(1))
    t.append(_simple_df(spark, [(i, f"hi{i}") for i in range(20, 30)]).coalesce(1))
    return t


def test_plan_files_prunes_by_min_max(spark, warehouse):
    t = _three_range_appends(spark, warehouse)
    assert len(t.plan_files()) == 3
    assert len(t.plan_files("id < 10")) == 1
    assert len(t.plan_files("id >= 20")) == 1
    assert len(t.plan_files("id = 15")) == 1
    assert len(t.plan_files("id <= 10")) == 2
    assert len(t.plan_files("id > 9 AND id < 20")) == 1
    assert len(t.plan_files("id = 100")) == 0
    # string stats prune too
    assert len(t.plan_files("data = 'mid12'")) == 1


def test_plan_files_prunes_orc_by_min_max(spark, warehouse):
    """ORC-backed tables prune EXACTLY like parquet (round-4; reference
    contract: Iceberg manifest stats are format-independent,
    IcebergInputFormat.java:94-107). ORC stats come from one distributed
    aggregation per commit (_collect_file_stats_distributed), not
    footers — same manifest shape, same evaluator."""
    t = _three_range_appends(spark, warehouse, name="pruned_orc", file_format="orc")
    assert len(t.plan_files()) == 3
    assert len(t.plan_files("id < 10")) == 1
    assert len(t.plan_files("id >= 20")) == 1
    assert len(t.plan_files("id = 15")) == 1
    assert len(t.plan_files("id <= 10")) == 2
    assert len(t.plan_files("id > 9 AND id < 20")) == 1
    assert len(t.plan_files("id = 100")) == 0
    assert len(t.plan_files("data = 'mid12'")) == 1
    # and pruning never changes results on the ORC table either
    for where in ["id < 10", "id = 15", "data = 'hi21'", "id % 2 = 0"]:
        pruned = {tuple(r) for r in t.scan_where(where).collect()}
        full = {
            tuple(r)
            for r in t.scan(virtual_column="snapshot__id")
            .filter(F.expr(where))
            .collect()
        }
        assert pruned == full, where


def test_orc_temporal_stats_prune(spark, warehouse):
    """Timestamp bounds from the distributed ORC stats path use the same
    canonical fixed-width strings as parquet footers, so temporal
    predicates prune ORC files (ADVICE r2 regression area)."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "orc_ts"), file_format="orc"
    )
    for mo in (1, 2, 3):
        t.append(
            spark.sql(
                f"SELECT id, timestamp'2024-0{mo}-15 12:00:00' + "
                f"make_interval(0,0,0,0,0,0,id) AS ts FROM range(5)"
            ).coalesce(1)
        )
    assert len(t.plan_files()) == 3
    assert len(t.plan_files("ts < TIMESTAMP '2024-02-01'")) == 1
    assert len(t.plan_files("ts >= TIMESTAMP '2024-03-01'")) == 1
    assert (
        len(
            t.plan_files(
                "ts >= TIMESTAMP '2024-02-01' AND ts < TIMESTAMP '2024-03-01'"
            )
        )
        == 1
    )
    got = t.scan_where("ts < TIMESTAMP '2024-02-01'").count()
    assert got == 5


def test_pruning_never_changes_results(spark, warehouse):
    t = _three_range_appends(spark, warehouse)
    for where in ["id < 10", "id >= 25", "id = 15", "id > 5 AND id < 25",
                  "id % 2 = 0", "data = 'hi21'", "id + 0 = 3"]:
        pruned = {tuple(r) for r in t.scan_where(where).collect()}
        full = {
            tuple(r) for r in t.scan(virtual_column="snapshot__id")
            .filter(F.expr(where)).collect()
        }
        assert pruned == full, where


def test_unparseable_conjuncts_do_not_prune(spark, warehouse):
    t = _three_range_appends(spark, warehouse)
    # expression left side / arithmetic / OR trees: conservative keep-all
    assert len(t.plan_files("id % 2 = 0")) == 3
    assert len(t.plan_files("(id < 5 OR id > 25)")) == 3
    assert len(t.plan_files("abs(id) = 3")) == 3


def test_pruning_stats_free_manifest_keeps_all(spark, warehouse):
    import json as _json

    t = _three_range_appends(spark, warehouse, "nostats")
    # simulate a pre-stats (round-1) manifest: strip the stats key
    for s in t._read_meta()["snapshots"]:
        p = os.path.join(t.location, s["manifest"])
        m = _json.load(open(p))
        m.pop("stats", None)
        _json.dump(m, open(p, "w"))
    assert len(t.plan_files("id < 10")) == 3  # no stats → no pruning
    assert t.scan_where("id < 10").count() == 10  # results still right


def test_pruning_follows_renames(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "renamed")
    t.rename_column("id", "ident")
    # predicate on the NEW name prunes files whose stats were written
    # under the OLD name (rename-log resolution, Iceberg field-id analog)
    assert len(t.plan_files("ident < 10")) == 1
    got = sorted(r.ident for r in t.scan_where("ident < 10").collect())
    assert got == list(range(10))


def test_all_files_pruned_yields_empty_with_schema(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "allpruned")
    df = t.scan_where("id > 1000")
    assert df.count() == 0
    assert "id" in df.columns and "data" in df.columns


# -- hidden partitioning (Iceberg PartitionSpec analog) -------------------


def test_hidden_partitioning_bucket_prunes_equality(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "bucketed"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple_df(spark, [(i, f"row{i}") for i in range(40)]))
    # scan schema is HIDDEN-clean: no _p_ helper columns surface
    assert t.scan(virtual_column=None).columns == ["id", "data"]
    assert t.scan(virtual_column=None).count() == 40
    total = len(t.plan_files())
    assert total >= 4  # one file set per bucket dir
    planned = t.plan_files("id = 7")
    assert 0 < len(planned) < total
    got = t.scan_where("id = 7").collect()
    assert len(got) == 1 and got[0].id == 7 and got[0].data == "row7"


def test_hidden_partitioning_truncate_tightens_minmax(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "truncated"),
        schema="id long, data string",
        partition_spec=[("truncate", "id", 10)],
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(30)]))
    # clustering makes footer bounds per file tight → range pruning
    # falls out of the existing min/max evaluator with no extra code
    assert len(t.plan_files("id < 10")) < len(t.plan_files())
    assert t.scan_where("id < 10").count() == 10


def test_hidden_partitioning_survives_rename(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "buckren"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(20)]))
    t.rename_column("id", "ident")
    # pre-rename files: bucket pruning goes conservative (dir names carry
    # the old field name) but results stay correct under the NEW name
    got = t.scan_where("ident = 3").collect()
    assert len(got) == 1 and got[0].ident == 3
    # post-rename appends partition under the new source name and prune
    from pyspark.sql import functions as F  # noqa: F811

    t.append(
        spark.createDataFrame([(100, "new")], "ident long, data string")
    )
    assert len(t.plan_files("ident = 100")) < len(t.plan_files())


def test_hidden_partitioning_day_transform(spark, warehouse):
    df = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(12)],
        "id long, d string",
    ).select("id", F.col("d").cast("date").alias("d"))
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "daily"),
        schema="id long, d date",
        partition_spec=[("day", "d", None)],
    )
    t.append(df)
    assert t.scan(virtual_column=None).count() == 12
    assert len(t.plan_files()) >= 3  # one file group per day


# -- copy-on-write row-level delete ---------------------------------------


def test_delete_where_copy_on_write_carries_untouched_files(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "delcow")
    before = set(t.plan_files())
    sid = t.delete_where("id >= 20")
    assert sid == 4
    assert sorted(r.id for r in t.scan(virtual_column=None).collect()) == list(
        range(20)
    )
    # the two unaffected range files carried BY REFERENCE (same paths);
    # only the matching file left the live set
    after = set(t.plan_files())
    assert len(before & after) == 2 and len(after) == 2
    # history stays time-travelable with pre-delete contents
    assert t.scan(snapshot_id=3, virtual_column=None).count() == 30
    assert t.snapshots().filter("operation = 'delete'").count() == 1


def test_delete_where_partial_file_rewrite(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "delpart")
    t.delete_where("id >= 25")  # splits the hi file: 20-24 survive
    got = sorted(r.id for r in t.scan(virtual_column=None).collect())
    assert got == list(range(25))


def test_delete_where_null_predicate_rows_survive(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "delnull"))
    t.append(_simple_df(spark, [(1, "x"), (2, None), (3, "y")]))
    t.delete_where("data = 'x'")
    # SQL DELETE: NULL-predicate rows are NOT deleted
    assert sorted(r.id for r in t.scan(virtual_column=None).collect()) == [2, 3]


def test_delete_on_bucketed_table_rewrites_one_bucket(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "delbuck"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(40)]))
    before = set(t.plan_files())
    matching = set(t.plan_files("id = 7"))
    t.delete_where("id = 7")
    after = set(t.plan_files())
    # every non-matching-bucket file carried by reference
    assert (before - matching) <= after
    assert t.scan(virtual_column=None).count() == 39
    assert t.scan_where("id = 7").count() == 0


def test_delete_nothing_matches_is_noop_snapshot(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "delnoop")
    t.delete_where("id > 1000")
    assert t.scan(virtual_column=None).count() == 30
    assert len(t.plan_files()) == 3  # all carried, nothing rewritten


# -- copy-on-write UPDATE and MERGE ---------------------------------------


def test_update_where_copy_on_write(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "upd")
    before = set(t.plan_files())
    t.update_where("id < 10", {"data": "concat(data, '!')", "id": "id + 100"})
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows[100] == "lo0!" and rows[109] == "lo9!"  # old row visible to both
    assert rows[15] == "mid15" and rows[25] == "hi25"  # untouched
    assert len(rows) == 30
    after = set(t.plan_files())
    assert len(before & after) == 2  # two files carried by reference
    # history preserved
    assert t.scan(snapshot_id=3, virtual_column=None).count() == 30


def test_update_where_null_predicate_rows_unchanged(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "updnull"))
    t.append(_simple_df(spark, [(1, "x"), (2, None)]))
    t.update_where("data = 'x'", {"data": "'X'"})
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows == {1: "X", 2: None}


def test_merge_upsert_prunes_by_source_bounds(spark, warehouse):
    t = _three_range_appends(spark, warehouse, "merge")
    before = set(t.plan_files())
    source = _simple_df(spark, [(12, "updated12"), (99, "inserted99")])
    t.merge_upsert(source, keys=["id"])
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows[12] == "updated12"  # matched → replaced
    assert rows[99] == "inserted99"  # unmatched → inserted
    assert rows[5] == "lo5" and rows[25] == "hi25"  # untouched rows stay
    assert len(rows) == 31
    # source bounds are [12, 99] → the lo file (0-9) carried by reference
    after = set(t.plan_files())
    assert len(before & after) >= 1


def test_merge_upsert_into_bucketed_table(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "mergebuck"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(20)]))
    t.merge_upsert(_simple_df(spark, [(3, "R3"), (50, "R50")]), keys=["id"])
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows[3] == "R3" and rows[50] == "R50" and len(rows) == 21


# -- SQL DML dispatch ------------------------------------------------------


def test_sql_dml_statements(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dml"))
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(10)]))

    out = execute_sql(spark, warehouse, "DELETE FROM dml WHERE id >= 8")
    assert out.collect()[0].operation == "delete"
    assert t.scan(virtual_column=None).count() == 8

    execute_sql(
        spark, warehouse,
        "UPDATE dml SET data = concat(data, '!') WHERE id BETWEEN 2 AND 3",
    )
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows[2] == "r2!" and rows[3] == "r3!" and rows[4] == "r4"

    _simple_df(spark, [(0, "merged0"), (50, "merged50")]).createOrReplaceTempView(
        "dml_delta"
    )
    execute_sql(
        spark, warehouse,
        "MERGE INTO dml USING dml_delta ON dml.id = dml_delta.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    rows = {r.id: r.data for r in t.scan(virtual_column=None).collect()}
    assert rows[0] == "merged0" and rows[50] == "merged50" and len(rows) == 9

    # SELECT falls through to the time-travel-aware path
    n = execute_sql(
        spark, warehouse, "SELECT COUNT(*) AS n FROM dml VERSION AS OF 1"
    ).collect()[0].n
    assert n == 10


def test_sql_dml_update_without_where_touches_all(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dmlall"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    execute_sql(spark, warehouse, "UPDATE dmlall SET data = upper(data)")
    assert {r.data for r in t.scan(virtual_column=None).collect()} == {"A", "B"}


def test_rollback_is_metadata_only_and_preserves_history(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "rb"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    files_before = set(t._files_as_of(None)[0])
    sid = t.rollback_to(1)
    assert sid == 3
    # contents restored to snapshot 1
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1, 2}
    # metadata-only: live files are a subset of pre-rollback files
    assert set(t._files_as_of(None)[0]) <= files_before
    # rolled-past snapshot still time-travelable
    assert t.scan(snapshot_id=2, virtual_column=None).count() == 3
    # building forward from the rolled-back state
    t.append(_simple_df(spark, [(9, "z")]))
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {1, 2, 9}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.rollback_to(99)


def test_files_metadata_table(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "ft"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(_simple_df(spark, [(9, "z")]))
    rows = t.files().collect()
    assert len(rows) == len(t._files_as_of(None)[0])
    assert {r.added_snapshot_id for r in rows} == {1, 2}
    by_snap = {}
    for r in rows:
        by_snap.setdefault(r.added_snapshot_id, []).append(r)
        assert not os.path.isabs(r.file_path)  # location-relative
        assert r.file_format == "parquet"  # per-file format attribute
    # manifest bounds surface as readable strings
    snap2 = [r for r in by_snap[2] if r.lower_bounds.get("id")]
    assert any(r.lower_bounds["id"] == "9" and r.upper_bounds["id"] == "9" for r in snap2)
    # as-of view: only snapshot 1's files
    assert {r.added_snapshot_id for r in t.files(snapshot_id=1).collect()} == {1}
    # a delete rewrites affected files but carries untouched ones with
    # their original adder
    t.delete_where("id = 9")
    rows3 = t.files().collect()
    assert {r.added_snapshot_id for r in rows3} <= {1, 3}
    # empty table: schema-stable empty frame
    e = SnapshotTable.create(spark, os.path.join(warehouse, "ftempty"))
    assert e.files().count() == 0


def test_files_suffix_resolution(spark, warehouse):
    from hiveberg_spark.sources.snapshot_table import resolve_table

    t = SnapshotTable.create(spark, os.path.join(warehouse, "fr"))
    t.append(_simple_df(spark, [(1, "a")]))
    df = resolve_table(spark, warehouse, "fr__files")
    assert df.columns[:4] == [
        "content", "file_path", "file_format", "added_snapshot_id",
    ]
    assert df.count() == 1


# -- round-3 ADVICE regressions ---------------------------------------------


def test_replacing_commit_conflicts_on_concurrent_append(spark, warehouse):
    # ADVICE r2: a replacing commit planned before a concurrent append
    # must raise, not silently drop the appended files from its manifest
    from hiveberg_spark.sources.snapshot_table import CommitConflictError

    t = SnapshotTable.create(spark, os.path.join(warehouse, "race"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    plan = t._cow_split("id = 1")
    survivors = plan.affected_df.filter(~F.expr("id = 1").eqNullSafe(F.lit(True)))
    # an append lands between planning and the metadata swap
    t.append(_simple_df(spark, [(9, "z")]))
    with pytest.raises(CommitConflictError):
        t._commit(
            survivors,
            "delete",
            None,
            replaces=True,
            carry=plan.carry,
            expected_parent=plan.parent,
        )
    # the table is untouched: both the original and concurrent rows live
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 9]
    # a re-planned delete then succeeds and keeps the concurrent append
    t.delete_where("id = 1")
    assert sorted(r.id for r in t.scan().collect()) == [2, 9]


def test_update_where_preserves_committed_column_types(spark, warehouse):
    # ADVICE r2: an assignment whose expression widens the type (int
    # arithmetic overflowing to bigint) must not produce rewritten files
    # whose schema diverges from carried files
    t = SnapshotTable.create(spark, os.path.join(warehouse, "types"))
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, v int")
    t.append(df)
    t.append(spark.createDataFrame([(3, 30)], "id long, v int"))
    t.update_where("id = 3", {"v": "v + CAST(1 AS BIGINT)"})
    scanned = t.scan(virtual_column=None)
    assert dict(scanned.dtypes)["v"] == "int"
    assert sorted((r.id, r.v) for r in scanned.collect()) == [
        (1, 10),
        (2, 20),
        (3, 31),
    ]


def test_merge_upsert_casts_source_to_committed_types(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "mtypes"))
    t.append(spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"))
    source = spark.createDataFrame([(2, 99), (5, 50)], "id long, v long")
    t.merge_upsert(source, keys=["id"])
    scanned = t.scan(virtual_column=None)
    assert dict(scanned.dtypes)["v"] == "int"
    assert sorted((r.id, r.v) for r in scanned.collect()) == [
        (1, 10),
        (2, 99),
        (5, 50),
    ]


def test_temporal_minmax_pruning(spark, warehouse):
    # ADVICE r2: date/timestamp footer stats were discarded, so temporal
    # predicates never pruned despite the docstring's claim
    t = SnapshotTable.create(spark, os.path.join(warehouse, "temporal"))
    t.append(
        spark.sql(
            "SELECT id, DATE'2024-01-01' + CAST(id AS INT) AS d, "
            "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts "
            "FROM range(0, 5)"
        )
    )
    t.append(
        spark.sql(
            "SELECT id, DATE'2024-06-01' + CAST(id AS INT) AS d, "
            "TIMESTAMP'2024-06-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts "
            "FROM range(0, 5)"
        )
    )
    all_files = t.plan_files()
    assert len(all_files) >= 2
    pruned = t.plan_files("d >= DATE '2024-06-01'")
    assert len(pruned) < len(all_files)
    pruned_ts = t.plan_files("ts >= TIMESTAMP '2024-06-01 00:00:00'")
    assert len(pruned_ts) < len(all_files)
    # equality exactly at a file's min bound must NOT be excluded
    at_min = t.plan_files("d = DATE '2024-01-01'")
    assert len(at_min) >= 1
    assert t.scan_where("d = DATE '2024-01-01'").count() == 1
    # correctness regardless of pruning
    assert t.scan_where("ts >= TIMESTAMP '2024-06-01 00:00:00'").count() == 5


@pytest.mark.parametrize("fmt", ["orc", "avro"])
def test_format_dispatch_snapshot_lifecycle(spark, warehouse, fmt):
    # VERDICT r2 missing #1: ORC/Avro data files INSIDE a snapshot
    # table (IcebergReaderFactory.java:37-52 dispatch parity) — append,
    # time travel, COW delete/update, rollback, compact all compose
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, f"fd_{fmt}"), file_format=fmt
    )
    assert t.file_format() == fmt
    t.append(_simple_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.append(_simple_df(spark, [(4, "d")]))
    assert sorted(r.id for r in t.scan(snapshot_id=1).collect()) == [1, 2, 3]
    rows = t.scan().collect()
    assert sorted(r.id for r in rows) == [1, 2, 3, 4]
    assert all(r["snapshot__id"] == 2 for r in rows)
    t.delete_where("id = 2")
    assert sorted(r.id for r in t.scan().collect()) == [1, 3, 4]
    t.update_where("id = 4", {"data": "upper(data)"})
    assert {(r.id, r.data) for r in t.scan().collect()} == {
        (1, "a"),
        (3, "c"),
        (4, "D"),
    }
    t.rollback_to(1)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 3]
    t.compact()
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 3]
    # history is intact through it all
    assert t.scan(snapshot_id=2).count() == 4


def test_avro_table_hidden_partition_pruning(spark, warehouse):
    """Avro hidden partitioning (round-4): the codec clusters files into
    the same `_p_x=v/` layout partitionBy produces for parquet/ORC, so
    bucket pruning on the source column works format-independently."""
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "avro_part"),
        partition_spec=[("bucket", "id", 4)],
        file_format="avro",
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(40)]))
    all_files = t.plan_files()
    pruned = t.plan_files("id = 7")
    assert len(pruned) < len(all_files)
    assert t.scan_where("id = 7").count() == 1
    # every row surfaces exactly once despite the partition-dir layout
    assert sorted(r.id for r in t.scan().collect()) == list(range(40))


def test_avro_partition_values_with_path_hostile_chars(spark, warehouse):
    """Identity-partitioned avro table whose partition values contain
    '/', '=', and spaces — the dir components must be escaped (Hive
    escapePathName semantics) and every row must round-trip."""
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "avro_esc"),
        partition_spec=[("identity", "data", None)],
        file_format="avro",
    )
    rows = [(1, "a/b"), (2, "k=v"), (3, "with space"), (4, "plain")]
    t.append(_simple_df(spark, rows))
    got = {(r.id, r.data) for r in t.scan(virtual_column=None).collect()}
    assert got == set(rows)


def test_avro_minmax_stats_prune(spark, warehouse):
    """Avro min/max pruning from writer-side bounds (round-4): stats are
    tracked inside the encode loop — no second scan, no footer read —
    and the evaluator prunes identically to parquet/ORC."""
    t = _three_range_appends(
        spark, warehouse, name="pruned_avro", file_format="avro"
    )
    assert len(t.plan_files()) == 3
    assert len(t.plan_files("id < 10")) == 1
    assert len(t.plan_files("id >= 20")) == 1
    assert len(t.plan_files("id = 15")) == 1
    assert len(t.plan_files("id = 100")) == 0
    assert len(t.plan_files("data = 'mid12'")) == 1
    for where in ["id < 10", "id = 15", "data = 'hi21'", "id % 2 = 0"]:
        pruned_rows = {tuple(r) for r in t.scan_where(where).collect()}
        full = {
            tuple(r)
            for r in t.scan(virtual_column="snapshot__id")
            .filter(F.expr(where))
            .collect()
        }
        assert pruned_rows == full, where


def test_avro_temporal_stats_prune(spark, warehouse):
    """Timestamp bounds from the avro encode loop canonicalize to the
    same fixed-width UTC strings as parquet footers → temporal
    predicates prune avro files too."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "avro_ts"), file_format="avro"
    )
    for mo in (1, 2, 3):
        t.append(
            spark.sql(
                f"SELECT id, timestamp'2024-0{mo}-15 12:00:00' + "
                f"make_interval(0,0,0,0,0,0,id) AS ts FROM range(5)"
            ).coalesce(1)
        )
    assert len(t.plan_files()) == 3
    assert len(t.plan_files("ts < TIMESTAMP '2024-02-01'")) == 1
    assert len(t.plan_files("ts >= TIMESTAMP '2024-03-01'")) == 1
    assert t.scan_where("ts < TIMESTAMP '2024-02-01'").count() == 5


def test_avro_rename_column_resolves_old_files(spark, warehouse):
    """Avro rename evolution (round-4; VERDICT r3 missing #1): the
    reference's Avro reader participates fully in schema evolution via
    field-ids (IcebergReaderFactory.java:54-65); here each file's header
    names resolve through the rename log inside the decoder — pre- and
    post-rename avro files surface one current-name schema, exactly like
    the parquet path above."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "avro_ren"), file_format="avro"
    )
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("data", "payload")
    t.append(spark.createDataFrame([(3, "c")], "id long, payload string"))
    rows = {r.id: r.payload for r in t.scan().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}
    # time travel before the rename reads through the CURRENT schema
    old = t.scan(snapshot_id=1)
    assert "payload" in old.columns and "data" not in old.columns
    assert {r.id for r in old.collect()} == {1, 2}
    # chained rename collapses (a→b then b→c)
    t.rename_column("payload", "content")
    assert {r.id: r.content for r in t.scan().collect()} == {1: "a", 2: "b", 3: "c"}
    assert "content" in [f.name for f in t.schema().fields]
    # COW DML across the rename boundary still composes
    t.update_where("id = 1", {"content": "upper(content)"})
    assert {(r.id, r.content) for r in t.scan().collect()} == {
        (1, "A"),
        (2, "b"),
        (3, "c"),
    }


def test_mixed_format_table_reads_per_file(spark, warehouse):
    """ONE table mixing parquet, avro, and ORC data files (round-4):
    Iceberg records the format per DataFile and the reference's reader
    factory dispatches per file (IcebergReaderFactory.java:37-52) — the
    extension in our manifest is that record. set_file_format changes
    only the default WRITE format; historical files keep reading."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "mixed"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))  # parquet
    t.set_file_format("avro")
    t.append(_simple_df(spark, [(3, "c")]))  # avro
    t.set_file_format("orc")
    t.append(_simple_df(spark, [(4, "d")]))  # orc
    rows = t.scan().collect()
    assert {(r.id, r.data) for r in rows} == {
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    }
    assert all(r["snapshot__id"] == 3 for r in rows)
    # each historical snapshot reads its own mix
    assert sorted(r.id for r in t.scan(snapshot_id=2).collect()) == [1, 2, 3]
    # the manifest really holds three different extensions
    exts = {f.rsplit(".", 1)[-1] for f in t.plan_files()}
    assert exts == {"parquet", "avro", "orc"}
    # min/max pruning works across the mix (each commit's stats were
    # collected by that commit's format path)
    assert len(t.plan_files("id >= 4")) < len(t.plan_files())
    # COW DML across a mixed live set rewrites in the current default
    t.delete_where("id = 1")
    assert sorted(r.id for r in t.scan().collect()) == [2, 3, 4]


def test_format_migration_via_compact(spark, warehouse):
    """Zero-downtime format migration: set_file_format + compact()
    rewrites the live set into the new format in one snapshot while
    every historical snapshot stays readable from its original files."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "migrate"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    t.set_file_format("orc")
    t.compact()
    live = t.plan_files()
    assert live and all(f.endswith(".orc") for f in live)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 3]
    # history: snapshot 1 still reads its original parquet files
    assert sorted(r.id for r in t.scan(snapshot_id=1).collect()) == [1, 2]
    # post-migration commits append in the new format and prune
    t.append(_simple_df(spark, [(10, "z")]).coalesce(1))
    assert len(t.plan_files("id >= 10")) < len(t.plan_files())


def test_orc_table_hidden_partition_pruning(spark, warehouse):
    # bucket pruning rides on partition path values, not parquet
    # footers, so it must work for ORC-backed tables too
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "orc_bucketed"),
        partition_spec=[("bucket", "id", 4)],
        file_format="orc",
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(40)]))
    all_files = t.plan_files()
    pruned = t.plan_files("id = 7")
    assert len(pruned) < len(all_files)
    assert t.scan_where("id = 7").count() == 1


def test_snapshot_type_battery_roundtrip(spark, warehouse):
    # SURVEY §1.3 / TestIcebergSchemaToTypeInfo.java:101-155 parity:
    # every mapped primitive + nested compositions INCLUDING the
    # struct-keyed map fixture (A4b, map<struct,struct>) written,
    # committed, time-traveled, pruned, and read back bit-exact
    # through the snapshot layer
    import datetime as dt
    from decimal import Decimal

    ddl = (
        "i int, s string, bo boolean, l long, fl float, db double, "
        "dec decimal(12,4), d date, ts timestamp_ntz, tz timestamp, "
        "bin binary, arr array<long>, mp map<string,long>, "
        "mss map<struct<k:int,nm:string>,struct<val:double>>"
    )

    def row(n):
        return (
            n,
            f"name{n}",
            n % 2 == 0,
            2**60 + n,  # above 2^53: long fidelity
            float(n) / 4.0,
            float(n) * 1.5,
            Decimal(n) + Decimal("0.2500"),
            dt.date(1995, 1, 1) + dt.timedelta(days=n),
            dt.datetime(1995, 1, 1) + dt.timedelta(hours=n),
            dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(hours=n),
            f"b{n}".encode(),
            [n, n + 1],
            {"k": n},
            {(n, f"name{n}"): (float(n) / 2.0,)},
        )

    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "typebat"), schema=ddl
    )
    t.append(spark.createDataFrame([row(n) for n in range(5)], ddl))
    t.append(spark.createDataFrame([row(n) for n in range(5, 10)], ddl))

    # declared schema survives the layer
    got = t.scan(virtual_column=None)
    assert got.schema == spark.createDataFrame([], ddl).schema

    # time travel sees only the first file's values
    s1 = {r.i for r in t.scan(snapshot_id=1).collect()}
    assert s1 == {0, 1, 2, 3, 4}

    # temporal + numeric min/max pruning across the two files
    all_files = t.plan_files()
    assert len(t.plan_files("d >= DATE '1995-01-06'")) < len(all_files)
    assert len(t.plan_files("i >= 5")) < len(all_files)

    # bit-exact values for every type, including nested
    r = {x.i: x for x in got.collect()}
    assert len(r) == 10
    x = r[7]
    assert x.s == "name7" and x.bo is False
    assert x.l == 2**60 + 7
    assert abs(x.fl - 1.75) < 1e-6 and x.db == 10.5
    assert x.dec == Decimal("7.2500")
    assert x.d == dt.date(1995, 1, 8)
    assert x.ts == dt.datetime(1995, 1, 1, 7)
    assert x.tz == dt.datetime(1995, 1, 1, 7)  # session TZ is UTC
    assert bytes(x.bin) == b"b7"
    assert list(x.arr) == [7, 8]
    assert dict(x.mp) == {"k": 7}
    ((mk, mv),) = list(x.mss.items())
    assert (mk.k, mk.nm, mv.val) == (7, "name7", 3.5)

    # COW delete rewrites only the matching file; types survive rewrite
    t.delete_where("i = 7")
    left = {x.i for x in t.scan().collect()}
    assert left == {0, 1, 2, 3, 4, 5, 6, 8, 9}
    assert t.scan(snapshot_id=2).count() == 10  # history intact


def test_distributed_manifest_planning_million_files(spark, warehouse, monkeypatch):
    # VERDICT r2 missing #2: past the driver ceiling, manifest reading +
    # pruning must run as a Spark job. Fabricate a 1.08M-entry metadata
    # tree (12 manifests x 90k files), then plan with the driver loop
    # FORBIDDEN from opening manifests.
    import json as _json

    from hiveberg_spark.sources import snapshot_table as st_mod

    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "mega"), schema="id long, v long"
    )
    meta = t._read_meta()
    per, n_manifests = 90_000, 12
    for sid in range(1, n_manifests + 1):
        files = [f"data/fab{sid}/f{j}.parquet" for j in range(per)]
        base = (sid - 1) * per
        stats = {
            f: {"id": [base + j, base + j]} for j, f in enumerate(files)
        }
        with open(
            os.path.join(t.location, "metadata", f"manifest-s{sid}.json"), "w"
        ) as fh:
            _json.dump({"files": files, "stats": stats, "partitions": {}}, fh)
        meta["snapshots"].append(
            {
                "snapshot_id": sid,
                "parent_id": sid - 1 if sid > 1 else None,
                "operation": "append",
                "committed_at": sid * 1000,
                "manifest": f"metadata/manifest-s{sid}.json",
                "summary": {
                    "added-data-files": str(per),
                    "added-records": str(per),
                },
            }
        )
    meta["current_snapshot_id"] = n_manifests
    t._write_meta(meta)

    assert t._entry_count_estimate(t._read_meta(), n_manifests) == per * n_manifests

    # the distributed path must never read a manifest on the driver
    def _forbidden(self, snap):
        raise AssertionError("driver-side manifest read in distributed plan")

    monkeypatch.setattr(
        st_mod.SnapshotTable, "_read_manifest_entries", _forbidden
    )
    target = 7 * per + 123  # lives in manifest 8
    kept = t.plan_files(f"id = {target}")
    assert kept == [os.path.join(t.location, f"data/fab8/f123.parquet")]
    kept_range = t.plan_files(f"id >= {per * n_manifests - 2}")
    assert len(kept_range) == 2

    # equivalence with the driver loop on the same tree (restore reads,
    # force the driver path via a huge threshold)
    monkeypatch.undo()
    monkeypatch.setattr(st_mod, "_DISTRIBUTED_PLAN_THRESHOLD", 10**12)
    assert sorted(t.plan_files(f"id = {target}")) == kept


def test_bucket_pruning_survives_cow_rewrite(spark, warehouse):
    # VERDICT r2 next #9: after a COW DELETE rewrites one bucket of a
    # hidden-partitioned table, (a) untouched files must carry with
    # IDENTICAL manifest entries (path, partition values), and (b)
    # bucket pruning must keep working — over carried AND rewritten
    # files alike, because the rewrite re-clusters by the same spec.
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "dmlprune"),
        schema="id long, data string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(40)]))
    parent = t._read_meta()["current_snapshot_id"]
    before_entries = {
        os.path.relpath(p, t.location): parts
        for p, _, parts in t._entries_as_of(parent)[0]
    }
    before = set(before_entries)
    matching = {
        os.path.relpath(p, t.location) for p in t.plan_files("id = 7")
    }
    t.delete_where("id = 7")
    after_entries = {
        os.path.relpath(p, t.location): parts
        for p, _, parts in t._entries_as_of(None)[0]
    }
    after = set(after_entries)
    # carried-file identity: every untouched file re-recorded verbatim,
    # partition values included; rewritten files are NEW paths
    carried = before - matching
    assert carried <= after
    for rel in carried:
        assert after_entries[rel] == before_entries[rel]
    assert (after - carried) & before == set()
    # pruning still effective after the rewrite, for keys landing in
    # carried buckets and in the rewritten bucket
    assert t.scan_where("id = 7").count() == 0
    for key in (5, 6, 8, 11):
        pruned = t.plan_files(f"id = {key}")
        assert len(pruned) < len(after)
        assert t.scan_where(f"id = {key}").count() == 1


def test_manifests_metadata_table(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "mfs"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.append(_simple_df(spark, [(3, "c")]).coalesce(1))
    t.delete_where("id = 1", mode="merge-on-read")
    rows = {r.added_snapshot_id: r for r in t.manifests().collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].data_files_count == 1
    assert rows[3].data_files_count == 0
    assert rows[3].delete_files_count == 1
    assert all(r.length > 0 for r in rows.values())
    # suffix resolution
    from hiveberg_spark.sources.snapshot_table import resolve_table

    assert resolve_table(spark, warehouse, "mfs__manifests").count() == 3


def test_partitions_metadata_table(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "pts"),
        schema="id long, region string",
        partition_spec=[("identity", "region", None)],
    )
    df = spark.createDataFrame(
        [(1, "eu"), (2, "eu"), (3, "us")], "id long, region string"
    )
    t.append(df)
    t.append(
        spark.createDataFrame([(4, "eu")], "id long, region string")
    )
    rows = {
        r.partition["_p_region"]: r for r in t.partitions().collect()
    }
    assert rows["eu"].record_count == 3
    assert rows["us"].record_count == 1
    assert rows["eu"].file_count >= 2  # two commits wrote eu files
    assert all(r.total_bytes > 0 for r in rows.values())
    # record counts survive a COW rewrite (carried info resolves from
    # the manifest that added the file)
    t.delete_where("id = 3")
    rows2 = {
        r.partition["_p_region"]: r for r in t.partitions().collect()
    }
    assert rows2["eu"].record_count == 3
    assert "us" not in rows2
    from hiveberg_spark.sources.snapshot_table import resolve_table

    assert resolve_table(spark, warehouse, "pts__partitions").count() == 1


def test_partitions_unpartitioned_single_row(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "upts"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    rows = t.partitions().collect()
    assert len(rows) == 1 and rows[0].partition == {}
    assert rows[0].record_count == 2


def test_files_metadata_record_count_populated(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "frc"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    r = t.files().collect()[0]
    assert r.record_count == 2


def test_table_properties_roundtrip_and_validation(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "props"))
    assert t.properties() == {}
    t.set_properties({"write.delete.mode": "merge-on-read", "owner": "me"})
    assert t.properties()["write.delete.mode"] == "merge-on-read"
    t.set_properties({"owner": None})  # unset
    assert "owner" not in t.properties()
    with pytest.raises(ValueError, match="write.delete.mode"):
        t.set_properties({"write.delete.mode": "sideways"})
    t.set_properties({"write.distribution.mode": "hash"})  # valid since r6
    with pytest.raises(ValueError, match="distribution"):
        t.set_properties({"write.distribution.mode": "sideways"})


def test_write_mode_properties_drive_dml_strategy(spark, warehouse):
    # Iceberg's write.delete.mode/write.update.mode: the property picks
    # the strategy when the call does not; an explicit arg overrides
    t = SnapshotTable.create(spark, os.path.join(warehouse, "modes"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.set_properties(
        {"write.delete.mode": "merge-on-read",
         "write.update.mode": "merge-on-read"}
    )
    t.delete_where("id = 1")          # property → MOR
    t.update_where("id = 2", {"data": "'B'"})  # property → MOR
    meta = t._read_meta()
    assert len(t._raw_deletes_as_of(meta, meta["current_snapshot_id"])) == 2
    assert {(r.id, r.data) for r in t.scan().collect()} == {(2, "B"), (3, "c")}
    # explicit copy-on-write overrides the property (a replaces commit
    # that also materializes the delete debt)
    t.delete_where("id = 3", mode="copy-on-write")
    meta = t._read_meta()
    assert t._raw_deletes_as_of(meta, meta["current_snapshot_id"]) != []
    assert {r.id for r in t.scan().collect()} == {2}


def test_sort_order_with_range_distribution_prunes_to_one_file(
    spark, warehouse
):
    # write.sort.order + write.distribution.mode=range: a commit's
    # files get DISJOINT key ranges, so a point/range probe plans O(1)
    # files — the clustering lever for scan-heavy tables
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "sorted"), schema="id long, data string"
    )
    t.set_properties(
        {"write.sort.order": "id", "write.distribution.mode": "range"}
    )
    # AQE would rightly coalesce this toy commit into one partition
    # (tiny data); pin it off so the range exchange keeps several
    # output files, as it would for a real-size commit
    with conf_override(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        t.append(
            spark.createDataFrame(
                [(i, f"r{i}") for i in range(4000)], "id long, data string"
            ).repartition(8)  # deliberately shuffled input
        )
        total = len(t.plan_files())
        assert total > 1
        assert len(t.plan_files("id = 1234")) == 1
        # without range distribution the same data leaves every file
        # overlapping the full range (each input task sees all ranges)
        u = SnapshotTable.create(
            spark,
            os.path.join(warehouse, "unsorted"),
            schema="id long, data string",
        )
        u.append(
            spark.createDataFrame(
                [(i, f"r{i}") for i in range(4000)], "id long, data string"
            ).repartition(8)
        )
        assert len(u.plan_files("id = 1234")) == len(u.plan_files())


def test_widen_column_int_to_long(spark, warehouse):
    # Iceberg UpdateSchema.updateColumn: metadata-only type promotion;
    # narrow-typed historical files upcast at read time
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "widen"), schema="id int, v float"
    )
    t.append(spark.createDataFrame([(1, 1.5)], "id int, v float"))
    t.widen_column("id", "long")
    t.widen_column("v", "double")
    t.append(
        spark.createDataFrame([(2**40, 2.5)], "id long, v double")
    )
    rows = sorted((r.id, r.v) for r in t.scan(virtual_column=None).collect())
    assert rows == [(1, 1.5), (2**40, 2.5)]
    sch = dict(
        (f.name, f.dataType.simpleString())
        for f in t.scan(virtual_column=None).schema.fields
    )
    assert sch == {"id": "bigint", "v": "double"}
    # time travel reads history through the CURRENT (wide) schema
    assert t.scan(snapshot_id=1, virtual_column=None).schema["id"].dataType.simpleString() == "bigint"


def test_widen_rejects_narrowing_and_unknown(spark, warehouse):
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "wbad"), schema="id long, v double"
    )
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("id", "int")
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column("ghost", "long")


def test_widen_composes_with_rename_and_dml(spark, warehouse):
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "wren"), schema="id int, data string"
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id int, data string"))
    t.rename_column("id", "ident")
    t.widen_column("ident", "long")
    t.append(
        spark.createDataFrame([(2**40, "c")], "ident long, data string")
    )
    rows = sorted((r.ident, r.data) for r in t.scan(virtual_column=None).collect())
    assert rows == [(1, "a"), (2, "b"), (2**40, "c")]
    # COW update over the mixed narrow/wide file set
    t.update_where("ident = 2", {"data": "'B'"})
    rows = {r.ident: r.data for r in t.scan().collect()}
    assert rows == {1: "a", 2: "B", 2**40: "c"}
    # merge-on-read delete composes too (lineage read uses the same
    # widened schema)
    t.delete_where("ident = 1", mode="merge-on-read")
    assert sorted(r.ident for r in t.scan().collect()) == [2, 2**40]


def test_widen_decimal_precision(spark, warehouse):
    from decimal import Decimal

    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "wdec"), schema="id long, amt decimal(10,2)"
    )
    t.append(
        spark.createDataFrame(
            [(1, Decimal("9.99"))], "id long, amt decimal(10,2)"
        )
    )
    t.widen_column("amt", "decimal(20,2)")
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("amt", "decimal(20,4)")  # scale change refused
    t.append(
        spark.createDataFrame(
            [(2, Decimal("12345678901234567.89"))], "id long, amt decimal(20,2)"
        )
    )
    assert t.scan().count() == 2


def test_remove_orphan_files(spark, warehouse):
    # a crash between data write and metadata swap leaves an orphaned
    # uuid dir; remove_orphan_files sweeps it by age without touching
    # referenced files (incl. merge-on-read delete files)
    import time

    t = SnapshotTable.create(spark, os.path.join(warehouse, "orph"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where("id = 1", mode="merge-on-read")
    # simulate the crashed commit: a data dir no manifest references
    ghost = os.path.join(t.location, "data", "deadbeef0000")
    os.makedirs(ghost)
    open(os.path.join(ghost, "part-000.parquet"), "w").write("x")
    # young cutoff: nothing old enough to sweep
    res = t.remove_orphan_files(older_than_ms=0)
    assert res["deleted_files"] == 0
    # cutoff in the future: the ghost goes, referenced files stay
    res = t.remove_orphan_files(
        older_than_ms=int(time.time() * 1000) + 60_000
    )
    assert res["deleted_files"] == 1
    assert not os.path.exists(ghost)
    assert sorted(r.id for r in t.scan().collect()) == [2]


def test_sql_insert_into_and_ctas(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "ins"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.scan(virtual_column=None).createOrReplaceTempView("ins_src")
    r = execute_sql(
        spark, warehouse, "INSERT INTO ins SELECT id + 10 AS id, data FROM ins_src"
    ).collect()[0]
    assert r.operation == "append"
    assert sorted(x.id for x in t.scan().collect()) == [1, 11]
    # CTAS with a time-travel SELECT over the source table
    r = execute_sql(
        spark, warehouse, "CREATE TABLE ins_copy AS SELECT * FROM ins VERSION AS OF 1"
    ).collect()[0]
    assert r.operation == "create"
    copy = SnapshotTable.load(spark, os.path.join(warehouse, "ins_copy"))
    assert [x.id for x in copy.scan(virtual_column=None).collect()] == [1]
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(spark, warehouse, "CREATE TABLE ins_copy AS SELECT 1 AS x")


def test_metadata_log_entries(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "mlog"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.set_properties({"owner": "me"})
    t.append(_simple_df(spark, [(2, "b")]))
    rows = t.metadata_log_entries().collect()
    # create + 2 appends + property change = 4 versions, ascending
    assert [r.version for r in rows] == [1, 2, 3, 4]
    assert rows[-1].latest_snapshot_id == 2
    assert rows[1].latest_snapshot_id == 1  # after first append
    assert all(
        os.path.exists(os.path.join(t.location, r.file)) for r in rows
    )


def test_metadata_log_caps_retained_versions(spark, warehouse, monkeypatch):
    monkeypatch.setattr(SnapshotTable, "_METADATA_VERSIONS_MAX", 3)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "mcap"))
    for i in range(5):
        t.set_properties({"k": str(i)})
    rows = t.metadata_log_entries().collect()
    assert len(rows) == 3
    assert rows[-1].version == 6  # create + 5 property writes


def test_concurrent_mor_deletes_conflict(spark, warehouse):
    """Two merge-on-read deletes racing: the second, planned against
    the pre-first-delete head, must raise instead of committing a
    delete file computed against stale state (conservative: Iceberg
    validates conflicting delete files similarly)."""
    from hiveberg_spark.sources.snapshot_table import CommitConflictError

    t = SnapshotTable.create(spark, os.path.join(warehouse, "morrace"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    meta = t._read_meta()
    head = t._mor_head(meta, None)
    df, _ = t._mor_affected(meta, head, "id = 1")
    from pyspark.sql import functions as F

    hits = df.filter(F.expr("id = 1")).select(
        F.col("__hb_file").alias("file_path"), F.col("__hb_pos").alias("pos")
    )
    entries = t._write_delete_files(hits, "position")
    # a concurrent delete lands between planning and commit
    t.delete_where("id = 2", mode="merge-on-read")
    with pytest.raises(CommitConflictError):
        t._commit(
            t._empty_df(), "delete", None, replaces=False,
            expected_parent=head, delete_entries=entries,
        )
    # re-planned delete then succeeds
    t.delete_where("id = 1", mode="merge-on-read")
    assert t.scan().count() == 0


def test_sql_ddl_forms_and_catalog_ops(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql
    from hiveberg_spark.sources.snapshot_table import list_tables

    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "ddl"), schema="id int, data string"
    )
    t.append(spark.createDataFrame([(1, "a")], "id int, data string"))
    execute_sql(spark, warehouse, "ALTER TABLE ddl RENAME COLUMN id TO ident")
    execute_sql(spark, warehouse, "ALTER TABLE ddl ALTER COLUMN ident TYPE bigint")
    row = t.scan(virtual_column=None).collect()[0]
    assert row.ident == 1
    assert t.schema()["ident"].dataType.simpleString() == "bigint"
    execute_sql(spark, warehouse, "ALTER TABLE ddl DROP COLUMN data")
    assert t.scan(virtual_column=None).columns == ["ident"]
    # table-level catalog ops
    execute_sql(spark, warehouse, "ALTER TABLE ddl RENAME TO ddl2")
    assert "ddl2" in list_tables(warehouse) and "ddl" not in list_tables(warehouse)
    shown = {r.table for r in execute_sql(spark, warehouse, "SHOW TABLES").collect()}
    assert "ddl2" in shown
    r = execute_sql(spark, warehouse, "DROP TABLE ddl2").collect()[0]
    assert r.dropped is True
    assert "ddl2" not in list_tables(warehouse)
    r = execute_sql(spark, warehouse, "DROP TABLE IF EXISTS ddl2").collect()[0]
    assert r.dropped is False
    with pytest.raises(ValueError, match="not a snapshot table"):
        execute_sql(spark, warehouse, "DROP TABLE ddl2")


def test_zorder_write_clustering_prunes_both_dimensions(spark, warehouse):
    """write.sort.order=zorder(x,y): every file gets a bounding BOX, so
    min/max pruning fires on predicates over EITHER key — unlike a
    plain sort by x, where y bounds span the full range in every
    file."""
    # the full 64x64 grid: x-sorted files then contain EVERY y value,
    # so a y probe cannot prune them; z-ordered files cover quadrants
    rows = [(i % 64, (i // 64) % 64) for i in range(4096)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)
    z = SnapshotTable.create(
        spark, os.path.join(warehouse, "z"), schema="x long, y long"
    )
    z.set_properties(
        {"write.sort.order": "zorder(x, y)", "write.distribution.mode": "range"}
    )
    lin = SnapshotTable.create(
        spark, os.path.join(warehouse, "lin"), schema="x long, y long"
    )
    lin.set_properties(
        {"write.sort.order": "x", "write.distribution.mode": "range"}
    )
    with conf_override(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        z.append(df)
        lin.append(df)
    n_z, n_lin = len(z.plan_files()), len(lin.plan_files())
    assert n_z > 1 and n_lin > 1
    # both layouts prune on the leading key
    assert len(z.plan_files("x = 3")) < n_z
    assert len(lin.plan_files("x = 3")) < n_lin
    # only the z-ordered layout prunes on the SECOND key
    assert len(z.plan_files("y = 3")) < n_z
    assert len(lin.plan_files("y = 3")) == n_lin
    # correctness unaffected
    got = sorted((r.x, r.y) for r in z.scan(virtual_column=None).collect())
    assert got == sorted(rows)


def test_count_rows_metadata_fast_path(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "cnt"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.append(_simple_df(spark, [(4, "d")]).coalesce(1))
    assert t.count_rows() == 4
    # merge-on-read position delete: metadata count subtracts the
    # live-targeted delete rows
    t.delete_where("id = 2", mode="merge-on-read")
    assert t.count_rows() == 3
    # COW rewrite leaves a stale position entry; its rows must not be
    # double-subtracted (live-file semi join)
    t.update_where("id = 1", {"data": "'A'"})
    assert t.count_rows() == 3
    # time travel counts too
    assert t.count_rows(snapshot_id=1) == 3
    # equality deletes force the scan fallback — still correct
    t.delete_by_keys(spark.createDataFrame([(3,)], "id long"))
    assert t.count_rows() == 2
    assert t.count_rows() == t.scan(virtual_column=None).count()


def test_refs_metadata_table(spark, warehouse):
    from hiveberg_spark.sources.snapshot_table import resolve_table

    t = SnapshotTable.create(spark, os.path.join(warehouse, "reft"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    t.create_tag("v1", 1)
    t.create_branch("dev")
    rows = {r.name: (r.type, r.snapshot_id) for r in t.refs_table().collect()}
    assert rows == {
        "main": ("branch", 2),
        "v1": ("tag", 1),
        "dev": ("branch", 2),
    }
    assert resolve_table(spark, warehouse, "reft__refs").count() == 3


def test_stored_views_resolve_with_time_travel(spark, warehouse):
    """Stored views (Iceberg view-spec shape): saved SQL re-planned
    against CURRENT table state on every read — a view created before
    an append sees the append; views compose with VERSION AS OF and
    with other views."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "vt"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    execute_sql(
        spark, warehouse,
        "CREATE VIEW v_big AS SELECT id, data FROM vt WHERE id >= 2",
    )
    assert [r.id for r in execute_sql(
        spark, warehouse, "SELECT * FROM v_big"
    ).collect()] == [2]
    # the view is a live query: new data shows up
    t.append(_simple_df(spark, [(5, "e")]))
    assert sorted(r.id for r in execute_sql(
        spark, warehouse, "SELECT * FROM v_big"
    ).collect()) == [2, 5]
    # views over time travel and view-on-view nesting
    execute_sql(
        spark, warehouse,
        "CREATE VIEW v_old AS SELECT id FROM vt VERSION AS OF 1",
    )
    execute_sql(
        spark, warehouse,
        "CREATE VIEW v_nested AS SELECT COUNT(*) AS n FROM v_old",
    )
    assert execute_sql(
        spark, warehouse, "SELECT n FROM v_nested"
    ).collect()[0].n == 2
    # SHOW VIEWS lists stored views only (not tables)
    views = [r.view for r in execute_sql(spark, warehouse, "SHOW VIEWS").collect()]
    assert views == ["v_big", "v_nested", "v_old"]
    # drop
    r = execute_sql(spark, warehouse, "DROP VIEW v_nested").collect()[0]
    assert r.dropped is True
    views = [r.view for r in execute_sql(spark, warehouse, "SHOW VIEWS").collect()]
    assert views == ["v_big", "v_old"]
    with pytest.raises(ValueError, match="no such view"):
        execute_sql(spark, warehouse, "DROP VIEW v_nested")
    # name collision with a table refused
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(spark, warehouse, "CREATE VIEW vt AS SELECT 1 AS x")


def test_bloom_filter_property_reaches_parquet_writer(spark, warehouse):
    """write.parquet.bloom-filter-columns passes through to parquet-mr:
    the bloom filter physically lands in the file (observable as a
    deterministic size increase for identical data), serving point
    probes on high-cardinality unsorted keys that min/max can't."""
    rows = [(i, (i * 2654435761) % (2**31)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, k long").coalesce(1)
    plain = SnapshotTable.create(
        spark, os.path.join(warehouse, "plainb"), schema="id long, k long"
    )
    plain.append(df)
    bloomed = SnapshotTable.create(
        spark, os.path.join(warehouse, "bloomb"), schema="id long, k long"
    )
    bloomed.set_properties({"write.parquet.bloom-filter-columns": "k"})
    bloomed.append(df)

    def data_bytes(t):
        return sum(
            os.path.getsize(os.path.join(t.location, rel))
            for rel, _, _ in t._raw_entries_as_of(t._read_meta(), 1)
        )

    assert data_bytes(bloomed) > data_bytes(plain) + 4096
    # contents identical
    assert bloomed.scan(virtual_column=None).count() == 20000


def test_sql_describe_and_show_statements(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "dsc"),
        schema="id long, region string",
        partition_spec=[("bucket", "id", 4)],
    )
    t.append(spark.createDataFrame([(1, "eu")], "id long, region string"))
    t.set_properties({"owner": "me"})
    cols = {
        r.col_name: r.data_type
        for r in execute_sql(spark, warehouse, "DESCRIBE dsc").collect()
    }
    assert cols == {"id": "bigint", "region": "string"}
    ext = execute_sql(spark, warehouse, "DESCRIBE EXTENDED dsc").collect()
    kinds = {r.kind for r in ext}
    assert kinds == {"data", "field_id", "partition", "property", "info"}
    props = {
        r.key: r.value
        for r in execute_sql(spark, warehouse, "SHOW TBLPROPERTIES dsc").collect()
    }
    assert props == {"owner": "me"}
    ddl = execute_sql(
        spark, warehouse, "SHOW CREATE TABLE dsc"
    ).collect()[0].createtab_stmt
    assert "CREATE TABLE dsc" in ddl
    assert "bucket(id, 4)" in ddl and "'owner'='me'" in ddl
    # a DESCRIBE of a non-warehouse name still reaches Spark's parser
    spark.range(1).createOrReplaceTempView("plain_view")
    assert execute_sql(spark, warehouse, "DESCRIBE plain_view").count() >= 1
    # SHOW PARTITIONS: k=v rendering + manifest-only layout counters
    p = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "shparts"),
        schema="id long, grp string",
        partition_spec=[("identity", "grp", None)],
    )
    p.append(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id long, grp string"
        )
    )
    parts = {
        r.partition: (r.file_count, r.record_count)
        for r in execute_sql(spark, warehouse, "SHOW PARTITIONS shparts").collect()
    }
    assert set(parts) == {"_p_grp=a", "_p_grp=b"}
    assert parts["_p_grp=a"][1] == 2 and parts["_p_grp=b"][1] == 1


def test_add_files_adopts_external_parquet_in_place(spark, warehouse, tmp_path):
    """Iceberg add_files/migrate: existing parquet becomes table data
    by reference — no copy; pruning, time travel, and DML work over
    it; expiry never physically deletes the external files."""
    ext = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "id long, data string"
    ).coalesce(1).write.parquet(os.path.join(ext, "d1"))
    spark.createDataFrame(
        [(i, f"r{i}") for i in range(1000, 1100)], "id long, data string"
    ).coalesce(1).write.parquet(os.path.join(ext, "d2"))
    t = SnapshotTable.create(spark, os.path.join(warehouse, "adopt"))
    sid = t.add_files(ext, committed_at=1000)
    assert t.scan(virtual_column=None).count() == 200
    snap = t.snapshots().filter(f"snapshot_id = {sid}").collect()[0]
    assert snap.summary["added-external-files"] == "2"
    assert snap.summary["added-external-records"] == "200"
    # footer stats prune across the adopted files
    assert len(t.plan_files("id = 5")) == 1
    # metadata count works from adopted footer counts
    assert t.count_rows() == 200
    # DML: a COW delete rewrites the affected ADOPTED file into a
    # table-owned file and carries the other by reference
    t.delete_where("id = 5", committed_at=2000)
    assert t.scan(virtual_column=None).count() == 199
    # external source files physically untouched
    assert spark.read.parquet(os.path.join(ext, "d1")).count() == 100
    # expiry drops references but NEVER deletes external files
    t.compact(committed_at=3000)
    t.expire_snapshots(older_than_ms=4000)
    assert spark.read.parquet(os.path.join(ext, "d2")).count() == 100
    assert t.scan(virtual_column=None).count() == 199
    # guardrails
    with pytest.raises(ValueError, match="no parquet files"):
        t.add_files(str(tmp_path / "nothing"))
    with pytest.raises(ValueError, match="inside the table location"):
        t.add_files([os.path.join(t.location, "metadata.json")])


def test_add_files_via_call_procedure(spark, warehouse, tmp_path):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    ext = str(tmp_path / "raw2")
    spark.createDataFrame([(1, "a")], "id long, data string").write.parquet(ext)
    SnapshotTable.create(spark, os.path.join(warehouse, "adoptsql"))
    execute_sql(
        spark, warehouse, f"CALL system.add_files('adoptsql', '{ext}')"
    )
    t = SnapshotTable.load(spark, os.path.join(warehouse, "adoptsql"))
    assert t.scan(virtual_column=None).count() == 1


def test_add_files_hive_partition_layout(spark, warehouse, tmp_path):
    """Adopting a classic Hive `key=value` layout: dir-only partition
    columns re-attach at scan time (basePath discovery, adoption-pinned
    types), identity values prune as min==max stats, and COW DML
    materializes the columns into table-owned rewrites."""
    ext = str(tmp_path / "hive")
    for y, c, lo in [(2023, "us", 0), (2023, "de", 100), (2024, "us", 200)]:
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(lo, lo + 10)], "id long, data string"
        ).coalesce(1).write.parquet(
            os.path.join(ext, f"year={y}", f"country={c}")
        )
    t = SnapshotTable.create(spark, os.path.join(warehouse, "adopt_hive"))
    t.add_files(ext, committed_at=1000)
    df = t.scan(virtual_column=None)
    assert set(df.columns) == {"id", "data", "year", "country"}
    assert df.count() == 30
    assert df.filter("year = 2024").count() == 10
    # identity pruning through the synthesized min==max stats
    assert len(t.plan_files("year = 2024")) == 1
    assert len(t.plan_files("country = 'de'")) == 1
    assert len(t.plan_files("year = 2023 AND country = 'us'")) == 1
    assert len(t.plan_files("year > 2024")) == 0
    # pruning + residual filtering compose
    got = sorted(
        r.id
        for r in t.scan_where(
            "year = 2023 AND country = 'de' AND id >= 105"
        ).collect()
    )
    assert got == list(range(105, 110))
    # COW delete: the affected adopted file rewrites into a table-owned
    # file WITH the partition columns materialized; others carry
    t.delete_where("id = 205", committed_at=2000)
    assert t.scan(virtual_column=None).count() == 29
    assert t.scan(virtual_column=None).filter("year = 2024").count() == 9
    # time travel still sees the full adopted state
    assert t.scan(snapshot_id=1, virtual_column=None).count() == 30
    # inconsistent partition layouts refuse
    bad = str(tmp_path / "hive_bad")
    spark.createDataFrame([(1, "x")], "id long, data string").write.parquet(
        os.path.join(bad, "year=2025", "region=eu")
    )

    def parquet_files(root):
        return sorted(
            os.path.join(r, n)
            for r, _, names in os.walk(root)
            for n in names
            if n.endswith(".parquet")
        )

    with pytest.raises(ValueError, match="inconsistent partition columns"):
        t.add_files(parquet_files(ext)[:1] + parquet_files(bad))


def test_analyze_table_statistics(spark, warehouse):
    """compute_table_stats parity: one pass stores per-column approx NDV
    + exact null counts keyed by snapshot; the `statistics` metadata
    table and `__stats` suffix surface them; stats are per-snapshot (a
    later commit does not disturb an analyzed snapshot's entry)."""
    import pyspark.sql.functions as F

    from hiveberg_spark.sources.snapshot_table import resolve_table

    t = SnapshotTable.create(spark, os.path.join(warehouse, "stats_t"))
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 10)
        .cast("long")
        .alias("v"),
    )
    sid1 = t.append(df)
    entry = t.analyze_table()
    assert entry["row_count"] == 100
    assert entry["columns"]["v"]["null_count"] == 25
    # 100 and 10 true NDVs: HLL at default rsd is exact at this scale
    assert abs(entry["columns"]["id"]["ndv"] - 100) <= 5
    assert abs(entry["columns"]["v"]["ndv"] - 10) <= 1
    rows = {
        (r.snapshot_id, r.column): (r.row_count, r.ndv, r.null_count)
        for r in t.statistics().collect()
    }
    assert rows[(sid1, "v")][0] == 100 and rows[(sid1, "v")][2] == 25
    # a later commit leaves the analyzed snapshot's stats untouched
    t.append(df.limit(5))
    assert {r.snapshot_id for r in t.statistics().collect()} == {sid1}
    # suffix resolution + empty-before-analyze schema
    via_suffix = resolve_table(spark, warehouse, "stats_t__stats")
    assert via_suffix.count() == 2
    u = SnapshotTable.create(spark, os.path.join(warehouse, "stats_u"))
    assert u.statistics().columns == [
        "snapshot_id", "column", "row_count", "ndv", "null_count",
    ]
    assert u.statistics().count() == 0
    with pytest.raises(ValueError, match="unknown columns"):
        t.analyze_table(["nope"])
    with pytest.raises(ValueError, match="no snapshot"):
        u.analyze_table()


def test_compute_table_stats_call_procedure(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "stats_sql"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b"), (2, "b")]))
    execute_sql(
        spark, warehouse, "CALL system.compute_table_stats('stats_sql')"
    )
    got = execute_sql(
        spark, warehouse,
        "SELECT column, ndv, null_count FROM stats_sql__stats ORDER BY column",
    ).collect()
    assert [(r.column, r.null_count) for r in got] == [("data", 0), ("id", 0)]


def test_add_files_hive_escaped_partition_values(spark, warehouse, tmp_path):
    """Partition values Spark escapes in dir names (Hive escapePathName,
    e.g. ':' -> %3A) must round-trip to their LOGICAL values: scans
    re-attach the original strings and string-equality pruning matches
    the logical value, not the escaped path form."""
    import pyspark.sql.functions as F

    ext = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b"), (2, "with space"), (3, "plain")],
        "id long, grp string",
    )
    df.repartition(1).write.partitionBy("grp").parquet(ext)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "adopt_esc"))
    t.add_files(ext)
    got = {
        (r.id, r.grp) for r in t.scan(virtual_column=None).collect()
    }
    assert got == {(1, "a:b"), (2, "with space"), (3, "plain")}
    assert len(t.plan_files("grp = 'a:b'")) == 1
    assert len(t.plan_files("grp = 'nope'")) == 0
    # the filtered scan returns exactly the matching row
    assert [
        r.id
        for r in t.scan(virtual_column=None)
        .filter(F.col("grp") == "with space")
        .collect()
    ] == [2]


def test_add_files_hive_distributed_plan_equivalence(
    spark, warehouse, tmp_path, monkeypatch
):
    """The synthesized min==max identity stats for adopted Hive layouts
    live in ordinary manifest entries, so the DISTRIBUTED manifest
    planner must prune identically to the driver loop."""
    from hiveberg_spark.sources import snapshot_table as st_mod

    ext = str(tmp_path / "hive_dist")
    for y in (2023, 2024, 2025):
        spark.createDataFrame(
            [(y * 10 + i,) for i in range(5)], "id long"
        ).coalesce(1).write.parquet(os.path.join(ext, f"year={y}"))
    t = SnapshotTable.create(spark, os.path.join(warehouse, "adopt_dist"))
    t.add_files(ext)
    driver_kept = sorted(t.plan_files("year >= 2024"))
    assert len(driver_kept) == 2
    monkeypatch.setattr(st_mod, "_DISTRIBUTED_PLAN_THRESHOLD", 0)
    assert sorted(t.plan_files("year >= 2024")) == driver_kept
    assert t.plan_files("year = 1999") == []


def test_entry_count_estimate_counts_adopted_files(spark, warehouse, tmp_path):
    """add_files records adopted files as carry entries on an append —
    the planning-threshold estimate must count them, or a million-file
    adoption would silently stay on the driver-loop planner."""
    ext = str(tmp_path / "est")
    for i in range(3):
        spark.createDataFrame([(i,)], "id long").coalesce(1).write.parquet(
            os.path.join(ext, f"d{i}")
        )
    t = SnapshotTable.create(spark, os.path.join(warehouse, "adopt_est"))
    t.add_files(ext)
    meta = t._read_meta()
    assert t._entry_count_estimate(meta, meta["current_snapshot_id"]) == 3


def test_cherry_pick_applies_one_branch_commit(spark, warehouse):
    """cherrypick_snapshot: ONE append from an unpublished branch lands
    on main by manifest reference (metadata-only), without the branch's
    other commits; re-picking or picking non-appends refuses."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "cherry"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.create_branch("audit")
    sid_b1 = t.append(_simple_df(spark, [(2, "b")]), branch="audit")
    t.append(_simple_df(spark, [(3, "c")]), branch="audit")
    # main gains ONLY the first branch commit's rows
    t.cherry_pick(sid_b1)
    got = sorted(r.id for r in t.scan(virtual_column=None).collect())
    assert got == [1, 2]
    # already on main now: a second application must refuse
    with pytest.raises(ValueError, match="already on main"):
        t.cherry_pick(sid_b1)
    # non-append snapshots are not relocatable
    del_sid = t.delete_where("id = 1")
    with pytest.raises(ValueError, match="append snapshot"):
        t.cherry_pick(del_sid)
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.cherry_pick(999)
    # the SQL procedure form
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t2 = SnapshotTable.create(spark, os.path.join(warehouse, "cherry_sql"))
    t2.append(_simple_df(spark, [(1, "x")]))
    t2.create_branch("wip")
    sid = t2.append(_simple_df(spark, [(2, "y")]), branch="wip")
    execute_sql(
        spark, warehouse, f"CALL system.cherrypick_snapshot('cherry_sql', {sid})"
    )
    assert t2.scan(virtual_column=None).count() == 2


def test_compression_codec_property_reaches_writer(spark, warehouse):
    """Iceberg write.parquet.compression-codec: the table property picks
    the physical codec of committed files (checked in the footer), and
    scans read them back transparently."""
    import pyarrow.parquet as pq

    t = SnapshotTable.create(spark, os.path.join(warehouse, "codec_t"))
    t.set_properties({"write.parquet.compression-codec": "zstd"})
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(10)]))
    files = t.plan_files()
    assert files
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(0).compression
        for f in files
    }
    assert codecs == {"ZSTD"}
    assert t.scan(virtual_column=None).count() == 10
    # switching the property affects only NEW files (per-file codec)
    t.set_properties({"write.parquet.compression-codec": "snappy"})
    t.append(_simple_df(spark, [(99, "z")]))
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(0).compression
        for f in t.plan_files()
    }
    assert codecs == {"ZSTD", "SNAPPY"}
    assert t.scan(virtual_column=None).count() == 11


def test_add_column_evolution(spark, warehouse):
    """Iceberg UpdateSchema.addColumn: metadata-only add; pre-add rows
    surface typed NULLs immediately (before any write carries the
    column), post-add writes fill it; re-adding a dropped name
    refuses."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "addcol"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.add_column("score", "double")
    df = t.scan(virtual_column=None)
    assert df.schema["score"].dataType.simpleString() == "double"
    assert [r.score for r in df.collect()] == [None, None]
    t.append(
        spark.createDataFrame(
            [(3, "c", 1.5)], "id long, data string, score double"
        )
    )
    got = {(r.id, r.score) for r in t.scan(virtual_column=None).collect()}
    assert got == {(1, None), (2, None), (3, 1.5)}
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("score", "double")
    t.drop_column("score")
    with pytest.raises(ValueError, match="re-add dropped"):
        t.add_column("score", "int")


def test_add_column_and_partition_field_sql(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "ddl_t"))
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(20)]))
    execute_sql(spark, warehouse, "ALTER TABLE ddl_t ADD COLUMN tag string")
    assert "tag" in t.scan(virtual_column=None).columns
    # partition-spec evolution through SQL: writes after ADD cluster by
    # the bucket; DROP restores the unpartitioned spec
    execute_sql(
        spark, warehouse, "ALTER TABLE ddl_t ADD PARTITION FIELD bucket(id, 4)"
    )
    assert t._read_meta()["partition_spec"] == [["bucket", "id", 4]]
    t.append(_simple_df(spark, [(100, "x")]))
    parts = t._read_meta()  # new file landed under a _p_ dir
    files, partitions, _ = t._list_data_files(
        os.path.join(t.location, "data"), "", "parquet"
    )
    assert any("_p_id_bucket4" in str(p) for p in partitions.values())
    execute_sql(
        spark, warehouse, "ALTER TABLE ddl_t DROP PARTITION FIELD bucket(id, 4)"
    )
    assert not t._read_meta()["partition_spec"]
    with pytest.raises(ValueError, match="no such partition field"):
        execute_sql(
            spark, warehouse, "ALTER TABLE ddl_t DROP PARTITION FIELD day(id)"
        )


def test_time_transforms_cluster_and_prune(spark, warehouse):
    """year/month/hour transforms (Iceberg Transforms time family):
    writes cluster into human-readable monotonic directories and a
    range predicate on the SOURCE column prunes via footer stats —
    no transform-specific evaluator needed."""
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "hourly"),
        partition_spec=[("hour", "ts", None)],
    )
    df = spark.createDataFrame(
        [
            (1, "2024-03-01 10:05:00"),
            (2, "2024-03-01 10:55:00"),
            (3, "2024-03-01 11:05:00"),
            (4, "2024-03-02 09:00:00"),
        ],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    t.append(df)
    _, partitions, _ = t._list_data_files(
        os.path.join(t.location, "data"), "", "parquet"
    )
    hour_vals = {p.get("_p_ts_hour") for p in partitions.values()}
    assert hour_vals == {"2024-03-01-10", "2024-03-01-11", "2024-03-02-09"}
    total = len(t.plan_files())
    kept = len(t.plan_files("ts >= TIMESTAMP '2024-03-02 00:00:00'"))
    assert kept < total and kept >= 1
    # scan answers stay exact regardless of pruning
    got = {
        r.id
        for r in t.scan_where(
            "ts >= TIMESTAMP '2024-03-02 00:00:00'", virtual_column=None
        ).collect()
    }
    assert got == {4}


def test_time_transform_sql_grammar_and_month_layout(spark, warehouse):
    """ADD/DROP PARTITION FIELD accepts year(c)/month(c)/hour(c); month
    writes land under yyyy-MM directories."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "tf_sql"),
        schema="id long, data string, ts timestamp_ntz",
    )
    execute_sql(spark, warehouse, "ALTER TABLE tf_sql ADD PARTITION FIELD month(ts)")
    assert t._read_meta()["partition_spec"] == [["month", "ts", None]]
    df = spark.createDataFrame(
        [(1, "a", "2024-01-15 00:00:00"), (2, "b", "2024-02-15 00:00:00")],
        "id long, data string, ts_s string",
    ).select("id", "data", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    t.append(df)
    _, partitions, _ = t._list_data_files(
        os.path.join(t.location, "data"), "", "parquet"
    )
    assert {p.get("_p_ts_month") for p in partitions.values()} == {
        "2024-01",
        "2024-02",
    }
    execute_sql(spark, warehouse, "ALTER TABLE tf_sql ADD PARTITION FIELD year(ts)")
    assert t._read_meta()["partition_spec"] == [
        ["month", "ts", None],
        ["year", "ts", None],
    ]
    execute_sql(
        spark, warehouse, "ALTER TABLE tf_sql DROP PARTITION FIELD month(ts)"
    )
    assert t._read_meta()["partition_spec"] == [["year", "ts", None]]
    with pytest.raises(ValueError, match="unknown partition transform"):
        t.update_partition_spec([("decade", "ts", None)])


def test_entries_and_all_files_metadata_tables(spark, warehouse):
    """Iceberg `entries` (status 1/0/2 per manifest entry) and
    `all_files` (any-snapshot file census with a live flag)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "entries_t"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]).repartition(1))
    t.append(_simple_df(spark, [(5, "x")]).repartition(1))
    t.delete_where("id <= 1")  # COW: rewrites file1, carries file2
    e = t.entries().collect()
    data = [r for r in e if r.content == "data"]
    assert sorted((r.status, r.snapshot_id) for r in data) == [
        (0, 3),  # carried survivor keeps its original seq
        (1, 3),  # the rewrite's output file
        (2, 3),  # the rewritten-away generation
    ]
    carried = next(r for r in data if r.status == 0)
    assert carried.data_sequence_number == 2
    dropped = next(r for r in data if r.status == 2)
    assert dropped.data_sequence_number == 1
    # a MOR delete adds a position-delete content file to the entries
    t.delete_where("id = 5", mode="merge-on-read")
    e2 = t.entries()
    assert (
        e2.filter("content = 'position-deletes' AND status = 1").count() == 1
    )
    af = {(r.file_path, r.live) for r in t.all_files().collect() if r.content == "data"}
    assert len(af) == 3
    assert sorted(live for _, live in af) == [False, True, True]
    assert t.all_files().filter("content = 'position-deletes' AND live").count() == 1
    # suffix resolution reaches both
    from hiveberg_spark.sources.snapshot_table import resolve_table

    assert resolve_table(spark, warehouse, "entries_t__entries").count() == len(
        e2.collect()
    )
    assert resolve_table(spark, warehouse, "entries_t__all_files").count() == 4


def test_snapshot_of_zero_copy_clone(spark, warehouse):
    """Iceberg `snapshot` procedure: independent clone referencing the
    source's files — no copy, full isolation both directions."""
    src = SnapshotTable.create(spark, os.path.join(warehouse, "clone_src"))
    src.append(_simple_df(spark, [(1, "a"), (2, "b")]).repartition(1))
    src.append(_simple_df(spark, [(3, "c")]).repartition(1))
    src.rename_column("data", "label")  # evolution log must travel

    dst_loc = os.path.join(warehouse, "clone_dst")
    dst = SnapshotTable.snapshot_of(spark, src.location, dst_loc)
    got = {(r.id, r.label) for r in dst.scan(virtual_column=None).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # zero-copy: the clone owns no data files; every manifest path
    # points into the source
    def _data_files(loc):
        return [
            os.path.join(r, f)
            for r, _, fs in os.walk(os.path.join(loc, "data"))
            for f in fs
            if f.endswith(".parquet")
        ]

    assert _data_files(dst_loc) == []
    assert all(
        p.startswith(os.path.abspath(src.location))
        for p, _, _ in dst._entries_as_of(None)[0]
    )
    # DML on the clone copy-on-writes into clone-owned files; the
    # source is untouched
    dst.delete_where("id = 1")
    assert dst.scan(virtual_column=None).count() == 2
    assert src.scan(virtual_column=None).count() == 3
    assert _data_files(dst_loc) != []
    # clone GC can never delete source files
    dst.expire_snapshots(older_than_ms=10**15)
    dst.remove_orphan_files(older_than_ms=10**15)
    assert src.scan(virtual_column=None).count() == 3
    # MOR-delete-bearing sources refuse (their drops are invisible to a
    # file-reference copy)
    src.delete_where("id = 2", mode="merge-on-read")
    with pytest.raises(ValueError, match="merge-on-read"):
        SnapshotTable.snapshot_of(
            spark, src.location, os.path.join(warehouse, "clone_dst2")
        )
    # destination must not already exist
    with pytest.raises(ValueError, match="already exists"):
        SnapshotTable.snapshot_of(spark, src.location, dst_loc)


def test_snapshot_procedure_sql(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    src = SnapshotTable.create(spark, os.path.join(warehouse, "psrc"))
    src.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    execute_sql(spark, warehouse, "CALL system.snapshot('psrc', 'pdst')")
    dst = SnapshotTable.load(spark, os.path.join(warehouse, "pdst"))
    assert dst.scan(virtual_column=None).count() == 2
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(warehouse, "pdst", "data"))
        for f in fs
    )


def test_rewrite_manifests_collapses_planning_chain(spark, warehouse):
    """rewrite_manifests: O(N)-manifest planning walk becomes O(1),
    contents/history/MOR-scoping all preserved."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "rwm"))
    for i in range(5):
        t.append(_simple_df(spark, [(i, f"r{i}")]).repartition(1))
    t.delete_where("id = 4", mode="merge-on-read")
    meta = t._read_meta()
    assert len(t._lineage_chain(meta, meta["current_snapshot_id"])) == 6
    before = set(t.plan_files())
    n_before = t.scan(virtual_column=None).count()

    execute_sql(spark, warehouse, "CALL system.rewrite_manifests('rwm')")
    meta = t._read_meta()
    # planning now opens exactly one manifest
    assert len(t._lineage_chain(meta, meta["current_snapshot_id"])) == 1
    assert set(t.plan_files()) == before  # zero data movement
    got = {r.id for r in t.scan(virtual_column=None).collect()}
    assert got == {0, 1, 2, 3}  # the MOR delete still applies
    assert t.scan(virtual_column=None).count() == n_before
    # full history retained: every pre-rewrite snapshot still travels
    assert t.snapshots().count() == 7
    assert t.scan(snapshot_id=2, virtual_column=None).count() == 2
    # carried files keep their original sequence numbers in entries()
    data = t.entries().filter("content = 'data'").collect()
    assert sorted(r.data_sequence_number for r in data) == [1, 2, 3, 4, 5]
    assert all(r.status == 0 for r in data)  # nothing ADDED by a rewrite
    with pytest.raises(ValueError, match="empty table"):
        SnapshotTable.create(
            spark, os.path.join(warehouse, "rwm_empty")
        ).rewrite_manifests()


def test_expire_snapshots_retain_last(spark, warehouse):
    """Iceberg retain_last: the newest N ancestors survive any age
    cutoff; tagged snapshots are independently retained."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "retain"))
    for i in range(6):
        t.append(_simple_df(spark, [(i, f"r{i}")]), committed_at=1000 + i)
    # cutoff after everything, but retain_last=3 keeps snapshots 4,5,6
    res = t.expire_snapshots(older_than_ms=10**15, retain_last=3)
    assert res["expired_snapshots"] == 3
    ids = {r.snapshot_id for r in t.snapshots().collect()}
    assert ids == {4, 5, 6}
    assert t.scan(virtual_column=None).count() == 6  # contents intact
    assert t.scan(snapshot_id=4, virtual_column=None).count() == 4
    # default retain_last=1 via SQL keeps only current
    execute_sql(
        spark, warehouse, "CALL system.expire_snapshots('retain', '1000000000000000')"
    )
    assert {r.snapshot_id for r in t.snapshots().collect()} == {6}
    assert t.scan(virtual_column=None).count() == 6


def test_compact_respects_target_file_size(spark, warehouse):
    """Iceberg write.target-file-size-bytes sizes compaction output from
    manifest byte counts — file count = ceil(live bytes / target)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "tfs"))
    for i in range(6):
        t.append(
            _simple_df(spark, [(j, f"row{j}") for j in range(i * 50, i * 50 + 50)]).repartition(1)
        )
    assert len(t.plan_files()) == 6
    total = sum(
        r.record_count is not None for r in t.files().collect()
    )  # files table materializes: info recorded
    # a huge target -> exactly one output file
    t.set_properties({"write.target-file-size-bytes": str(10**9)})
    t.compact()
    assert len(t.plan_files()) == 1
    assert t.scan(virtual_column=None).count() == 300
    # a tiny target -> several output files (ceil(total_bytes/1500))
    for i in range(3):
        t.append(_simple_df(spark, [(1000 + i, "x")]).repartition(1))
    t.set_properties({"write.target-file-size-bytes": "1500"})
    t.compact()
    assert len(t.plan_files()) > 1
    assert t.scan(virtual_column=None).count() == 303


def test_value_index_point_probe_pruning(spark, warehouse):
    """Value index: a point probe on a NON-clustered column — min/max
    bounds span every file, so only the index can prune — plans a
    strict file subset, scans stay exact, and files committed after
    the index build are always kept (sound staleness)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx"))
    # interleaved ids: every file's [min,max] covers every probe value,
    # so footer stats prune nothing
    for k in range(4):
        t.append(
            _simple_df(
                spark, [(k + 4 * j, f"v{k + 4 * j}") for j in range(10)]
            ).repartition(1)
        )
    total = len(t.plan_files())
    assert total == 4
    assert len(t.plan_files("id = 5")) == 4  # stats cannot prune
    t.build_value_index("id")
    kept = t.plan_files("id = 5")
    assert len(kept) < total
    got = {r.id for r in t.scan_where("id = 5", virtual_column=None).collect()}
    assert got == {5}
    # a value in no file: still sound (may keep collision files)
    assert t.scan_where("id = 999", virtual_column=None).count() == 0
    # post-index append: its file is outside the covered set -> kept
    t.append(_simple_df(spark, [(1000, "late")]).repartition(1))
    assert t.scan_where("id = 1000", virtual_column=None).count() == 1
    late = t.plan_files("id = 1000")
    assert any("data" in p for p in late) and len(late) >= 1
    # non-equality predicates ignore the index
    assert len(t.plan_files("id >= 0")) == 5


def test_value_index_sql_procedure_and_expiry_degrade(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx2"))
    t.append(_simple_df(spark, [(i, "x") for i in range(8)]).repartition(1))
    t.append(_simple_df(spark, [(i, "y") for i in range(8, 16)]).repartition(1))
    execute_sql(spark, warehouse, "CALL system.build_value_index('vidx2', 'id')")
    assert "id" in t._read_meta().get("value_indexes", {})
    n_before = len(t.plan_files("id = 3"))
    assert n_before <= 2
    # expire past the index snapshot: lookup degrades to no-index
    t.append(_simple_df(spark, [(100, "z")]).repartition(1))
    t.expire_snapshots(older_than_ms=10**15, retain_last=1)
    assert {r.id for r in t.scan_where("id = 3", virtual_column=None).collect()} == {3}


def test_value_index_distributed_planning_equivalence(
    spark, warehouse, monkeypatch
):
    """The value index prunes identically through the driver loop and
    the distributed (Spark-job) manifest planner."""
    from hiveberg_spark.sources import snapshot_table as st_mod

    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx_dist"))
    for k in range(4):
        t.append(
            _simple_df(
                spark, [(k + 4 * j, f"v{k + 4 * j}") for j in range(10)]
            ).repartition(1)
        )
    t.build_value_index("id")
    where = "id = 5"
    driver_kept = set(t.plan_files(where))
    assert len(driver_kept) < 4
    monkeypatch.setattr(st_mod, "_DISTRIBUTED_PLAN_THRESHOLD", 1)
    dist_kept = set(t.plan_files(where))
    assert dist_kept == driver_kept


def test_value_index_incremental_refresh(spark, warehouse):
    """refresh_value_index: only post-pin files are read; afterwards
    probes on both old and new values prune through the index."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx_inc"))
    for k in range(3):
        t.append(
            _simple_df(
                spark, [(k + 3 * j, f"v{k + 3 * j}") for j in range(8)]
            ).repartition(1)
        )
    t.build_value_index("id")
    # two appends after the build, then a COW rewrite of one old file
    t.append(_simple_df(spark, [(500, "new")]).repartition(1))
    t.update_where("id = 0", {"data": "'rewritten'"})
    execute_sql(
        spark, warehouse, "CALL system.refresh_value_index('vidx_inc', 'id')"
    )
    meta = t._read_meta()
    assert (
        meta["value_indexes"]["id"]["snapshot_id"]
        == meta["current_snapshot_id"]
    )
    total = len(t.plan_files())
    # post-refresh, a probe for the NEW value prunes to few files
    assert len(t.plan_files("id = 500")) < total
    assert {
        r.data for r in t.scan_where("id = 500", virtual_column=None).collect()
    } == {"new"}
    # the rewritten row's value is found in the rewrite's output file
    assert {
        r.data for r in t.scan_where("id = 0", virtual_column=None).collect()
    } == {"rewritten"}
    assert len(t.plan_files("id = 4")) < total  # old values still prune
    # refresh with nothing new is a no-op returning the same pin
    again = t.refresh_value_index("id")
    assert again["snapshot_id"] == meta["current_snapshot_id"]


def test_value_index_in_list_probe(spark, warehouse):
    """`col IN (...)` probes the index with one pushdown read over all
    the literals' buckets; scans stay exact, strings work too."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx_in"))
    for k in range(4):
        t.append(
            _simple_df(
                spark, [(k + 4 * j, f"v{k + 4 * j}") for j in range(10)]
            ).repartition(1)
        )
    t.build_value_index("id")
    total = len(t.plan_files())
    kept = t.plan_files("id IN (5, 21)")
    assert len(kept) < total
    got = {
        r.id
        for r in t.scan_where("id IN (5, 21)", virtual_column=None).collect()
    }
    assert got == {5, 21}
    # a string-column index prunes string IN-lists the same way
    t2 = SnapshotTable.create(spark, os.path.join(warehouse, "vidx_in_s"))
    for k in range(3):
        t2.append(
            _simple_df(
                spark, [(k * 10 + j, f"name_{k}_{j}") for j in range(5)]
            ).repartition(1)
        )
    t2.build_value_index("data")
    assert len(t2.plan_files("data IN ('name_0_1', 'name_0_2')")) < 3
    assert {
        r.data
        for r in t2.scan_where(
            "data IN ('name_0_1', 'name_0_2')", virtual_column=None
        ).collect()
    } == {"name_0_1", "name_0_2"}


def test_indexes_metadata_table_freshness(spark, warehouse):
    t = SnapshotTable.create(spark, os.path.join(warehouse, "idx_meta"))
    t.append(_simple_df(spark, [(1, "a")]))
    t.build_value_index("id")
    assert t.indexes().collect()[0].lag_commits == 0
    t.append(_simple_df(spark, [(2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    row = t.indexes().collect()[0]
    assert (row.column, row.lag_commits) == ("id", 2)
    t.refresh_value_index("id")
    assert t.indexes().collect()[0].lag_commits == 0
    # rollback is a forward commit, so the pin stays an ancestor and
    # lag counts the rolled-past commits
    t.append(_simple_df(spark, [(4, "d")]))
    t.rollback_to(1)
    assert t.indexes().collect()[0].lag_commits == 2
    # an EXPIRED pin is no ancestor at all: reported as -1
    t.expire_snapshots(older_than_ms=10**15, retain_last=1)
    assert t.indexes().collect()[0].lag_commits == -1


def test_create_table_ddl_and_show_create_roundtrip(spark, warehouse):
    """CREATE TABLE (schema) PARTITIONED BY (...) TBLPROPERTIES (...)
    parses; SHOW CREATE TABLE's output re-executes verbatim to an
    equivalent table (the round-trip contract)."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    execute_sql(
        spark,
        warehouse,
        "CREATE TABLE ddl_rt (id bigint, tags map<string,int>, ts timestamp_ntz) "
        "PARTITIONED BY (bucket(id, 4), month(ts)) "
        "TBLPROPERTIES ('write.target-file-size-bytes'='1000000')",
    )
    t = SnapshotTable.load(spark, os.path.join(warehouse, "ddl_rt"))
    assert t._read_meta()["partition_spec"] == [
        ["bucket", "id", 4],
        ["month", "ts", None],
    ]
    assert t.properties()["write.target-file-size-bytes"] == "1000000"
    assert t.scan(virtual_column=None).count() == 0  # declared schema, no rows
    assert "tags" in t.scan(virtual_column=None).columns

    ddl = execute_sql(spark, warehouse, "SHOW CREATE TABLE ddl_rt").head()[0]
    ddl2 = ddl.replace("ddl_rt", "ddl_rt2")
    execute_sql(spark, warehouse, ddl2)
    t2 = SnapshotTable.load(spark, os.path.join(warehouse, "ddl_rt2"))
    assert t2._read_meta()["partition_spec"] == t._read_meta()["partition_spec"]
    assert t2.schema().json() == t.schema().json()
    assert t2.properties() == t.properties()


def test_partitioned_ctas(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    src = SnapshotTable.create(spark, os.path.join(warehouse, "ctas_src"))
    src.append(_simple_df(spark, [(i, f"r{i}") for i in range(20)]))
    src.scan(virtual_column=None).createOrReplaceTempView("ctas_src_v")
    execute_sql(
        spark,
        warehouse,
        "CREATE TABLE ctas_part PARTITIONED BY (bucket(id, 2)) "
        "AS SELECT * FROM ctas_src_v",
    )
    t = SnapshotTable.load(spark, os.path.join(warehouse, "ctas_part"))
    assert t._read_meta()["partition_spec"] == [["bucket", "id", 2]]
    assert t.scan(virtual_column=None).count() == 20
    assert len(t.plan_files("id = 3")) < len(t.plan_files())


def test_value_index_multi_column_composition(spark, warehouse):
    """Two indexed columns compose: each equality conjunct prunes
    independently and exclusions intersect (a file survives only if
    every probe's postings allow it)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "vidx_multi"))
    rows = []
    for k in range(4):
        rows.append([(k + 4 * j, f"g{(k + j) % 3}") for j in range(10)])
    for batch in rows:
        t.append(_simple_df(spark, batch).repartition(1))
    t.build_value_index("id")
    t.build_value_index("data")
    total = len(t.plan_files())
    both = t.plan_files("id = 5 AND data = 'g0'")
    only_id = t.plan_files("id = 5")
    assert len(both) <= len(only_id) < total
    got = t.scan_where("id = 5 AND data = 'g0'", virtual_column=None).count()
    exact = (
        t.scan(virtual_column=None)
        .filter("id = 5 AND data = 'g0'")
        .count()
    )
    assert got == exact


def test_insert_overwrite_and_truncate(spark, warehouse):
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    t = SnapshotTable.create(spark, os.path.join(warehouse, "ovw"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    _simple_df(spark, [(9, "z")]).createOrReplaceTempView("ovw_src")
    execute_sql(
        spark, warehouse, "INSERT OVERWRITE ovw SELECT * FROM ovw_src"
    )
    assert {r.id for r in t.scan(virtual_column=None).collect()} == {9}
    # pre-overwrite snapshot still travels
    assert t.scan(snapshot_id=1, virtual_column=None).count() == 2
    execute_sql(spark, warehouse, "TRUNCATE TABLE ovw")
    assert t.scan(virtual_column=None).count() == 0
    assert list(t.scan(virtual_column=None).columns) == ["id", "data"]
    assert t.scan(snapshot_id=2, virtual_column=None).count() == 1


def test_replace_table_as_select(spark, warehouse):
    """CREATE OR REPLACE TABLE: one replaces-snapshot adopts the new
    schema and data; pre-replace history stays travelable; a missing
    table degrades to plain CTAS."""
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    _simple_df(spark, [(1, "a"), (2, "b")]).createOrReplaceTempView("rtas_src")
    execute_sql(
        spark, warehouse, "CREATE OR REPLACE TABLE rtas AS SELECT * FROM rtas_src"
    )
    t = SnapshotTable.load(spark, os.path.join(warehouse, "rtas"))
    assert t.scan(virtual_column=None).count() == 2
    spark.createDataFrame(
        [(10, 1.5)], "k long, score double"
    ).createOrReplaceTempView("rtas_src2")
    execute_sql(
        spark, warehouse, "CREATE OR REPLACE TABLE rtas AS SELECT * FROM rtas_src2"
    )
    cur = t.scan(virtual_column=None)
    assert set(cur.columns) == {"k", "score"}
    assert cur.count() == 1
    # the pre-replace generation still travels with its OLD schema data
    old = t.scan(snapshot_id=1, virtual_column=None)
    assert old.count() == 2


def test_value_indexes_metadata_table(spark, warehouse):
    """Freshness rows: pin lag + coverage split, manifest-walk-only;
    an expired pin surfaces as zero coverage (rebuild signal), and a
    refresh restores fresh=True."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "vi_meta"))
    assert t.value_indexes().count() == 0  # unindexed: empty with schema
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.build_value_index("data")
    row = t.value_indexes().head()
    assert (row.column, row.commits_behind, row.fresh) == ("data", 0, True)
    assert (row.covered_live_files, row.uncovered_live_files) == (1, 0)
    t.append(_simple_df(spark, [(3, "c")]).coalesce(1))
    row = t.value_indexes().head()
    assert (row.commits_behind, row.fresh) == (1, False)
    assert (row.covered_live_files, row.uncovered_live_files) == (1, 1)
    t.refresh_value_index("data")
    row = t.value_indexes().head()
    assert (row.commits_behind, row.fresh) == (0, True)
    assert (row.covered_live_files, row.uncovered_live_files) == (2, 0)


def test_variant_column_in_snapshot_table(spark, warehouse):
    """Spark 4 VARIANT columns live in snapshot tables like any other
    type: append, typed path extraction, COW DML, and time travel all
    work (variant round-trips parquet natively)."""
    import os

    loc = os.path.join(warehouse, "variant")
    t = SnapshotTable.create(spark, loc, schema="id long, v variant")
    t.append(
        spark.sql(
            "SELECT CAST(id AS LONG) id, "
            "parse_json(concat('{\"k\": ', id, '}')) v FROM range(5)"
        )
    )
    got = {
        r.id: r.k
        for r in t.scan()
        .selectExpr("id", "variant_get(v, '$.k', 'long') k")
        .collect()
    }
    assert got == {i: i for i in range(5)}
    s1 = t._read_meta()["current_snapshot_id"]
    t.delete_where("id = 3")  # COW rewrite carries the variant column
    assert t.scan().count() == 4
    assert t.scan(snapshot_id=s1).count() == 5


def test_hash_distribution_one_file_per_partition(spark, warehouse):
    # write.distribution.mode=hash on a partitioned table: each commit
    # shuffles on the partition transform values, so every partition
    # value gets exactly ONE file — the small-files valve for
    # wide-input partitioned writes (Iceberg write.distribution-mode)
    rows = spark.createDataFrame(
        [(i, f"g{i % 5}") for i in range(2000)], "id long, grp string"
    ).repartition(8)
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "hashdist"),
        schema="id long, grp string",
        partition_spec=[("identity", "grp", None)],
    )
    t.set_properties({"write.distribution.mode": "hash"})
    t.append(rows)
    assert len(t.plan_files()) == 5
    assert t.scan().count() == 2000
    # identity pruning still plans exactly that partition's one file
    assert len(t.plan_files("grp = 'g3'")) == 1
    # contrast: mode none fans out tasks x partitions files
    u = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "nodist"),
        schema="id long, grp string",
        partition_spec=[("identity", "grp", None)],
    )
    u.append(rows)
    assert len(u.plan_files()) > 5
    # avro branch honors the same contract
    a = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "avrodist"),
        schema="id long, grp string",
        partition_spec=[("identity", "grp", None)],
        file_format="avro",
    )
    a.set_properties({"write.distribution.mode": "hash"})
    a.append(rows)
    assert len(a.plan_files()) == 5
    assert a.scan().count() == 2000
    with pytest.raises(ValueError, match="distribution.mode"):
        t.set_properties({"write.distribution.mode": "sideways"})


def test_in_list_pruning_minmax_and_bucket(spark, warehouse):
    # `col IN (...)` engages BOTH static pruning tiers: footer min/max
    # (file kept only if SOME member is inside its bounds) and hidden
    # bucket partitions (allowed-bucket sets) — the substrate runtime
    # join filtering pushes through
    b = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "inbucket"),
        schema="id long, v string",
        partition_spec=[("bucket", "id", 16)],
    )
    b.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5000)], "id long, v string"
        ).repartition(8)
    )
    total = len(b.plan_files())
    kept = len(b.plan_files("id IN (7, 123, 4001)"))
    assert 0 < kept < total  # at most 3 of 16 buckets survive
    got = sorted(r.id for r in b.scan_where("id IN (7, 123, 4001)").collect())
    assert got == [7, 123, 4001]
    # min/max tier: range-clustered files have disjoint id ranges; two
    # far-apart members keep at most two files
    r = SnapshotTable.create(
        spark, os.path.join(warehouse, "inrange"), schema="id long, v string"
    )
    r.set_properties(
        {"write.sort.order": "id", "write.distribution.mode": "range"}
    )
    with conf_override(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        r.append(
            spark.createDataFrame(
                [(i, f"r{i}") for i in range(4000)], "id long, v string"
            ).repartition(8)
        )
    assert len(r.plan_files()) > 2
    assert len(r.plan_files("id IN (5, 3990)")) <= 2
    # every member outside the table's range -> zero files planned
    assert len(r.plan_files("id IN (-5, 99999)")) == 0


def test_scan_runtime_pruned_guards_and_semantics(spark, warehouse):
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "rtp"),
        schema="id long, v string",
        partition_spec=[("bucket", "id", 16)],
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(2000)], "id long, v string"
        ).repartition(8)
    )
    keys = spark.createDataFrame(
        [(3,), (777,), (None,), (3,)], "k long"  # dup + NULL: both ignored
    )
    got = t.scan_runtime_pruned(keys, "id")
    assert sorted(r.id for r in got.collect()) == [3, 777]
    # empty build side -> empty typed result, same schema as scan
    empty = t.scan_runtime_pruned(keys.filter("k IS NULL AND k IS NOT NULL"), "id")
    assert empty.count() == 0 and empty.columns == t.scan(virtual_column=None).columns
    # key-set wider than max_keys -> safe fallback to the full scan
    wide = spark.range(0, 50).select(F.col("id").alias("k"))
    assert t.scan_runtime_pruned(wide, "id", max_keys=10).count() == 2000
    # string keys: quoting round-trips (incl. an embedded quote)
    s = SnapshotTable.create(
        spark, os.path.join(warehouse, "rtps"), schema="name string, n long"
    )
    s.append(
        spark.createDataFrame(
            [("a", 1), ("o'brien", 2), ("z", 3)], "name string, n long"
        )
    )
    ks = spark.createDataFrame([("o'brien",), ("z",)], "name string")
    assert sorted(
        r.n for r in s.scan_runtime_pruned(ks, "name").collect()
    ) == [2, 3]


def test_snapshot_summary_running_totals(spark, warehouse):
    # Iceberg summary parity: every commit records total-data-files /
    # total-records / total-files-size for ITS lineage state — growth
    # dashboards read snapshots() with no manifest walk
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "totals"), schema="id long, v string"
    )
    t.append(spark.createDataFrame([(i, "a") for i in range(10)], "id long, v string"))
    t.append(spark.createDataFrame([(i, "b") for i in range(5)], "id long, v string"))
    t.compact()
    t.overwrite(spark.createDataFrame([(1, "z")], "id long, v string"))
    snaps = {s.snapshot_id: s.summary for s in t.snapshots().collect()}
    assert snaps[1]["total-records"] == "10"
    assert snaps[2]["total-records"] == "15"
    assert snaps[3]["total-records"] == "15"  # compact: contents unchanged
    assert snaps[4]["total-records"] == "1"
    assert int(snaps[3]["total-data-files"]) <= int(snaps[2]["total-data-files"])
    for sid in (1, 2, 3, 4):
        assert int(snaps[sid]["total-files-size"]) > 0
        assert int(snaps[sid]["total-data-files"]) >= 1
    # MOR delete: data totals unchanged (no data file rewritten)
    t.delete_where("id = 1", mode="merge-on-read")
    snaps = {s.snapshot_id: s.summary for s in t.snapshots().collect()}
    assert snaps[5]["total-records"] == snaps[4]["total-records"]
    assert snaps[5]["total-data-files"] == snaps[4]["total-data-files"]


def test_plan_maintenance_advisor(spark, warehouse):
    # metadata-only advisor: verdicts flip with the table's state
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "adv"), schema="id long, v string"
    )
    t.append(
        spark.createDataFrame(
            [(i, "x") for i in range(100)], "id long, v string"
        ).repartition(4)
    )
    plan = {r.action: r for r in t.plan_maintenance().collect()}
    assert set(plan) == {
        "rewrite_data_files", "rewrite_position_deletes",
        "expire_snapshots", "remove_orphan_files",
    }
    assert plan["rewrite_data_files"].recommended  # 4 tiny files
    assert not plan["rewrite_position_deletes"].recommended
    assert not plan["expire_snapshots"].recommended
    assert not plan["remove_orphan_files"].recommended
    assert plan["rewrite_data_files"].n == 4
    # MOR debt flips the delete-rewrite verdict; compacting + rewriting
    # clears both
    t.delete_where("id = 7", mode="merge-on-read")
    plan = {r.action: r for r in t.plan_maintenance().collect()}
    assert plan["rewrite_position_deletes"].recommended
    t.rewrite_position_deletes()
    t.compact()
    plan = {r.action: r for r in t.plan_maintenance().collect()}
    assert not plan["rewrite_position_deletes"].recommended
    # a crash leftover (complete-but-unreferenced uuid dir) is audited
    stray = os.path.join(t.location, "data", "deadbeef")
    os.makedirs(stray)
    spark.createDataFrame([(1, "s")], "id long, v string").coalesce(
        1
    ).write.mode("overwrite").parquet(stray)
    plan = {r.action: r for r in t.plan_maintenance().collect()}
    assert plan["remove_orphan_files"].recommended
    # snapshot-count threshold is tunable
    plan = {r.action: r for r in t.plan_maintenance(max_snapshots=2).collect()}
    assert plan["expire_snapshots"].recommended
    # SQL surface
    from hiveberg_spark.sources.sql_timetravel import execute_sql

    got = execute_sql(
        spark, warehouse, "CALL system.plan_maintenance('adv')"
    ).collect()
    assert {r.action for r in got} == set(plan)


def test_widen_date_to_timestamp(spark, warehouse):
    """Iceberg v3 date->timestamp promotion: metadata-only; files sealed
    before the widen read their DATE physicals per generation group and
    cast (midnight, session UTC); later files carry timestamps. Composes
    with time travel, MOR deletes, COW rewrites, compaction, rename —
    and ORC data files."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "dtw"), schema="id long, d date"
    )
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
    def vals(df):
        return sorted((r.id, str(r.d)) for r in df.collect())
    assert vals(t.scan(virtual_column=None)) == [
        (1, "2024-03-05 00:00:00"),
        (2, "2023-12-31 00:00:00"),
        (3, "2024-06-01 10:30:00"),
    ]
    # time travel reads through the CURRENT (widened) schema
    assert vals(t.scan(snapshot_id=1, virtual_column=None)) == [
        (1, "2024-03-05 00:00:00"),
        (2, "2023-12-31 00:00:00"),
    ]
    t.delete_where("id = 2", mode="merge-on-read")
    assert vals(t.scan(virtual_column=None)) == [
        (1, "2024-03-05 00:00:00"),
        (3, "2024-06-01 10:30:00"),
    ]
    t.delete_where("id = -1")          # COW rewrite over mixed generations
    t.compact()                         # folds narrow files into timestamp
    t.rename_column("d", "ts_col")
    got = sorted((r.id, str(r.ts_col)) for r in t.scan(virtual_column=None).collect())
    assert got == [(1, "2024-03-05 00:00:00"), (3, "2024-06-01 10:30:00")]
    # ORC tables take the same per-generation path
    o = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "dtworc"),
        schema="id long, d date",
        file_format="orc",
    )
    o.append(spark.sql("SELECT CAST(1 AS LONG) id, DATE '2020-05-06' d"))
    o.widen_column("d", "timestamp")
    o.append(
        spark.sql("SELECT CAST(2 AS LONG) id, TIMESTAMP '2021-01-02 03:04:05' d")
    )
    assert sorted((r.id, str(r.d)) for r in o.scan(virtual_column=None).collect()) == [
        (1, "2020-05-06 00:00:00"),
        (2, "2021-01-02 03:04:05"),
    ]
    # still refused: narrowing and unrelated pairs
    with pytest.raises(ValueError, match="cannot widen"):
        t.widen_column("id", "int")


def test_summary_totals_random_ops_invariant(spark, warehouse):
    """Randomized churn model for the running totals: after EVERY
    commit, the head entry's total-data-files equals the live file
    count and total-records equals the live files' record sum (data-file
    accounting — MOR deletes don't subtract, Iceberg semantics)."""
    import random

    rng = random.Random(61)
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "tot_rand"), schema="id long, v string"
    )
    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = [(next_id + i, f"r{next_id + i}") for i in range(n)]
        next_id += n
        return spark.createDataFrame(rows, "id long, v string")

    t.append(batch(7))
    for _ in range(8):
        op = rng.choice(["append", "cow_del", "mor_del", "compact", "overwrite"])
        if op == "append":
            t.append(batch(rng.randint(1, 9)))
        elif op == "cow_del":
            t.delete_where(f"id % 5 = {rng.randint(0, 4)}")
        elif op == "mor_del":
            t.delete_where(f"id % 7 = {rng.randint(0, 6)}", mode="merge-on-read")
        elif op == "compact":
            t.compact()
        else:
            t.overwrite(batch(rng.randint(1, 5)))
        meta = t._read_meta()
        head = meta["current_snapshot_id"]
        entry = next(s for s in meta["snapshots"] if s["snapshot_id"] == head)
        live = t.plan_files()
        info = t._file_info_as_of(meta)
        recs = sum(
            int((info.get(os.path.relpath(p, t.location)) or {}).get("records") or 0)
            for p in live
        )
        assert int(entry["summary"]["total-data-files"]) == len(live), op
        assert int(entry["summary"]["total-records"]) == recs, op


def test_scan_changes_between_timestamps(spark, warehouse):
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "tschanges"), schema="id long, v string"
    )
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"),
             committed_at=1000)
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"),
             committed_at=2000)
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"),
             committed_at=3000)
    got = sorted(
        r.id for r in t.scan_changes_between_timestamps(1000, 2500).collect()
    )
    assert got == [2]
    got = sorted(
        r.id for r in t.scan_changes_between_timestamps(1500, 9999).collect()
    )
    assert got == [2, 3]
    # bounds at exactly a commit instant: start exclusive, end inclusive
    got = sorted(
        r.id for r in t.scan_changes_between_timestamps(1000, 3000).collect()
    )
    assert got == [2, 3]
    with pytest.raises(ValueError, match="precedes"):
        t.scan_changes_between_timestamps(3000, 1000)


def test_scan_runtime_pruned_date_keys(spark, warehouse):
    # temporal join keys — the most common runtime-filter shape
    # (date-partitioned facts driven by a dim's date set)
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "rtpdate"),
        schema="d date, v long",
        partition_spec=[("identity", "d", None)],
    )
    t.append(
        spark.sql(
            "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-10')) d, "
            "CAST(1 AS LONG) v"
        )
    )
    total = len(t.plan_files())
    assert total >= 10  # one partition dir per day
    keys = spark.sql(
        "SELECT explode(array(DATE'2024-01-03', DATE'2024-01-07')) AS d"
    )
    got = t.scan_runtime_pruned(keys, "d")
    assert sorted(str(r.d) for r in got.collect()) == [
        "2024-01-03", "2024-01-07",
    ]
    kept = len(t.plan_files("d IN (DATE '2024-01-03', DATE '2024-01-07')"))
    assert kept == 2


def test_hash_distribution_composes_with_partition_evolution(spark, warehouse):
    # write.distribution.mode=hash must shuffle on the CURRENT spec's
    # transform values after ADD PARTITION FIELD — old files keep their
    # old layout, new commits fan out one file per new-spec partition
    t = SnapshotTable.create(
        spark,
        os.path.join(warehouse, "hashevo"),
        schema="id long, grp string, region string",
        partition_spec=[("identity", "grp", None)],
    )
    t.set_properties({"write.distribution.mode": "hash"})
    t.append(
        spark.createDataFrame(
            [(i, f"g{i % 3}", f"r{i % 2}") for i in range(300)],
            "id long, grp string, region string",
        ).repartition(8)
    )
    assert len(t.plan_files()) == 3  # one per grp value
    t.update_partition_spec(
        [("identity", "grp", None), ("identity", "region", None)]
    )
    t.append(
        spark.createDataFrame(
            [(i, f"g{i % 3}", f"r{i % 2}") for i in range(300, 600)],
            "id long, grp string, region string",
        ).repartition(8)
    )
    # second commit: 3 grp x 2 region = 6 files under the evolved spec
    assert len(t.plan_files()) == 3 + 6
    assert t.scan().count() == 600
    # pruning on both partition sources still plans correctly
    assert len(t.plan_files("grp = 'g1'")) == 1 + 2
    assert (
        t.scan_where("grp = 'g1' AND region = 'r0'").count()
        == sum(1 for i in range(600) if i % 3 == 1 and i % 2 == 0)
    )


def test_metadata_columns_scan(spark, warehouse):
    """_file/_pos basics: positions are per-file 0-based, survive MOR
    deletes UNCOMPACTED (the deleted slot is a gap), _file is
    table-relative, empty tables surface typed NULL columns, and
    non-parquet tables refuse (_pos needs row_index)."""
    import os

    from hiveberg_spark.sources.snapshot_table import SnapshotTable

    t = SnapshotTable.create(spark, os.path.join(warehouse, "mc"))
    t.append(_simple_df(spark, [(i, f"d{i}") for i in range(6)]).coalesce(1))
    t.append(_simple_df(spark, [(i, f"d{i}") for i in range(6, 10)]).coalesce(1))
    rows = t.scan_with_metadata_columns(virtual_column=None).collect()
    assert len(rows) == 10
    by_file = {}
    for r in rows:
        assert not os.path.isabs(r._file)
        by_file.setdefault(r._file, []).append(r._pos)
    assert len(by_file) == 2
    for poss in by_file.values():
        assert sorted(poss) == list(range(len(poss)))  # 0-based, dense
    # MOR delete: position 2 of the first file becomes a gap
    t.delete_where("id = 2", mode="merge-on-read")
    rows2 = t.scan_with_metadata_columns(virtual_column=None).collect()
    assert len(rows2) == 9
    f1 = sorted(p["_pos"] for p in rows2 if p["id"] < 6)
    assert f1 == [0, 1, 3, 4, 5]  # original positions, visible gap at 2

    # empty table: typed NULL metadata columns, no error
    e = SnapshotTable.create(
        spark, os.path.join(warehouse, "mc_empty"), schema="id long"
    )
    edf = e.scan_with_metadata_columns(virtual_column=None)
    assert edf.count() == 0
    assert {"_file", "_pos"} <= set(edf.columns)

    # non-parquet refuses with a clear error
    o = SnapshotTable.create(
        spark, os.path.join(warehouse, "mc_orc"), file_format="orc"
    )
    o.append(_simple_df(spark, [(1, "a")]))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parquet"):
        o.scan_with_metadata_columns()


def test_scan_construction_launches_no_spark_job(spark, warehouse):
    """Every data-file read goes through the table's recorded schema,
    and position delete files through their fixed (file_path, pos)
    schema: building a scan infers nothing from footers, so it launches
    no Spark job before the action."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "nojob"))
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(6)]))
    t.append(_simple_df(spark, [(i, f"r{i}") for i in range(6, 9)]))
    t.delete_where("id = 2", mode="merge-on-read")
    meta = t._read_meta()
    assert any(
        d["type"] == "position"
        for d in t._raw_deletes_as_of(meta, meta["current_snapshot_id"])
    )
    sc = spark.sparkContext
    sc.setJobGroup("hbs_scan_construction", "scan construction")
    try:
        cur = t.scan()
        where = t.scan_where("id >= 1")
        old = t.scan(snapshot_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(
        sc.statusTracker().getJobIdsForGroup("hbs_scan_construction")
    ) == []
    assert sorted(r.id for r in cur.collect()) == [0, 1, 3, 4, 5, 6, 7, 8]
    assert sorted(r.id for r in where.collect()) == [1, 3, 4, 5, 6, 7, 8]
    assert sorted(r.id for r in old.collect()) == list(range(6))


def test_scan_reads_declared_column_order(spark, warehouse):
    """An append that wrote the columns in a different physical order
    reads back in the declared order, with each value under its own
    column (files resolve by name through the recorded schema)."""
    t = SnapshotTable.create(spark, os.path.join(warehouse, "order"))
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(
        spark.createDataFrame([("c", 3), ("d", 4)], "data string, id long")
    )
    for df in (t.scan(virtual_column=None), t.scan_where("id > 0")):
        assert df.columns[:2] == ["id", "data"]
        assert sorted((r.id, r.data) for r in df.collect()) == [
            (1, "a"), (2, "b"), (3, "c"), (4, "d")
        ]


def test_avro_table_scans_with_recorded_schema(spark, warehouse):
    """Avro data files decode through their own headers; the recorded
    schema every table with data carries must not make the avro group
    raise — only a type widening does."""
    t = SnapshotTable.create(
        spark, os.path.join(warehouse, "avro_rs"), file_format="avro"
    )
    t.append(_simple_df(spark, [(1, "a"), (2, "b")]))
    t.append(_simple_df(spark, [(3, "c")]))
    got = sorted((r.id, r.data) for r in t.scan(virtual_column=None).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert t.scan(snapshot_id=1).count() == 2


def test_sql_time_travel_registers_only_bare_names(spark, warehouse):
    """`t VERSION AS OF n` resolves to its own snapshot view; a query
    that references only that form registers no current-snapshot `t`
    view, while one mixing `t` and `t VERSION AS OF n` resolves both."""
    from hiveberg_spark.sources.sql_timetravel import sql_with_time_travel

    name = "tt_bare_only"
    t = SnapshotTable.create(spark, os.path.join(warehouse, name))
    t.append(_simple_df(spark, [(1, "a")]))
    t.append(_simple_df(spark, [(2, "b")]))
    spark.catalog.dropTempView(name)
    out = sql_with_time_travel(
        spark, warehouse, f"SELECT COUNT(*) AS n FROM {name} VERSION AS OF 1"
    )
    assert out.collect()[0].n == 1
    assert not spark.catalog.tableExists(name)
    both = sql_with_time_travel(
        spark,
        warehouse,
        f"SELECT (SELECT COUNT(*) FROM {name}) AS cur, "
        f"(SELECT COUNT(*) FROM {name} VERSION AS OF 1) AS old",
    ).collect()[0]
    assert (both.cur, both.old) == (2, 1)
    assert spark.catalog.tableExists(name)
    spark.catalog.dropTempView(name)


# -- driver-resident commit writes (sources/driver_write.py) ------------

_ALL_TYPES_DDL = (
    "b byte, s short, i int, l long, f float, d double, bo boolean, "
    "st string, dd date, ts timestamp, tn timestamp_ntz"
)


def _all_types_df(spark):
    """An Arrow-backed local relation (so its size estimate admits the
    driver writer) holding every accepted type, NULLs, and dates and
    timestamps before the Gregorian cut-over."""
    import datetime as dt

    from hiveberg_spark.sources.snapshot_table import _local_df

    rows = [
        (1, 2, 3, 4, 1.5, 2.5, True, "a", dt.date(2020, 1, 1),
         dt.datetime(2020, 1, 1, 1, 2, 3), dt.datetime(2020, 1, 1, 1, 2, 3)),
        (None,) * 11,
        (-1, -2, -3, -4, -1.5, -2.5, False, "zz", dt.date(1000, 1, 1),
         dt.datetime(1200, 1, 1, 1, 2, 3), dt.datetime(1300, 6, 1, 0, 0, 1)),
    ] + [
        (i % 7, i, i * 3, i * 1000, i / 4, i / 8, i % 2 == 0, f"v{i % 5}",
         dt.date(2021, 1 + i % 12, 1), dt.datetime(2021, 1, 1, i % 24),
         dt.datetime(2022, 1, 1, 0, i % 60))
        for i in range(40)
    ]
    return _local_df(spark, rows, _ALL_TYPES_DDL)


def _data_files(t) -> list[str]:
    return sorted(
        os.path.join(root, fn)
        for root, _, names in os.walk(os.path.join(t.location, "data"))
        for fn in names
    )


def _driver_written(path: str) -> bool:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.created_by.startswith("parquet-cpp")


def test_driver_write_round_trips_every_accepted_type(spark, warehouse):
    src = _all_types_df(spark)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "dw_types"))
    t.append(src)
    (path,) = _data_files(t)
    assert _driver_written(path)
    got = t.scan(virtual_column=None)
    assert got.schema.simpleString() == src.schema.simpleString()
    # the footer's Spark version marks the proleptic calendar, so even a
    # session that refuses ambiguous pre-1582 values reads them
    key = "spark.sql.parquet.datetimeRebaseModeInRead"
    with conf_override(spark, key, "EXCEPTION"):
        rows = got.collect()
    assert sorted(rows, key=str) == sorted(src.collect(), key=str)
    assert sorted(t.scan_where("l >= 4000", virtual_column=None).collect(), key=str) == sorted(
        src.where("l >= 4000").collect(), key=str
    )


def test_driver_write_nan_column_is_never_pruned(spark, warehouse):
    """Spark orders NaN above every number, but pyarrow's footer bounds
    leave NaN out; a file holding NaN must not be pruned by them."""
    from hiveberg_spark.sources.snapshot_table import _local_df

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dw_nan"))
    t.append(_local_df(spark, [(1, 2.5), (2, float("nan"))], "id long, d double"))
    (path,) = _data_files(t)
    assert _driver_written(path)
    assert [r.id for r in t.scan_where("d > 5", virtual_column=None).collect()] == [2]


def test_driver_write_footer_and_stats_match_spark_writer(spark, warehouse, monkeypatch):
    """The same frame committed through both writers: Spark infers the
    same StructType from either footer, and the manifests record the
    same record counts and min/max stats."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from hiveberg_spark.sources import driver_write

    src = _all_types_df(spark).coalesce(1)
    fast = SnapshotTable.create(spark, os.path.join(warehouse, "dw_fast"))
    fast.append(src)
    slow = SnapshotTable.create(spark, os.path.join(warehouse, "dw_slow"))
    # a bound <= 0 turns the driver writer off
    monkeypatch.setattr(driver_write, "MAX_BYTES", 0)
    slow.append(src)
    (fp,) = _data_files(fast)
    sp = [p for p in _data_files(slow) if p.endswith(".parquet")]
    assert len(sp) == 1 and _driver_written(fp) and not _driver_written(sp[0])
    assert spark.read.parquet(fp).schema == spark.read.parquet(sp[0]).schema
    assert pq.ParquetFile(fp).schema_arrow == pq.ParquetFile(sp[0]).schema_arrow
    footers = [pq.ParquetFile(p).metadata.metadata for p in (fp, sp[0])]
    # pyarrow writes footer key/values only beside its own schema entry
    assert footers[0].keys() == footers[1].keys() | {b"ARROW:schema"}
    row_meta = b"org.apache.spark.sql.parquet.row.metadata"
    assert StructType.fromJson(json.loads(footers[0][row_meta])) == (
        StructType.fromJson(json.loads(footers[1][row_meta]))
    )

    def dictionary_encoded(path):
        rg = pq.ParquetFile(path).metadata.row_group(0)
        return [
            any("DICTIONARY" in e for e in rg.column(i).encodings)
            for i in range(rg.num_columns)
        ]

    # parquet-mr's fallback rule decides each column the same way
    assert dictionary_encoded(fp) == dictionary_encoded(sp[0])
    entries = [
        t._read_manifest_entries(t._read_meta()["snapshots"][-1])
        for t in (fast, slow)
    ]
    assert [e[1] for e in entries[0]] == [e[1] for e in entries[1]]
    assert entries[0][0][1]  # stats were recorded at all
    records = [
        [r.record_count for r in t.files().collect()] for t in (fast, slow)
    ]
    assert records[0] == records[1] == [43]


def test_driver_write_gate_declines(spark, warehouse, monkeypatch):
    """Partition specs, sort orders, parquet bloom columns, decimals, a
    requested file count above one, a Generate, Python code, ORC and
    avro all keep the Spark writer (or the avro codec)."""
    import hiveberg_spark.sources.snapshot_table as st

    def refuse(*_a, **_k):
        raise AssertionError("driver writer taken")

    monkeypatch.setattr(st, "write_parquet_on_driver", refuse)
    src = st._local_df(spark, [(i, f"r{i % 3}") for i in range(12)], "id long, data string")
    with pytest.raises(AssertionError, match="driver writer taken"):
        SnapshotTable.create(spark, os.path.join(warehouse, "dg_ctl")).append(src)
    cases = {
        "spec": ({"partition_spec": [("bucket", "id", 4)]}, {}, src),
        "sort": ({}, {"write.sort.order": "id"}, src),
        "bloom": ({}, {"write.parquet.bloom-filter-columns": "id"}, src),
        "decimal": ({}, {}, src.withColumn("id", F.col("id").cast("decimal(10,2)"))),
        "coalesce": ({}, {}, src.coalesce(2)),
        "explode": ({}, {}, src.select("id", F.explode(F.array("data", "data")).alias("data"))),
        "map_in_arrow": ({}, {}, src.mapInArrow(lambda batches: batches, src.schema)),
        "python_udf": ({}, {}, src.withColumn("data", F.udf(lambda v: v * 3, "string")("data"))),
        "orc": ({"file_format": "orc"}, {}, src),
        "avro": ({"file_format": "avro"}, {}, src),
    }
    for name, (kw, props, frame) in cases.items():
        t = SnapshotTable.create(spark, os.path.join(warehouse, f"dg_{name}"), **kw)
        if props:
            t.set_properties(props)
        t.append(frame)
        assert t.scan(virtual_column=None).count() == frame.count(), name


def test_driver_write_zero_row_commit_writes_no_file(spark, warehouse):
    from hiveberg_spark.sources.snapshot_table import _local_df

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dw_empty"))
    t.append(_local_df(spark, [(1, "a")], "id long, data string"))
    sid = t.append(_local_df(spark, [], "id long, data string"))
    meta = t._read_meta()
    assert meta["current_snapshot_id"] == sid == 2
    assert t._read_manifest_json(meta["snapshots"][-1])["files"] == []
    # no Spark job ran, so no empty part, no _SUCCESS, no directory
    assert len(_data_files(t)) == 1
    assert t.scan(virtual_column=None).count() == 1


def test_driver_write_append_runs_one_job_and_leaves_no_markers(
    spark, warehouse, tmp_path
):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({"id": list(range(100)), "data": ["x"] * 100}), src)
    t = SnapshotTable.create(spark, os.path.join(warehouse, "dw_jobs"))
    frame = spark.read.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("hbs_driver_write", "driver-resident append")
    try:
        t.append(frame)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("hbs_driver_write")) == 1
    (path,) = _data_files(t)
    assert path.endswith(".snappy.parquet") and _driver_written(path)
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    assert t.scan(virtual_column=None).count() == 100


def test_driver_write_mor_delete_file_is_one_sorted_file(spark, warehouse):
    import pyarrow.parquet as pq

    from hiveberg_spark.sources.snapshot_table import _local_df

    t = SnapshotTable.create(spark, os.path.join(warehouse, "dw_mor"))
    for k in range(3):
        t.append(_local_df(spark, [(k * 50 + i, "d") for i in range(50)], "id long, data string"))
    t.delete_where("id % 7 = 3", mode="merge-on-read")
    deletes = [
        os.path.join(root, fn)
        for root, _, names in os.walk(os.path.join(t.location, "deletes"))
        for fn in names
    ]
    assert len(deletes) == 1 and _driver_written(deletes[0])
    rows = pq.read_table(deletes[0]).to_pylist()
    keys = [(r["file_path"], r["pos"]) for r in rows]
    assert keys == sorted(keys) and len(keys) == len([i for i in range(150) if i % 7 == 3])
    got = sorted(r.id for r in t.scan(virtual_column=None).collect())
    assert got == [i for i in range(150) if i % 7 != 3]


def test_driver_write_bound_counts_rows_of_compressible_sources(
    spark, warehouse, tmp_path
):
    """A run-length-encoded parquet source is a few KB on disk, which is
    Spark's size estimate, but holds megabytes once collected. The gate
    counts its footer rows at Spark's row width, so a source just above
    `MAX_BYTES` keeps the Spark writer and one just below takes the
    driver writer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hiveberg_spark.sources import driver_write

    row = 8 + 8 + 20  # Spark's row overhead, a long and a string
    for name, rows, driver in (
        ("above", driver_write.MAX_BYTES // row + 1000, False),
        ("below", driver_write.MAX_BYTES // row - 1000, True),
    ):
        src = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"id": [7] * rows, "data": ["same"] * rows}), src)
        assert os.path.getsize(src) < 64 * 1024
        frame = spark.read.parquet(src)
        assert frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 64 * 1024
        t = SnapshotTable.create(spark, os.path.join(warehouse, f"dw_rle_{name}"))
        t.append(frame)
        paths = [p for p in _data_files(t) if p.endswith(".parquet")]
        assert [_driver_written(p) for p in paths] == [driver], name
        assert t.scan(virtual_column=None).count() == rows
