"""Snapshot-isolation guard on rewrite commits: a writer whose planned
input files were concurrently rewritten must get CommitConflictError,
never a silent lost-update (duplicated rows)."""

import pytest

from e_commerce_lakehouse_spark.operators.compact import compact
from e_commerce_lakehouse_spark.table.meta import CommitConflictError, Table


def test_stale_rewrite_commit_conflicts(spark, tiny_table):
    # writer A plans against the current snapshot...
    planned_paths = [e.path for e in tiny_table.entries()]
    assert len(planned_paths) > 1
    # ...writer B (compaction) rewrites everything and commits first
    compact(spark, tiny_table, target_bytes=1 << 20)
    # A's commit must now conflict, not duplicate A's planned inputs
    with pytest.raises(CommitConflictError, match="no longer live"):
        tiny_table.commit_rewrite(planned_paths, [], operation="merge")


def test_partial_overlap_also_conflicts(spark, tiny_table):
    first = tiny_table.entries()[0].path
    compact(spark, tiny_table, target_bytes=1 << 20)
    live_now = [e.path for e in tiny_table.entries()]
    # one stale path among live ones still conflicts (all-or-nothing)
    with pytest.raises(CommitConflictError):
        tiny_table.commit_rewrite([live_now[0], first], [], operation="merge")


def test_fresh_plan_commits_clean(spark, tiny_table):
    compact(spark, tiny_table, target_bytes=1 << 20)
    live = [e.path for e in tiny_table.entries()]
    sid = tiny_table.current_snapshot_id()
    snap = tiny_table.commit_rewrite(live, [], operation="delete")
    assert snap.snapshot_id > sid
    assert tiny_table.entries() == []


def test_reload_and_retry_recovers(spark, tiny_table):
    """The documented recovery path: re-load the table (fresh plan from
    the new head) and the op succeeds."""
    root = tiny_table.root
    stale_paths = [e.path for e in tiny_table.entries()]
    compact(spark, tiny_table, target_bytes=1 << 20)
    with pytest.raises(CommitConflictError):
        Table.load(root).commit_rewrite(stale_paths, [], operation="merge")
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where

    m = delete_where(spark, Table.load(root), "role = 'tool'")
    assert m["committed_snapshot"] is not None


def test_rewrite_conflicts_when_tombstone_lands_after_planning(spark, tiny_table, tiny_df):
    """A rewrite that planned under NO tombstones must conflict if a
    concurrent MoR delete lands before its commit: its freshly-stamped
    outputs would be exempt from the newer tombstone and resurrect the
    deleted rows (review finding)."""
    import pytest

    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
    from e_commerce_lakehouse_spark.table.meta import CommitConflictError

    t = tiny_table
    # the "concurrent" delete-mor lands between plan (expected=[]) and commit
    delete_where(spark, t, "role = 'tool'", mode="merge-on-read")
    with pytest.raises(CommitConflictError, match="tombstone list changed"):
        t.commit_rewrite([], [], operation="merge", expected_tombstones=[])
    with pytest.raises(CommitConflictError, match="tombstone list changed"):
        t.commit_upsert_mor([], [], expected_tombstones=[])
    # passing the CURRENT list (a correctly re-planned writer) commits fine
    t.commit_rewrite([], [], operation="merge",
                     expected_tombstones=t.tombstones())


def test_second_holder_of_same_handle_fails_fast(tmp_path):
    """The commit lock is not re-entrant: while it is held, a second
    acquisition through the SAME Table handle, from this thread or
    another, fails fast instead of riding the first holder's lock."""
    import os
    import threading

    t = Table.create(str(tmp_path / "t"))
    errors = []

    def other_thread():
        try:
            with t._commit_lock():
                pass
        except CommitConflictError as e:
            errors.append(e)

    with t._commit_lock():
        with pytest.raises(CommitConflictError, match="COMMIT.lock"):
            with t._commit_lock():
                pass
        th = threading.Thread(target=other_thread)
        th.start()
        th.join()
        assert len(errors) == 1 and errors[0].kind == "lock"
        assert os.path.exists(t._lock_path())  # the failed attempts left it held
    assert not os.path.exists(t._lock_path())
    with t._commit_lock():  # released: the next writer takes it
        pass
