"""Rollback, timestamp time travel, and incremental (CDC) scans.

Iceberg-feature analogs the reference stack lacks entirely (its repair
story is 're-run the Glue job'); all three are O(metadata) operations —
no data file is copied or rewritten at any table size.
"""

from __future__ import annotations

import time

import pytest

from e_commerce_lakehouse_spark.operators import compact, expire_snapshots, rollback_to
from e_commerce_lakehouse_spark.table import incremental_scan, scan
from tests.conftest import assert_same_rows


def test_rollback_restores_previous_state(spark, tiny_table):
    t = tiny_table
    before_sid = t.current_snapshot_id()
    before = scan(spark, t, snapshot_id=before_sid)
    n_before = before.count()

    # a "bad" maintenance run we want to undo
    compact(spark, t, target_bytes=1 << 20)
    bad_sid = t.current_snapshot_id()
    assert bad_sid != before_sid

    res = rollback_to(t, before_sid)
    assert res["restored_from"] == before_sid and res["previous"] == bad_sid
    assert res["rows"] == n_before
    assert t.snapshot().operation == "rollback"
    # current state is byte-identical to the pre-compact snapshot
    assert_same_rows(scan(spark, t), before)
    # history stays pinned-readable: the rolled-back-over snapshot too
    assert scan(spark, t, snapshot_id=bad_sid).count() == n_before


def test_rollback_guards(tiny_table):
    t = tiny_table
    with pytest.raises(ValueError, match="already current"):
        rollback_to(t, t.current_snapshot_id())
    with pytest.raises(FileNotFoundError):
        rollback_to(t, 9999)


def test_expire_after_rollback_keeps_restored_files(spark, tiny_table):
    """After rollback, expiring the bad snapshot must GC only the files
    that ONLY it referenced — the restored (shared-manifest) files stay."""
    t = tiny_table
    target_sid = t.current_snapshot_id()
    before = scan(spark, t).collect()
    compact(spark, t, target_bytes=1 << 20)  # bad run: adds compacted files
    rollback_to(t, target_sid)
    expire_snapshots(t, keep_last=1)  # retains only the rollback snapshot
    got = scan(spark, t).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, before))


def test_scan_as_of_timestamp(spark, tiny_table):
    t = tiny_table
    sids = t.snapshot_ids()
    for sid in sids:
        snap = t.snapshot(sid)
        picked = t.snapshot_id_as_of(snap.timestamp_ms)
        # equal-ms neighbors resolve to the LATEST such snapshot
        assert picked >= sid
        assert t.snapshot(picked).timestamp_ms <= snap.timestamp_ms
    # far future -> current; before creation -> error
    assert t.snapshot_id_as_of(int(time.time() * 1000) + 10_000) == sids[-1]
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.snapshot_id_as_of(t.snapshot(sids[0]).timestamp_ms - 1)
    df = scan(spark, t, as_of_ts_ms=int(time.time() * 1000) + 10_000)
    assert df.count() == scan(spark, t).count()
    with pytest.raises(ValueError, match="at most one"):
        scan(spark, t, snapshot_id=sids[0], as_of_ts_ms=1)


def test_incremental_scan_returns_appended_rows(spark, tiny_table, tiny_df):
    t = tiny_table
    from_sid = t.current_snapshot_id()
    from_rows = scan(spark, t).count()

    extra = tiny_df.limit(500).selectExpr(
        "concat('conv-inc-', conv_id) AS conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    from e_commerce_lakehouse_spark.table.writer import append_dataframe

    append_dataframe(spark, t, extra)
    inc = incremental_scan(spark, t, from_sid)
    assert inc.count() == 500
    assert_same_rows(inc, extra)
    assert scan(spark, t).count() == from_rows + 500

    with pytest.raises(ValueError, match="must be >"):
        incremental_scan(spark, t, t.current_snapshot_id())


def test_crash_orphan_never_served_and_its_id_never_reused(spark, tiny_table, tiny_df,
                                                          monkeypatch):
    """A commit that crashes after writing its snapshot file but before
    flipping VERSION leaves a crash orphan. It was never current, so time
    travel never serves it and history keeps it off the published chain,
    also after later commits pass it; the next commit takes a fresh id."""
    import os

    from e_commerce_lakehouse_spark.table.writer import append_dataframe

    t = tiny_table
    head = t.current_snapshot_id()
    base_rows = scan(spark, t).count()
    extra = tiny_df.limit(50).selectExpr(
        "concat('conv-orphan-', conv_id) AS conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    real_replace = os.replace

    def crash_on_flip(src, dst):
        if dst == t._version_path():
            raise OSError("simulated crash before the VERSION flip")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_flip)
        with pytest.raises(OSError, match="simulated crash"):
            append_dataframe(spark, t, extra)
    assert t.current_snapshot_id() == head
    (orphan,) = [sid for sid in t.snapshot_ids() if sid > head]
    orphan_ts = t.snapshot(orphan).timestamp_ms

    time.sleep(0.05)
    now = int(time.time() * 1000)
    assert t.snapshot_id_as_of(now) == head
    assert t.snapshot_id_as_of(orphan_ts) == head
    assert scan(spark, t, as_of_ts_ms=now).count() == base_rows
    hist = {h["snapshot_id"]: h for h in t.history()}
    assert hist[orphan]["orphan"] and not hist[head]["orphan"]

    nxt = append_dataframe(spark, t, tiny_df.limit(10).selectExpr(
        "concat('conv-next-', conv_id) AS conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert nxt.snapshot_id > orphan and nxt.parent_id == head
    assert t.snapshot_id_as_of(orphan_ts) == head
    assert t.snapshot_id_as_of(int(time.time() * 1000) + 10_000) == nxt.snapshot_id
    hist = {h["snapshot_id"]: h for h in t.history()}
    assert hist[orphan]["orphan"] and not hist[nxt.snapshot_id]["orphan"]
    assert scan(spark, t).count() == base_rows + 10
