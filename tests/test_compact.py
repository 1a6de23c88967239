"""Op-1 compaction: file-count drop, byte-equality, snapshot isolation,
kill-and-resume at file-group granularity (SURVEY.md §5 items 2/3/5)."""

import pytest

from e_commerce_lakehouse_spark.operators.compact import SimulatedCrash, compact
from e_commerce_lakehouse_spark.table import scan
from tests.conftest import assert_same_rows

TARGET = 512 * 1024  # small target so the tiny table still forms groups


def test_compact_reduces_files_and_preserves_bytes(spark, tiny_table):
    before = scan(spark, tiny_table).select("conv_id", "turn_idx", "text")
    n_before = len(tiny_table.entries())
    m = compact(spark, tiny_table, target_bytes=TARGET)
    n_after = len(tiny_table.entries())
    assert n_after < n_before
    assert m["committed_snapshot"] == 4
    after = scan(spark, tiny_table).select("conv_id", "turn_idx", "text")
    assert_same_rows(before, after)


def test_compact_snapshot_isolation(spark, tiny_table):
    pre_id = tiny_table.current_snapshot_id()
    pre_files = set(e.path for e in tiny_table.entries())
    compact(spark, tiny_table, target_bytes=TARGET)
    # pinned reader still sees the exact pre-compaction file set
    assert set(e.path for e in tiny_table.entries(pre_id)) == pre_files
    pinned = scan(spark, tiny_table, snapshot_id=pre_id)
    current = scan(spark, tiny_table)
    assert_same_rows(pinned, current)


def test_compact_crash_resume(spark, tiny_table, tmp_path):
    ckpt = str(tmp_path / "ck.jsonl")
    before = scan(spark, tiny_table).select("conv_id", "turn_idx", "text")
    with pytest.raises(SimulatedCrash):
        compact(
            spark,
            tiny_table,
            target_bytes=TARGET,
            checkpoint_path=ckpt,
            fail_after_groups=1,
        )
    # no commit happened
    assert tiny_table.current_snapshot_id() == 3
    # resume completes, skipping the finished group
    m = compact(spark, tiny_table, target_bytes=TARGET, checkpoint_path=ckpt)
    assert m["resumed_groups"] >= 1
    assert tiny_table.current_snapshot_id() == 4
    assert_same_rows(before, scan(spark, tiny_table).select("conv_id", "turn_idx", "text"))


def test_compact_noop_when_healthy(spark, tiny_table):
    compact(spark, tiny_table, target_bytes=TARGET)
    m2 = compact(spark, tiny_table, target_bytes=TARGET)
    assert m2.get("noop") or m2["planned_groups"] <= 1


def test_scoped_compact_touches_only_overlapping_files(spark, tiny_table):
    """conv_id_range-scoped compaction (rewrite_data_files WHERE): files
    outside the predicate stay byte-identical AND uncommitted."""
    from e_commerce_lakehouse_spark.table import scan

    t = tiny_table
    before_rows = scan(spark, t).collect()
    all_entries = {e.path for e in t.entries()}
    # scope: first half of the conv id space
    convs = sorted({r["conv_id"] for r in before_rows})
    scope = (convs[0], convs[len(convs) // 2])
    in_scope = {
        e.path for e in t.entries()
        if not (e.stats["conv_id"][1] < scope[0] or e.stats["conv_id"][0] > scope[1])
    }
    res = compact(spark, t, target_bytes=1 << 20, conv_id_range=scope)
    assert 0 < res["input_files"] <= len(in_scope)
    after_entries = {e.path for e in t.entries()}
    # every out-of-scope file is still the SAME physical file
    assert (all_entries - in_scope) <= after_entries
    # content identical
    after_rows = scan(spark, t).collect()
    assert sorted(map(tuple, after_rows)) == sorted(map(tuple, before_rows))


def test_scoped_and_full_compact_use_distinct_checkpoints(spark, tiny_table):
    """A crashed scoped run leaves a scope-tagged checkpoint so a later
    FULL compact at the same snapshot can never resume the scoped plan's
    group ids against its own different groups."""
    import glob
    import os

    from e_commerce_lakehouse_spark.operators.compact import SimulatedCrash

    t = tiny_table
    convs = sorted({e.stats["conv_id"][0] for e in t.entries()})
    with pytest.raises(SimulatedCrash):
        compact(spark, t, target_bytes=1 << 20,
                conv_id_range=(convs[0], convs[-1]), fail_after_groups=1)
    cks = glob.glob(os.path.join(t.metadata_dir, "compact-*-scope*.ckpt.jsonl"))
    assert cks, "scoped run must use a scope-tagged checkpoint"
    full_default = glob.glob(
        os.path.join(t.metadata_dir, "compact-????????.ckpt.jsonl")
    )
    assert not full_default, "scoped checkpoint must not shadow the full one"


def test_history_log(spark, tiny_table):
    t = tiny_table
    compact(spark, t, target_bytes=1 << 20)
    t.create_tag("after-compact")
    h = t.history()
    assert [e["snapshot_id"] for e in h] == t.snapshot_ids()
    assert h[-1]["is_current"] and h[-1]["operation"] == "replace"
    assert h[-1]["tags"] == ["after-compact"]
    assert all(e["timestamp_ms"] > 0 for e in h)


def test_order_preserving_compact_keeps_stats_narrow(spark, tiny_df, tiny_table):
    """On a clustered table, FFD packing merges distant conv_id ranges;
    ordered packing must keep each output's stat range a union of
    NEIGHBORS so point-scans still prune files."""
    import shutil

    from e_commerce_lakehouse_spark.operators.cluster import cluster
    from e_commerce_lakehouse_spark.table.meta import Table

    def stat_width(t):
        widths = []
        for e in t.entries():
            rng = e.stats.get("conv_id")
            if rng:
                widths.append(int(rng[1][5:]) - int(rng[0][5:]))  # conv-%012d
        return max(widths) if widths else 0

    # two identical clustered copies
    cluster(spark, tiny_table, curve="zorder", target_bytes=16 * 1024)
    root2 = tiny_table.root + "-ffd"
    shutil.rmtree(root2, ignore_errors=True)
    shutil.copytree(tiny_table.root, root2)
    t_ffd = Table.load(root2)

    pre_files = len(tiny_table.entries())
    from e_commerce_lakehouse_spark.operators.compact import compact

    m_ord = compact(spark, tiny_table, target_bytes=64 * 1024, order_preserving=True)
    m_ffd = compact(spark, t_ffd, target_bytes=64 * 1024)
    assert m_ord["planned_groups"] >= 1 and m_ffd["planned_groups"] >= 1
    assert len(tiny_table.entries()) < pre_files  # it actually compacted
    # ordered packing keeps ranges at least as narrow as FFD, and strictly
    # narrower when FFD merged distant ranges
    assert stat_width(tiny_table) <= stat_width(t_ffd)
    # the table still reads identically
    from e_commerce_lakehouse_spark.table import scan
    from tests.conftest import assert_same_rows

    assert_same_rows(
        scan(spark, tiny_table).select("conv_id", "turn_idx", "text"),
        tiny_df.select("conv_id", "turn_idx", "text"),
    )
    shutil.rmtree(root2, ignore_errors=True)


def test_order_preserving_checkpoint_namespace(spark, tiny_table):
    """An ordered plan must not resume against an FFD plan's checkpoint
    (different group ids): the default checkpoint name is tagged."""
    import os

    from e_commerce_lakehouse_spark.operators.compact import SimulatedCrash, compact

    try:
        compact(spark, tiny_table, target_bytes=1 << 20, order_preserving=True,
                fail_after_groups=1)
    except SimulatedCrash:
        pass
    names = os.listdir(tiny_table.metadata_dir)
    assert any("-ordered" in n and n.endswith(".ckpt.jsonl") for n in names)


def test_compact_partial_progress_commits_incrementally(spark, tiny_table):
    """Iceberg partial-progress semantics: wave_size=1 + a high commit cap
    ⇒ one REPLACE commit per wave instead of one at the end; every
    intermediate snapshot is a consistent full view of the table."""
    base = tiny_table.current_snapshot_id()
    before = scan(spark, tiny_table).select("conv_id", "turn_idx", "text")
    m = compact(spark, tiny_table, target_bytes=TARGET, wave_size=1,
                partial_progress=True, partial_max_commits=100)
    assert m["partial_commits"] >= 1
    assert m["committed_snapshot"] == tiny_table.current_snapshot_id()
    # every partial snapshot is marked and scans to the SAME logical rows
    for sid in m["partial_snapshot_ids"]:
        assert tiny_table.snapshot(sid).summary.get("partial_progress") is True
        assert_same_rows(before,
                         scan(spark, tiny_table, snapshot_id=sid)
                         .select("conv_id", "turn_idx", "text"))
    # pre-compaction pin unaffected (snapshot isolation across all commits)
    assert_same_rows(before,
                     scan(spark, tiny_table, snapshot_id=base)
                     .select("conv_id", "turn_idx", "text"))
    assert_same_rows(before, scan(spark, tiny_table).select("conv_id", "turn_idx", "text"))


def test_compact_partial_progress_crash_keeps_committed_work(spark, tiny_table):
    """A crash mid-run loses only the uncommitted tail: the partial
    commits already published stand, the head stays consistent, and a
    fresh run (planning from the advanced head) finishes the job."""
    base = tiny_table.current_snapshot_id()
    before = scan(spark, tiny_table).select("conv_id", "turn_idx", "text")
    # ~96 KB target over ~30-50 KB files ⇒ several groups, so the crash
    # lands AFTER wave 1's partial commit
    with pytest.raises(SimulatedCrash):
        compact(spark, tiny_table, target_bytes=96 * 1024, wave_size=1,
                partial_progress=True, partial_max_commits=100,
                fail_after_groups=2)
    head = tiny_table.current_snapshot_id()
    assert head > base  # wave 1's partial commit survived the crash
    assert_same_rows(before, scan(spark, tiny_table).select("conv_id", "turn_idx", "text"))
    # a fresh run plans from the advanced head and completes the rest
    m = compact(spark, tiny_table, target_bytes=96 * 1024)
    assert m.get("noop") is not True
    assert_same_rows(before, scan(spark, tiny_table).select("conv_id", "turn_idx", "text"))
