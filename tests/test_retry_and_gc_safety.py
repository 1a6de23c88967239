"""Orchestrator retry-with-backoff + GC/resume interaction safety.

- with_retries (run_maintenance.py): a stage that crashes transiently is
  retried with backoff, and because compaction checkpoints per file
  group, each retry RESUMES (only unfinished groups re-run). Reference
  analog: Step Functions Retry states
  (/root/reference/src/step_functions/etl_orchestrator.json:133-159).
- expire_snapshots must NOT GC the uncommitted outputs of a crashed but
  resumable compact (they are referenced only by the live checkpoint);
  and if files vanish anyway, resume re-verifies and re-runs the group
  instead of committing dangling references (ADVICE r1).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from run_maintenance import with_retries  # noqa: E402

from e_commerce_lakehouse_spark.operators.compact import SimulatedCrash, compact  # noqa: E402
from e_commerce_lakehouse_spark.operators.expire import expire_snapshots  # noqa: E402
from e_commerce_lakehouse_spark.table.scan import scan  # noqa: E402
from tests.conftest import assert_same_rows  # noqa: E402


TARGET = 96 * 1024  # small target so the tiny table forms several groups


def test_with_retries_recovers_and_resumes(spark, tiny_table):
    before = scan(spark, tiny_table).cache()
    before.count()
    calls = {"n": 0}

    def crashy():
        calls["n"] += 1
        # crash after 2 newly-completed groups; resume leaves fewer each time
        return compact(spark, tiny_table, target_bytes=TARGET,
                       fail_after_groups=2)

    m = with_retries(crashy, attempts=10, backoff_s=0.01)
    assert m["planned_groups"] > 2, "precondition: multiple groups"
    assert m["committed_snapshot"] > m["base_snapshot"]
    assert calls["n"] >= 2  # at least one crash+retry actually happened
    assert m["resumed_groups"] >= 2
    assert_same_rows(scan(spark, tiny_table), before)


def test_with_retries_gives_up_and_reraises():
    def always():
        raise ValueError("permanent")

    with pytest.raises(ValueError, match="permanent"):
        with_retries(always, attempts=3, backoff_s=0.0)


def test_expire_protects_checkpointed_outputs(spark, tiny_table):
    before = scan(spark, tiny_table).cache()
    before.count()
    with pytest.raises(SimulatedCrash):
        compact(spark, tiny_table, target_bytes=TARGET, fail_after_groups=2)
    ckpts = [f for f in os.listdir(tiny_table.metadata_dir) if f.endswith(".ckpt.jsonl")]
    assert ckpts, "crash must leave a live checkpoint"
    from e_commerce_lakehouse_spark.checkpoint import Checkpoint

    recs = Checkpoint(os.path.join(tiny_table.metadata_dir, ckpts[0])).records()
    outputs = [p for r in recs for p in r.get("output_files", [])]
    assert outputs

    # GC between crash and resume: checkpointed outputs must survive
    expire_snapshots(tiny_table, keep_last=1)
    for p in outputs:
        assert os.path.exists(os.path.join(tiny_table.root, p)), p

    # resume completes and the table is byte-equal
    m = compact(spark, tiny_table, target_bytes=TARGET)
    assert m["resumed_groups"] >= 2
    assert_same_rows(scan(spark, tiny_table), before)


def test_resume_reverifies_missing_outputs(spark, tiny_table):
    before = scan(spark, tiny_table).cache()
    before.count()
    with pytest.raises(SimulatedCrash):
        compact(spark, tiny_table, target_bytes=TARGET, fail_after_groups=2)
    ckpts = [f for f in os.listdir(tiny_table.metadata_dir) if f.endswith(".ckpt.jsonl")]
    from e_commerce_lakehouse_spark.checkpoint import Checkpoint

    recs = Checkpoint(os.path.join(tiny_table.metadata_dir, ckpts[0])).records()
    victim = recs[0]["output_files"][0]
    os.remove(os.path.join(tiny_table.root, victim))  # simulate rogue GC

    m = compact(spark, tiny_table, target_bytes=TARGET)
    # the group with the deleted output was re-run, not re-committed blind
    assert os.path.exists(os.path.join(tiny_table.root, victim)) or all(
        os.path.exists(os.path.join(tiny_table.root, e.path)) for e in tiny_table.entries()
    )
    assert_same_rows(scan(spark, tiny_table), before)


def test_expire_prunes_stale_abandoned_checkpoints(spark, tiny_table):
    """An abandoned run's checkpoint (older than stale_checkpoint_ms) must
    lose its GC protection: the .ckpt.jsonl is pruned and the orphan
    outputs it pinned are collected in the same pass (ADVICE r2: without
    an age bound, a never-resumed crash pins tmpfs RAM forever)."""
    before = scan(spark, tiny_table).cache()
    before.count()
    with pytest.raises(SimulatedCrash):
        compact(spark, tiny_table, target_bytes=TARGET, fail_after_groups=2)
    ckpts = [f for f in os.listdir(tiny_table.metadata_dir) if f.endswith(".ckpt.jsonl")]
    assert ckpts
    ck_path = os.path.join(tiny_table.metadata_dir, ckpts[0])
    from e_commerce_lakehouse_spark.checkpoint import Checkpoint

    outputs = [p for r in Checkpoint(ck_path).records() for p in r.get("output_files", [])]
    assert outputs

    # FRESH checkpoint: protected even with a tight bound parameter
    m = expire_snapshots(tiny_table, keep_last=1, stale_checkpoint_ms=3_600_000)
    assert m["pruned_stale_checkpoints"] == 0
    for p in outputs:
        assert os.path.exists(os.path.join(tiny_table.root, p)), p

    # age the checkpoint past the bound -> pruned, outputs collected
    old = os.path.getmtime(ck_path) - 7200
    os.utime(ck_path, (old, old))
    m = expire_snapshots(tiny_table, keep_last=1, stale_checkpoint_ms=3_600_000)
    assert m["pruned_stale_checkpoints"] == 1
    assert not os.path.exists(ck_path)
    for p in outputs:
        assert not os.path.exists(os.path.join(tiny_table.root, p)), p

    # resume-after-prune is still correct: compact re-runs from scratch
    m2 = compact(spark, tiny_table, target_bytes=TARGET)
    assert m2["committed_snapshot"] > m2["base_snapshot"]
    assert_same_rows(scan(spark, tiny_table), before)
