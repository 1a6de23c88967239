"""Zero-copy shallow clone (operators/clone.py): metadata copy +
hardlinked data files; the two tables diverge independently and GC on
either side never breaks the other (immutable files, per-root links)."""

import os

import pytest

from e_commerce_lakehouse_spark.operators.clone import shallow_clone
from e_commerce_lakehouse_spark.operators.compact import compact
from e_commerce_lakehouse_spark.operators.expire import expire_snapshots
from e_commerce_lakehouse_spark.table.meta import Table
from e_commerce_lakehouse_spark.table.scan import scan
from e_commerce_lakehouse_spark.table.writer import append_dataframe


@pytest.fixture()
def src_table(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = Table.create(str(tmp_path / "src"))
    t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
    t.set_bloom_columns(["lang"])
    append_dataframe(spark, t, docs.limit(30))
    append_dataframe(spark, t, docs.exceptAll(docs.limit(30)))
    t.create_tag("v1")
    return t, docs


def test_clone_is_zero_copy_and_complete(spark, tmp_path, src_table):
    t, docs = src_table
    r = shallow_clone(t, str(tmp_path / "dst"))
    assert r["files_copied"] == 0  # same fs: everything hardlinked
    assert r["files_linked"] > 0
    c = Table.load(str(tmp_path / "dst"))
    # full content, full history, tags, specs came along
    assert scan(spark, c).count() == docs.count()
    assert c.snapshot_ids() == t.snapshot_ids()
    assert c.resolve_ref("v1") == t.resolve_ref("v1")
    assert "lang" in t.bloom_spec()
    assert c.bloom_spec() == t.bloom_spec()
    # data bytes are SHARED (hardlink: st_nlink == 2)
    e = c.entries()[0]
    assert os.stat(os.path.join(c.root, e.path)).st_nlink == 2


def test_clone_diverges_independently(spark, tmp_path, src_table):
    t, docs = src_table
    shallow_clone(t, str(tmp_path / "dst"))
    c = Table.load(str(tmp_path / "dst"))
    n = docs.count()
    append_dataframe(spark, c, docs.limit(7))     # clone moves ahead
    append_dataframe(spark, t, docs.limit(3))     # source moves too
    assert scan(spark, Table.load(c.root)).count() == n + 7
    assert scan(spark, Table.load(t.root)).count() == n + 3
    # compact + expire + orphan-GC the CLONE: the source must be intact
    compact(spark, c, target_bytes=1 << 20, stat_columns=("doc_id",))
    expire_snapshots(c, keep_last=1, orphan_grace_ms=0)
    assert scan(spark, Table.load(t.root)).count() == n + 3
    # ...and vice versa: GC the source, clone still reads
    compact(spark, t, target_bytes=1 << 20, stat_columns=("doc_id",))
    expire_snapshots(t, keep_last=1, orphan_grace_ms=0)
    assert scan(spark, Table.load(c.root)).count() == n + 7


def test_clone_refuses_nonempty_and_branch(spark, tmp_path, src_table):
    t, _docs = src_table
    dst = tmp_path / "dst"
    dst.mkdir()
    (dst / "junk").write_text("x")
    with pytest.raises(ValueError, match="not empty"):
        shallow_clone(t, str(dst))
    t.create_branch("dev")
    b = Table.load(t.root, branch="dev")
    with pytest.raises(ValueError, match="branch"):
        shallow_clone(b, str(tmp_path / "dst2"))


def test_clone_excludes_locks_txns_checkpoints(spark, tmp_path, src_table):
    from e_commerce_lakehouse_spark.table.meta import CommitConflictError

    t, _docs = src_table
    # a live writer holds the source lock: the capture must WAIT or
    # refuse (it runs under the commit lock), never snapshot mid-commit —
    # and the failed attempt must clean up after itself
    open(t._lock_path(), "w").write("held")
    with pytest.raises(CommitConflictError):
        shallow_clone(t, str(tmp_path / "dst"))
    assert not os.path.exists(str(tmp_path / "dst"))  # no half-built clone
    os.remove(t._lock_path())
    # txn markers and resume checkpoints never travel into the clone
    os.makedirs(os.path.join(t.metadata_dir, "txns"), exist_ok=True)
    open(os.path.join(t.metadata_dir, "txns", "zz.json"), "w").write("{}")
    open(os.path.join(t.metadata_dir, "x.ckpt.jsonl"), "w").write("")
    shallow_clone(t, str(tmp_path / "dst"))
    c = Table.load(str(tmp_path / "dst"))
    assert not os.path.exists(c._lock_path())
    assert not os.path.isdir(os.path.join(c.metadata_dir, "txns"))
    assert not any(f.endswith(".ckpt.jsonl")
                   for f in os.listdir(c.metadata_dir))


def test_clone_skips_inflight_multitable_txn_stage(spark, tmp_path, src_table):
    """ADVICE r5: a staged snapshot belonging to an in-flight MULTI-TABLE
    txn must not be captured — in the clone it can never heal or publish
    (txns/ markers are deliberately dropped), yet once the shared log
    reads committed it would count as logically published and pin its
    files forever. Plain WAP stages (no txn_log) are still captured."""
    from e_commerce_lakehouse_spark.table.txn import MultiTableTransaction

    t, docs = src_table
    # plain single-table WAP stage: must survive the clone
    wap = append_dataframe(spark, t, docs.limit(3), publish=False)
    # in-flight multi-table txn stage: must be skipped
    txn = MultiTableTransaction(str(tmp_path / "txns"))
    staged = txn.stage_append(spark, t, docs.limit(5))
    dst = str(tmp_path / "dst")
    shallow_clone(t, dst)
    c = Table.load(dst)
    cloned_ids = set(c.snapshot_ids())
    assert wap.snapshot_id in cloned_ids
    assert staged.snapshot_id not in cloned_ids
    # source keeps both, and the txn still commits there
    assert staged.snapshot_id in set(t.snapshot_ids())
    txn.commit()
