"""scan_semi_join (join-driven dynamic file pruning): result equality
with full-scan semi-join, actual file skipping under both layouts
(range-sorted and bloom-bucketed), MoR tombstone interplay, and the
selectivity/input contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.table import scan, scan_semi_join
from e_commerce_lakehouse_spark.table.meta import Table
from e_commerce_lakehouse_spark.table.writer import write_files


def _mk_table(spark, tiny_df, root, layout: str) -> Table:
    t = Table.create(str(root))
    if layout == "bloom-bucketed":
        t.set_bloom_columns(["conv_id"])
        for i in range(4):
            part = tiny_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == i)
            entries = write_files(spark, t, part, 2, f"b{i}")
            t.commit_append(entries, {"op": f"ingest-{i}"})
    else:  # range-sorted: disjoint conv_id ranges per file, no blooms
        for i, (lo, hi) in enumerate([(0, 50), (50, 100), (100, 150), (150, 10**9)]):
            part = tiny_df.where(
                F.col("conv_id").between(
                    f"conv-{lo:012d}", f"conv-{hi:012d}"
                )
                & (F.col("conv_id") != f"conv-{hi:012d}")
            )
            entries = write_files(spark, t, part, 2, f"r{i}")
            t.commit_append(entries, {"op": f"ingest-{i}"})
    return t


@pytest.mark.parametrize("layout", ["range-sorted", "bloom-bucketed"])
def test_semi_join_equals_full_scan_and_prunes(spark, tiny_df, tmp_path, layout):
    t = _mk_table(spark, tiny_df, tmp_path / layout, layout)
    # ~3 existing hot conversations + one absent in-range key
    keys = ["conv-%012d" % i for i in (0, 1, 7)] + ["conv-000000000007-absent"]
    m: dict = {}
    got = scan_semi_join(spark, t, keys, key_col="conv_id", metrics=m)
    want = scan(spark, t).where(F.col("conv_id").isin(keys))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0
    # both layouts must actually skip files for this key set
    assert m["files_total"] == 8
    assert m["files_kept"] < m["files_total"], m
    assert m["n_keys"] == 4


def test_semi_join_dataframe_build_side(spark, tiny_df, tmp_path):
    t = _mk_table(spark, tiny_df, tmp_path / "tb", "bloom-bucketed")
    build = spark.createDataFrame(
        [("conv-%012d" % 2, 1), ("conv-%012d" % 2, 2), ("conv-%012d" % 5, 3)],
        ["conv_id", "junk"],
    )
    got = scan_semi_join(spark, t, build, key_col="conv_id")
    want = scan(spark, t).where(
        F.col("conv_id").isin(["conv-%012d" % 2, "conv-%012d" % 5])
    )
    assert got.count() == want.count() > 0


def test_semi_join_empty_keys_and_contracts(spark, tiny_df, tmp_path):
    t = _mk_table(spark, tiny_df, tmp_path / "tc", "range-sorted")
    empty = scan_semi_join(spark, t, [], key_col="conv_id")
    assert empty.count() == 0
    assert "conv_id" in empty.columns  # typed empty frame
    # None keys are dropped, not probed
    one = scan_semi_join(spark, t, [None, "conv-%012d" % 1], key_col="conv_id")
    assert one.select("conv_id").distinct().count() == 1
    with pytest.raises(ValueError, match="max_keys"):
        scan_semi_join(
            spark, t, ["conv-%012d" % i for i in range(5)],
            key_col="conv_id", max_keys=3,
        )
    with pytest.raises(TypeError, match="orderable"):
        scan_semi_join(spark, t, ["conv-000000000001", 7], key_col="conv_id")


def test_semi_join_reads_through_mor_tombstones(spark, tiny_df, tmp_path):
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where

    t = _mk_table(spark, tiny_df, tmp_path / "td", "bloom-bucketed")
    key = "conv-%012d" % 1
    before = scan_semi_join(spark, t, [key], key_col="conv_id").count()
    assert before > 0
    delete_where(
        spark, t, f"conv_id = '{key}' AND turn_idx >= 2",
        mode="merge-on-read", keys=["conv_id", "turn_idx"],
    )
    t2 = Table.load(t.root)
    after = scan_semi_join(spark, t2, [key], key_col="conv_id")
    assert after.where(F.col("turn_idx") >= 2).count() == 0
    assert after.count() == min(before, 2)


def test_semi_join_empty_keys_populates_metrics(spark, tiny_df, tmp_path):
    t = _mk_table(spark, tiny_df, tmp_path / "tm", "range-sorted")
    m: dict = {}
    scan_semi_join(spark, t, [], key_col="conv_id", metrics=m)
    assert m == {"files_total": 0, "files_kept": 0, "n_keys": 0}


def test_semi_join_overflow_scan_fallback(spark, tiny_df, tmp_path):
    t = _mk_table(spark, tiny_df, tmp_path / "to", "range-sorted")
    keys = ["conv-%012d" % i for i in range(6)]
    m: dict = {}
    got = scan_semi_join(
        spark, t, keys, key_col="conv_id", max_keys=3,
        on_overflow="scan", metrics=m,
    )
    want = scan(spark, t).where(F.col("conv_id").isin(keys))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert m["n_keys"] == -1 and m["files_kept"] == m["files_total"] > 0
    with pytest.raises(ValueError, match="on_overflow"):
        scan_semi_join(spark, t, keys, key_col="conv_id", on_overflow="nope")


def test_semi_join_bloom_skips_without_stats(spark, tiny_df, tmp_path):
    # review finding: a stats-less file with a bloom is still provably
    # skippable — the bloom check must run even when min/max is absent
    t = Table.create(str(tmp_path / "tb_nostats"))
    t.set_bloom_columns(["conv_id"])
    for i in range(4):
        part = tiny_df.where(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == i)
        # stat only ts: conv_id has a bloom but NO min/max range
        entries = write_files(spark, t, part, 2, f"b{i}", stat_columns=("ts",))
        t.commit_append(entries, {"op": f"ingest-{i}"})
    keys = ["conv-%012d" % 1]
    m: dict = {}
    got = scan_semi_join(spark, t, keys, key_col="conv_id", metrics=m)
    want = scan(spark, t).where(F.col("conv_id").isin(keys))
    assert got.count() == want.count() > 0
    assert m["files_kept"] < m["files_total"], m


def test_cli_semi_scan_op(spark, tiny_df, tmp_path, capsys):
    import json
    import sys

    sys.path.insert(0, ".")
    from run_maintenance import main

    t = _mk_table(spark, tiny_df, tmp_path / "cli", "range-sorted")
    key = "conv-%012d" % 1
    assert main(["--table", str(t.root), "--op", "semi-scan",
                 "--key-cols", "conv_id", "--keys", key]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = scan(spark, t).where(F.col("conv_id") == key).count()
    assert out["n_rows"] == want > 0
    assert out["files_skipped"] > 0
    assert out["files_total"] == out["files_kept"] + out["files_skipped"]


def test_semi_join_randomized_differential(spark, tiny_df, tmp_path):
    """Seeded randomized differential: random bucketed layouts (bloom on
    or off), random key sets (present, absent-in-range, absent-out-of-
    range, None), with a MoR delete mixed in — scan_semi_join must
    EQUAL full-scan + isin in every draw, and metrics must stay
    coherent (kept <= total, skipping never breaks equality)."""
    import random

    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where

    for seed in (13, 47):
        rng = random.Random(seed)
        root = tmp_path / f"rand{seed}"
        t = Table.create(str(root))
        use_bloom = rng.random() < 0.5
        if use_bloom:
            t.set_bloom_columns(["conv_id"])
        n_buckets = rng.choice([3, 4, 5])
        for i in range(n_buckets):
            part = tiny_df.where(
                F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)) == i
            )
            entries = write_files(spark, t, part, rng.choice([1, 2]), f"b{i}")
            t.commit_append(entries, {"op": f"ingest-{i}"})
        # MoR-delete one present conversation's tail
        mor_key = "conv-%012d" % rng.randrange(0, 10)
        delete_where(
            spark, t, f"conv_id = '{mor_key}' AND turn_idx >= 1",
            mode="merge-on-read", keys=["conv_id", "turn_idx"],
        )
        t = Table.load(t.root)
        keys = [None]
        for _ in range(rng.randrange(1, 6)):
            keys.append("conv-%012d" % rng.randrange(0, 40))
        keys.append("conv-%012d-absent" % rng.randrange(0, 40))  # in range
        keys.append("zzz-out-of-range")
        m: dict = {}
        got = scan_semi_join(spark, t, keys, key_col="conv_id", metrics=m)
        want = scan(spark, t).where(
            F.col("conv_id").isin([k for k in keys if k is not None])
        )
        assert got.exceptAll(want).count() == 0, f"seed {seed}"
        assert want.exceptAll(got).count() == 0, f"seed {seed}"
        assert 0 <= m["files_kept"] <= m["files_total"], (seed, m)


def test_semi_join_partition_bucket_pruning(spark, tiny_df, tmp_path):
    """A bucket(conv_id, 4)-partitioned table: the key set's bucket
    values alone must prune partitions (exact, before any stats or
    bloom work) and the result still equals full-scan + isin."""
    from e_commerce_lakehouse_spark.table import PartitionField
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    root = str(tmp_path / "pt")
    t = create_transcripts_table(
        spark, root, tiny_df, rows_per_file=300,
        partition_spec=[PartitionField("cb", "conv_id", "bucket[4]")],
    )
    keys = ["conv-%012d" % 3]
    m: dict = {}
    got = scan_semi_join(spark, t, keys, key_col="conv_id", metrics=m)
    want = scan(spark, t).where(F.col("conv_id").isin(keys))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0
    # one key -> one bucket of four: at least the other buckets' files
    # must be gone (stats may prune further)
    assert m["files_kept"] <= m["files_total"] // 2, m


def test_cli_semi_scan_keys_file(spark, tiny_df, tmp_path, capsys):
    import json
    import sys

    sys.path.insert(0, ".")
    from run_maintenance import main

    t = _mk_table(spark, tiny_df, tmp_path / "clif", "range-sorted")
    keys = ["conv-%012d" % 2, "conv-%012d" % 9]
    kf = str(tmp_path / "keys.parquet")
    spark.createDataFrame([(k,) for k in keys], ["conv_id"]).write.parquet(kf)
    assert main(["--table", str(t.root), "--op", "semi-scan",
                 "--key-cols", "conv_id", "--keys-file", kf]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = scan(spark, t).where(F.col("conv_id").isin(keys)).count()
    assert out["n_rows"] == want > 0


def test_semi_join_identity_partition_int_key_not_lost(spark, tmp_path):
    """Review finding: identity partition values round-trip as path
    STRINGS; an int identity key must still match (canonical-string
    compare), and other partitions must still prune."""
    from e_commerce_lakehouse_spark.table import PartitionField

    df = spark.createDataFrame(
        [(i, i % 3, f"t{i}") for i in range(30)], "rid long, grp long, txt string"
    )
    t = Table.create(str(tmp_path / "ident"))
    t.set_partition_spec([PartitionField("g", "grp", "identity")], df.columns)
    for g in range(3):
        part = df.where(F.col("grp") == g)
        entries = write_files(spark, t, part, 1, f"g{g}", stat_columns=("grp",))
        t.commit_append(entries, {"op": f"ingest-{g}"})
    m: dict = {}
    got = scan_semi_join(spark, t, [1], key_col="grp",
                         schema=df.schema, metrics=m)
    assert got.count() == 10          # NOT zero — the int key matched
    assert m["files_kept"] == 1, m    # the other two partitions pruned


def test_cli_semi_scan_numeric_looking_string_keys(spark, tiny_df, tmp_path, capsys):
    """Review finding: --keys values that look numeric must be typed by
    the COLUMN (string conv_id stays string — no int cast probing the
    wrong bucket)."""
    import json
    import sys

    sys.path.insert(0, ".")
    from run_maintenance import main

    t = _mk_table(spark, tiny_df, tmp_path / "clin", "bloom-bucketed")
    assert main(["--table", str(t.root), "--op", "semi-scan",
                 "--key-cols", "conv_id", "--keys", "12345"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 0  # absent key: empty, no crash, no mis-typing
