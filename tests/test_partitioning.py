"""Hidden partitioning (table/partition.py): Iceberg-style transforms.

Reference analog: partitioned Delta writes + partition pruning
(`orders_etl.py:191-194`, `products_etl.py:91-94`). Here the partition
values are DERIVED from row columns by declared transforms (bucket/day/
identity), stored per-file in the manifest, never in the data files —
and the planner prunes EXACTLY from ordinary column predicates.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.cluster import cluster
from e_commerce_lakehouse_spark.operators.compact import compact
from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
from e_commerce_lakehouse_spark.synth import transcripts_df
from e_commerce_lakehouse_spark.table import planned_entries, scan
from e_commerce_lakehouse_spark.table.meta import Table
from e_commerce_lakehouse_spark.table.partition import (
    PartitionField,
    apply_transform,
)
from e_commerce_lakehouse_spark.table.writer import (
    append_dataframe,
    create_transcripts_table,
)
from tests.conftest import assert_same_rows

BUCKET = PartitionField("conv_bucket", "conv_id", "bucket[4]")
DAY = PartitionField("ts_day", "ts", "day")


@pytest.fixture()
def bucket_table(spark, tmp_path):
    df = transcripts_df(spark, 2_000, seed=5).cache()
    df.count()
    root = str(tmp_path / "ptbl")
    t = create_transcripts_table(spark, root, df, rows_per_file=250,
                                 partition_spec=[BUCKET])
    return t, df


def test_partitioned_write_and_exact_point_pruning(spark, bucket_table):
    t, df = bucket_table
    entries = t.entries()
    assert entries and all(
        e.partition is not None and "conv_bucket" in e.partition for e in entries
    )
    buckets = {e.partition["conv_bucket"] for e in entries}
    assert buckets == {0, 1, 2, 3}
    # full scan: unchanged data schema, full-row equality
    assert_same_rows(scan(spark, t), df)

    some_conv = df.select("conv_id").first()["conv_id"]
    want = apply_transform(BUCKET, some_conv)
    planned = planned_entries(t, conv_id=some_conv)
    assert planned, "point scan planned zero files"
    assert all(e.partition["conv_bucket"] == want for e in planned)
    # EXACT: files from the other three buckets are gone regardless of
    # their conv_id min/max stats
    assert len(planned) < len(entries)
    assert_same_rows(
        scan(spark, t, conv_id=some_conv), df.where(F.col("conv_id") == some_conv)
    )


def test_compact_preserves_partition_purity(spark, bucket_table):
    t, df = bucket_table
    n_before = len(t.entries())
    m = compact(spark, t, target_bytes=256 << 20)  # would merge ALL without the split
    assert not m.get("noop")
    entries = t.entries()
    # outputs inherit their group's partition tuple; never cross-bucket
    assert all(e.partition is not None for e in entries)
    assert len(entries) == 4 < n_before  # one output per bucket
    assert_same_rows(scan(spark, t), df)
    some_conv = df.select("conv_id").first()["conv_id"]
    planned = planned_entries(t, conv_id=some_conv)
    assert len(planned) == 1  # exact pruning survives compaction


def test_cluster_is_partition_pure(spark, bucket_table):
    t, df = bucket_table
    m = cluster(spark, t, curve="zorder", target_bytes=1 << 20)
    assert m["output_files"] >= 4
    entries = t.entries()
    assert all(e.partition is not None and "conv_bucket" in e.partition
               for e in entries)
    assert {e.partition["conv_bucket"] for e in entries} == {0, 1, 2, 3}
    assert_same_rows(scan(spark, t), df)
    some_conv = df.select("conv_id").first()["conv_id"]
    want = apply_transform(BUCKET, some_conv)
    planned = planned_entries(t, conv_id=some_conv)
    assert planned and all(e.partition["conv_bucket"] == want for e in planned)


def test_sharded_cluster_partition_pure_with_crash_resume(spark, bucket_table):
    """Resumable (sharded) clustering on a hidden-partitioned table: the
    run crashes after 1 shard, resumes, and every output file still
    belongs to exactly one partition — exact pruning survives the 100 TB
    migration path."""
    from e_commerce_lakehouse_spark.operators.cluster import SimulatedCrash

    t, df = bucket_table
    sid0 = t.current_snapshot_id()
    with pytest.raises(SimulatedCrash):
        cluster(spark, t, curve="zorder", shards=3, target_bytes=1 << 20,
                fail_after_shards=1)
    assert t.current_snapshot_id() == sid0  # nothing committed
    m = cluster(spark, t, curve="zorder", shards=3, target_bytes=1 << 20)
    assert m["output_files"] >= 4
    entries = t.entries()
    assert all(e.partition is not None and "conv_bucket" in e.partition
               for e in entries)
    assert {e.partition["conv_bucket"] for e in entries} == {0, 1, 2, 3}
    assert_same_rows(scan(spark, t), df)
    some_conv = df.select("conv_id").first()["conv_id"]
    want = apply_transform(BUCKET, some_conv)
    planned = planned_entries(t, conv_id=some_conv)
    assert planned and all(e.partition["conv_bucket"] == want for e in planned)
    assert len(planned) < len(entries)


def test_append_derives_partition_and_mor_delete_reads_right(spark, bucket_table):
    t, df = bucket_table
    extra = (
        transcripts_df(spark, 400, seed=6)
        .withColumn("conv_id", F.concat(F.lit("zz-"), F.col("conv_id")))
        .cache()
    )
    extra.count()
    append_dataframe(spark, t, extra, rows_per_file=200)
    new_entries = [e for e in t.entries() if e.path.startswith("data/append-")]
    assert new_entries and all(e.partition is not None for e in new_entries)

    pred = "turn_idx = 0 AND conv_id <= 'conv-0000000000zz'"
    delete_where(spark, t, pred, mode="merge-on-read")
    expected = df.unionByName(extra).where(f"NOT ({pred})")
    assert_same_rows(scan(spark, t), expected)


def _assert_zstd_and_partitioned(t, step):
    """Every live data file is zstd-coded and carries a bucket tuple."""
    entries = t.entries()
    assert entries, step
    for e in entries:
        assert e.partition is not None and "conv_bucket" in e.partition, (step, e.path)
        md = pq.ParquetFile(os.path.join(t.root, e.path)).metadata
        codecs = {md.row_group(i).column(j).compression
                  for i in range(md.num_row_groups)
                  for j in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (step, e.path, codecs)


def test_every_write_path_is_zstd_and_partition_pure(spark, bucket_table):
    """One writer, one policy: after each write path on one bucket-
    partitioned table, every live file is zstd and partition-pure —
    including update-MoR post-images and scoped-cluster outputs."""
    from e_commerce_lakehouse_spark.operators.merge import merge_into
    from e_commerce_lakehouse_spark.operators.metaagg import retention_delete
    from e_commerce_lakehouse_spark.operators.rowlevel import update_where

    t, df = bucket_table
    _assert_zstd_and_partitioned(t, "create")

    extra = (
        transcripts_df(spark, 300, seed=11)
        .withColumn("conv_id", F.concat(F.lit("zz-"), F.col("conv_id")))
        .cache()
    )
    append_dataframe(spark, t, extra, rows_per_file=100)
    expected = df.unionByName(extra)
    _assert_zstd_and_partitioned(t, "append")

    src = (df.orderBy("conv_id", "turn_idx").limit(30)
           .withColumn("text", F.lit("merged"))
           .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")))
    merge_into(spark, t, src)
    expected = expected.join(src.select("conv_id", "turn_idx"),
                             ["conv_id", "turn_idx"], "left_anti").unionByName(src)
    _assert_zstd_and_partitioned(t, "merge")

    delete_where(spark, t, "turn_idx = 1")
    expected = expected.where("turn_idx != 1")
    _assert_zstd_and_partitioned(t, "cow delete")

    m = update_where(spark, t, "turn_idx = 2", {"text": F.lit("upd")},
                     mode="merge-on-read")
    assert m["updated_rows"] > 0
    expected = expected.withColumn(
        "text", F.when(F.col("turn_idx") == 2, F.lit("upd")).otherwise(F.col("text")))
    _assert_zstd_and_partitioned(t, "update-mor")

    cutoff = expected.agg(F.min("ts")).first()[0] + dt.timedelta(days=10)
    m = retention_delete(spark, t, cutoff)
    assert m["files_rewritten"] > 0
    expected = expected.where(F.col("ts") >= F.lit(cutoff))
    _assert_zstd_and_partitioned(t, "retention_delete")

    m = compact(spark, t, target_bytes=256 << 20)
    assert not m.get("noop")
    _assert_zstd_and_partitioned(t, "compact")

    m = cluster(spark, t, curve="zorder", target_bytes=1 << 20,
                conv_id_range=("conv-", "conv-000000000050"))
    assert not m.get("noop")
    _assert_zstd_and_partitioned(t, "scoped single-pass cluster")

    cluster(spark, t, curve="hilbert", shards=2, target_bytes=1 << 20)
    _assert_zstd_and_partitioned(t, "sharded cluster")
    assert_same_rows(scan(spark, t), expected)


def test_day_partitioning_prunes_time_ranges(spark, tmp_path):
    df = transcripts_df(spark, 800, seed=7).cache()
    df.count()
    t = create_transcripts_table(spark, str(tmp_path / "dtbl"), df,
                                 rows_per_file=800, partition_spec=[DAY])
    entries = t.entries()
    days = sorted({e.partition["ts_day"] for e in entries})
    assert len(days) > 5  # synth spreads ts over ~116 days
    # a 3-day window keeps only those days' files — exact, not stat-based
    lo_day = days[len(days) // 2]
    lo = dt.datetime(1970, 1, 1) + dt.timedelta(days=lo_day)
    hi = lo + dt.timedelta(days=2, hours=23, minutes=59)
    planned = planned_entries(t, ts_range=(lo, hi))
    assert planned and all(
        lo_day <= e.partition["ts_day"] <= lo_day + 2 for e in planned
    )
    assert len(planned) < len(entries)
    assert_same_rows(
        scan(spark, t, ts_range=(lo, hi)),
        df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
    )


def test_spec_guards(spark, tmp_path, bucket_table):
    t, df = bucket_table
    with pytest.raises(ValueError, match="already set"):
        t.set_partition_spec([DAY], ["conv_id", "ts"])
    empty = Table.create(str(tmp_path / "etbl"))
    with pytest.raises(ValueError, match="unknown partition transform"):
        empty.set_partition_spec(
            [PartitionField("x", "ts", "month")], ["ts"]
        )
    with pytest.raises(ValueError, match="not in schema"):
        empty.set_partition_spec(
            [PartitionField("x", "nope", "day")], ["ts"]
        )
    with pytest.raises(ValueError, match="collides"):
        empty.set_partition_spec(
            [PartitionField("ts", "ts", "day")], ["ts"]
        )
    # spec on a table with committed data: refused
    t2 = create_transcripts_table(spark, str(tmp_path / "dtbl2"),
                                  transcripts_df(spark, 100, seed=8))
    with pytest.raises(ValueError, match="committed data"):
        t2.set_partition_spec([DAY], ["conv_id", "ts"])


def test_partition_evolution_mixed_vintage(spark, tmp_path, bucket_table):
    """Iceberg-style spec evolution: old files keep their bucket tuples,
    new appends lay out under day(ts); pruning applies each vintage's own
    fields and a full cluster() migrates everything to the current spec."""
    t, df = bucket_table
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    t.evolve_partition_spec([DAY], cols)
    assert [f.name for f in t.partition_spec()] == ["ts_day"]
    union = {f.name for f in t.partition_fields_for_pruning()}
    assert union == {"conv_bucket", "ts_day"}

    extra = transcripts_df(spark, 600, seed=9).withColumn(
        "conv_id", F.concat(F.lit("ev-"), F.col("conv_id"))
    ).cache()
    extra.count()
    append_dataframe(spark, t, extra, rows_per_file=300)
    both = df.unionByName(extra)
    assert_same_rows(scan(spark, t), both)

    old = [e for e in t.entries() if e.partition and "conv_bucket" in e.partition]
    new = [e for e in t.entries() if e.partition and "ts_day" in e.partition]
    assert old and new and not (
        {id(e) for e in old} & {id(e) for e in new}
    )

    # conv_id point predicate: prunes OLD vintage by bucket, keeps all new
    some_conv = df.select("conv_id").first()["conv_id"]
    want = apply_transform(BUCKET, some_conv)
    planned = planned_entries(t, conv_id=some_conv)
    assert all(
        e.partition.get("conv_bucket", want) == want for e in planned
    )
    assert len([e for e in planned if "conv_bucket" in e.partition]) < len(old)
    # (new-vintage files may ALSO drop out via min/max stats — the 'ev-'
    # prefix puts them outside the predicate's range; that's the stats
    # layer composing with partition pruning, not a partition false-drop)
    assert_same_rows(scan(spark, t, conv_id=some_conv),
                     both.where(F.col("conv_id") == some_conv))

    # ts range: prunes NEW vintage by day, keeps all old
    days = sorted({e.partition["ts_day"] for e in new})
    lo = dt.datetime(1970, 1, 1) + dt.timedelta(days=days[0])
    hi = lo + dt.timedelta(hours=23, minutes=59)
    planned = planned_entries(t, ts_range=(lo, hi))
    # old-vintage files carry no ts_day, so the PARTITION layer keeps
    # them all; the stats layer may still drop non-overlapping ones
    assert all(e.partition["ts_day"] == days[0]
               for e in planned if "ts_day" in e.partition)
    assert len([e for e in planned if "ts_day" in e.partition]) < len(new)
    assert_same_rows(
        scan(spark, t, ts_range=(lo, hi)),
        both.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
    )

    # full cluster migrates every file to the CURRENT spec
    cluster(spark, t, curve="zorder", target_bytes=1 << 20)
    assert all(e.partition is not None and "ts_day" in e.partition
               for e in t.entries())
    assert_same_rows(scan(spark, t), both)


def test_partition_evolution_guards(spark, tmp_path, bucket_table):
    t, _ = bucket_table
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # same-name different-transform redefinition: refused
    with pytest.raises(ValueError, match="redefined"):
        t.evolve_partition_spec(
            [PartitionField("conv_bucket", "conv_id", "bucket[8]")], cols
        )
    # idempotent re-declaration of the current spec: no-op
    before = t.partition_fields_for_pruning()
    t.evolve_partition_spec([BUCKET], cols)
    assert t.partition_fields_for_pruning() == before
    # evolving still validates sources against the schema
    with pytest.raises(ValueError, match="not in schema"):
        t.evolve_partition_spec([PartitionField("x", "nope", "day")], cols)
