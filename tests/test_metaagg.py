"""Metadata-only aggregation (operators/metaagg.py).

Invariants: the count is EXACT under every classification mix (pure
metadata, boundary reads, legacy files without null counts, tombstone
fallback); file attribution proves the metadata path actually engages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.metaagg import (
    metadata_count,
    metadata_min_max,
)
from e_commerce_lakehouse_spark.table import scan
from e_commerce_lakehouse_spark.table.writer import write_files
from tests.conftest import N_TURNS


def _truth(spark, t, **kw):
    df = scan(spark, t)
    if "ts_range" in kw:
        lo, hi = kw["ts_range"]
        if lo is not None:
            df = df.where(F.col("ts") >= lo)
        if hi is not None:
            df = df.where(F.col("ts") <= hi)
    if "conv_id_range" in kw:
        lo, hi = kw["conv_id_range"]
        df = df.where((F.col("conv_id") >= lo) & (F.col("conv_id") <= hi))
    if "eq" in kw:
        for c, v in kw["eq"].items():
            df = df.where(F.col(c) == v)
    return df.count()


def test_metadata_count_exact_and_attributed(spark, tiny_table, tiny_df):
    t = tiny_table
    lo = tiny_df.selectExpr("min(ts)").first()[0]
    hi = tiny_df.selectExpr("max(ts)").first()[0]
    # full range: answered WITHOUT opening a single data file
    m = metadata_count(spark, t, ts_range=(lo, hi))
    assert m["count"] == N_TURNS
    assert m["files_scanned"] == 0 and m["files_metadata"] == m["files_total"]
    # half-open wide range: interior files from metadata, boundary read
    mid = lo + (hi - lo) * 3 // 4
    m2 = metadata_count(spark, t, ts_range=(None, mid))
    assert m2["count"] == _truth(spark, t, ts_range=(None, mid))
    assert m2["files_metadata"] + m2["files_scanned"] + m2["files_pruned"] \
        == m2["files_total"]
    # point predicate on a non-core column via eq
    m3 = metadata_count(spark, t, eq={"role": "user"})
    assert m3["count"] == _truth(spark, t, eq={"role": "user"})


def test_metadata_count_legacy_files_demote_to_boundary(spark, tiny_df, tmp_path):
    """Entries committed without null counts (pre-feature vintage) can
    never be proven fully-inside — they are read, and the count stays
    exact."""
    from e_commerce_lakehouse_spark.table.meta import Table

    root = str(tmp_path / "legacy_tbl")
    t = Table.create(root)
    entries = write_files(spark, t, tiny_df, 4, "ingest-00000001-0000")
    for e in entries:
        e.nulls = None  # simulate a pre-feature manifest
    t.commit_append(entries, {"op": "legacy-ingest"})
    lo = tiny_df.selectExpr("min(ts)").first()[0]
    hi = tiny_df.selectExpr("max(ts)").first()[0]
    m = metadata_count(spark, t, ts_range=(lo, hi))
    assert m["count"] == N_TURNS
    assert m["files_metadata"] == 0 and m["files_scanned"] == m["files_total"]


def test_metadata_count_tombstones_fall_back(spark, tiny_table):
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where

    t = tiny_table
    delete_where(spark, t, F.col("role") == "user", mode="merge-on-read")
    m = metadata_count(spark, t)
    assert m["fallback"] == "tombstones"
    assert m["count"] == scan(spark, t).count()
    # sanity: the logical count really shrank
    assert m["count"] < N_TURNS


def test_metadata_min_max_matches_scan(spark, tiny_table):
    import datetime as dt

    t = tiny_table
    row = scan(spark, t).agg(F.min("ts"), F.max("ts")).collect()[0]
    mm = metadata_min_max(spark, t, "ts")
    epoch = dt.datetime(1970, 1, 1)
    assert mm["min"] == (row[0] - epoch) // dt.timedelta(microseconds=1)
    assert mm["max"] == (row[1] - epoch) // dt.timedelta(microseconds=1)
    assert mm["files_scanned"] == 0

    row2 = scan(spark, t).agg(F.min("conv_id"), F.max("conv_id")).collect()[0]
    mm2 = metadata_min_max(spark, t, "conv_id")
    assert (mm2["min"], mm2["max"]) == (row2[0], row2[1])


def test_retention_delete_drops_cold_files_without_reading(spark, tiny_df, tmp_path):
    """Files entirely below the cutoff drop metadata-only; boundary files
    rewrite; rows equal delete_where(ts < cutoff) semantics (NULL ts
    kept)."""
    from e_commerce_lakehouse_spark.operators.cluster import cluster
    from e_commerce_lakehouse_spark.operators.metaagg import retention_delete
    from e_commerce_lakehouse_spark.table.meta import Table

    root = str(tmp_path / "ret_tbl")
    t = Table.create(root)
    entries = write_files(spark, t, tiny_df, 6, "ingest-00000001-0000")
    t.commit_append(entries, {"op": "ingest"})
    # order ts into narrow per-file ranges (~6 clustered files, whatever
    # the codec's ratio) so the stats classification has cold interior
    # files to drop
    cluster(spark, t, curve="hilbert",
            target_bytes=sum(e.bytes for e in t.entries()) // 6)

    lo = tiny_df.selectExpr("min(ts)").first()[0]
    hi = tiny_df.selectExpr("max(ts)").first()[0]
    cutoff = lo + (hi - lo) // 2
    expect = scan(spark, t).where(
        ~F.coalesce(F.col("ts") < F.lit(cutoff), F.lit(False))
    ).collect()

    m = retention_delete(spark, t, cutoff, target_bytes=1 << 20)
    assert m["files_dropped_metadata_only"] > 0
    assert m["files_untouched"] > 0
    got = scan(spark, t).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    # idempotent: nothing left below the cutoff
    m2 = retention_delete(spark, t, cutoff, target_bytes=1 << 20)
    assert m2["committed_snapshot"] is None


def test_retention_delete_after_mor_tombstones(spark, tiny_table):
    """Live tombstones materialize first, so retention can never
    resurrect a MoR-deleted row."""
    from e_commerce_lakehouse_spark.operators.metaagg import retention_delete
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where

    t = tiny_table
    delete_where(spark, t, F.col("role") == "tool", mode="merge-on-read")
    lo = scan(spark, t).selectExpr("min(ts)").first()[0]
    hi = scan(spark, t).selectExpr("max(ts)").first()[0]
    cutoff = lo + (hi - lo) // 3
    expect = scan(spark, t).where(F.col("ts") >= cutoff).count()
    retention_delete(spark, t, cutoff, target_bytes=1 << 20)
    got = scan(spark, t)
    assert got.count() == expect
    assert got.where(F.col("role") == "tool").count() == 0


def test_cli_retention_and_count_ops(spark, tiny_table):
    import sys

    sys.path.insert(0, ".")
    from run_maintenance import main

    t = tiny_table
    lo = scan(spark, t).selectExpr("min(ts)").first()[0]
    hi = scan(spark, t).selectExpr("max(ts)").first()[0]
    cut = (lo + (hi - lo) // 2).isoformat()
    assert main(["--table", t.root, "--op", "count",
                 "--ts-range", f"{cut}/"]) == 0
    expect = scan(spark, t).where(F.col("ts") >= cut).count()
    assert main(["--table", t.root, "--op", "retention",
                 "--before-ts", cut, "--target-mb", "1"]) == 0
    assert scan(spark, t).count() == expect
