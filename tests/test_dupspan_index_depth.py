"""Closed-form tests for the metadata-only clustering-depth report:
overlap depth before/after clustering, and a column without stats."""

from __future__ import annotations

from e_commerce_lakehouse_spark.operators import cluster, clustering_depth_report


# ---- clustering_depth_report --------------------------------------------


def test_depth_report_improves_after_cluster(spark, tiny_table):
    t = tiny_table
    before = clustering_depth_report(t, "conv_id")
    assert before["n_files"] == before["n_with_stats"] > 1
    # synth interleaves conversations across append commits: every file
    # overlaps nearly every other on conv_id before clustering
    assert before["avg_depth_ppm"] > 500_000  # avg depth > 0.5 files
    cluster(spark, t, curve="zorder", target_bytes=64 * 1024)
    after = clustering_depth_report(t, "conv_id")
    assert after["n_with_stats"] > 1
    assert after["avg_depth_ppm"] < before["avg_depth_ppm"]
    assert after["max_depth"] <= before["max_depth"]
    assert after["total_overlap_pairs"] < before["total_overlap_pairs"]


def test_depth_report_missing_column_all_missing(spark, tiny_table):
    rep = clustering_depth_report(tiny_table, "nope")
    assert rep["n_with_stats"] == 0 and rep["n_missing_stats"] == rep["n_files"]
    assert rep["max_depth"] == 0 and rep["total_overlap_pairs"] == 0
