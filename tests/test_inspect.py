"""Metadata tables (table/inspect.py): the table's own metadata as
queryable DataFrames — Iceberg ``.files`` / ``.snapshots`` /
``.partitions`` analog (the reference's only introspection is the Glue
console). O(metadata), zero data-file reads."""

from __future__ import annotations

import json

from e_commerce_lakehouse_spark.catalog import Catalog
from e_commerce_lakehouse_spark.operators.compact import compact
from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
from e_commerce_lakehouse_spark.synth import transcripts_df
from e_commerce_lakehouse_spark.table import (
    files_df,
    partitions_df,
    snapshots_df,
)
from e_commerce_lakehouse_spark.table.partition import PartitionField
from e_commerce_lakehouse_spark.table.writer import (
    append_dataframe,
    create_transcripts_table,
)

BUCKET = PartitionField("conv_bucket", "conv_id", "bucket[4]")


def _table(spark, tmp_path):
    df = transcripts_df(spark, 2_000, seed=31).cache()
    df.count()
    t = create_transcripts_table(spark, str(tmp_path / "itbl"), df,
                                 rows_per_file=250, partition_spec=[BUCKET])
    return t, df


def test_files_df_mirrors_manifest_entries(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    entries = t.entries()
    rows = files_df(spark, t).collect()
    assert len(rows) == len(entries)
    by_path = {e.path: e for e in entries}
    for r in rows:
        e = by_path[r["path"]]
        assert (r["rows"], r["bytes"]) == (e.rows, e.bytes)
        assert r["partition"] == {"conv_bucket": str(e.partition["conv_bucket"])}
        stats = json.loads(r["stats_json"])
        assert stats == e.stats
    # pinned: the pre-compact snapshot's file list survives compaction
    sid0 = t.current_snapshot_id()
    compact(spark, t, target_bytes=256 << 20)
    assert files_df(spark, t, snapshot_id=sid0).count() == len(entries)
    assert files_df(spark, t).count() == 4  # one output per bucket


def test_snapshots_df_chain_staged_and_tombstones(spark, tmp_path):
    t, df = _table(spark, tmp_path)
    extra = transcripts_df(spark, 300, seed=32)
    append_dataframe(spark, t, extra.withColumnRenamed("x", "x"))
    delete_where(spark, t, "turn_idx = 1", mode="merge-on-read")
    s = snapshots_df(spark, t)
    rows = {r["snapshot_id"]: r for r in s.collect()}
    head = t.current_snapshot_id()
    assert rows[head]["is_current"] and not rows[head]["orphan"]
    assert rows[head]["n_tombstones"] == 1
    assert rows[1]["operation"] == "append" and rows[1]["parent_id"] is None
    assert json.loads(rows[head]["summary_json"])  # non-empty dict


def test_partitions_df_rollup_consistent_with_files(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    f = files_df(spark, t)
    p = partitions_df(spark, t)
    rows = {r["partition"]["conv_bucket"]: r for r in p.collect()}
    assert set(rows) == {"0", "1", "2", "3"}
    agg = {
        r["b"]: (r["nf"], r["rw"], r["by"])
        for r in f.groupBy(f.partition["conv_bucket"].alias("b"))
        .agg({"path": "count", "rows": "sum", "bytes": "sum"})
        .withColumnRenamed("count(path)", "nf")
        .withColumnRenamed("sum(rows)", "rw")
        .withColumnRenamed("sum(bytes)", "by")
        .collect()
    }
    for b, r in rows.items():
        assert (r["n_files"], r["rows"], r["bytes"]) == agg[b]
    # SQL shape check: total rows equal the table's row count
    assert sum(r["rows"] for r in rows.values()) == t.total_rows()


def test_catalog_attach_with_metadata_views(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    cat = Catalog(str(tmp_path / "cat.json"))
    cat.register("conv", t.root)
    views = cat.attach(spark, metadata_views=True)
    assert set(views) == {"conv", "conv__files", "conv__snapshots",
                          "conv__partitions", "conv__schemas",
                          "conv__refs", "conv__manifests"}
    small = spark.sql(
        "SELECT count(*) AS n FROM conv__files WHERE bytes < 1024*1024"
    ).collect()[0]["n"]
    assert small == spark.sql("SELECT count(*) AS n FROM conv__files").collect()[0]["n"]
    assert spark.sql(
        "SELECT sum(rows) AS r FROM conv__partitions"
    ).collect()[0]["r"] == t.total_rows()
    assert spark.sql(
        "SELECT count(*) AS n FROM conv__snapshots WHERE is_current"
    ).collect()[0]["n"] == 1
    # eager build: views pinned at attach; a later commit doesn't shift them
    n_before = spark.sql("SELECT count(*) AS n FROM conv__files").collect()[0]["n"]
    compact(spark, t, target_bytes=256 << 20)
    assert spark.sql("SELECT count(*) AS n FROM conv__files").collect()[0]["n"] == n_before


def test_schemas_metadata_table_tracks_evolution(spark, tmp_path):
    """``.schemas``: one row per schema version, field-id bindings
    included, change summary linked from the evolution snapshot."""
    import json as _json

    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        add_columns,
        rename_column,
    )
    from e_commerce_lakehouse_spark.table.inspect import schemas_df

    t, _ = _table(spark, tmp_path)
    assert schemas_df(spark, t).count() == 0  # never evolved
    add_columns(t, [("q", "double")])
    rename_column(t, "q", "quality")
    rows = {r["version"]: r for r in schemas_df(spark, t).collect()}
    assert sorted(rows) == [1, 2, 3]
    assert not rows[1]["mapped"] and not rows[2]["mapped"] and rows[3]["mapped"]
    # rename keeps the field id under the new name
    ids2 = _json.loads(rows[2]["field_ids"])
    ids3 = _json.loads(rows[3]["field_ids"])
    assert ids3["quality"] == ids2["q"]
    assert "renamed" in (rows[3]["change"] or "")


def test_refs_and_manifests_metadata_tables(spark, tmp_path):
    """``.refs`` lists main + tags; ``.manifests`` attributes
    live vs dead entries per manifest (the rewrite-manifests signal)."""
    from e_commerce_lakehouse_spark.operators import compact
    from e_commerce_lakehouse_spark.table.inspect import manifests_df, refs_df

    t, df = _table(spark, tmp_path)
    t.create_tag("v1")
    refs = {r["name"]: r for r in refs_df(spark, t).collect()}
    assert refs["main"]["type"] == "main" and refs["main"]["mutable"]
    assert refs["v1"]["type"] == "tag" and not refs["v1"]["mutable"]
    assert refs["v1"]["snapshot_id"] == t.current_snapshot_id()

    pre = manifests_df(spark, t).collect()
    assert sum(r["live_entries"] for r in pre) == len(t.entries())
    compact(spark, t, target_bytes=1 << 20)
    post = manifests_df(spark, t).collect()
    # the compacted-away entries are now dead in their old manifests
    assert sum(r["n_entries"] for r in post) > sum(r["live_entries"] for r in post)
    assert sum(r["live_entries"] for r in post) == len(t.entries())
