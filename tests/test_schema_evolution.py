"""Schema evolution: add/drop columns without rewriting data.

Invariants: old files read with NULL for added columns; dropped columns
disappear from every read immediately; pinned pre-evolution snapshots
keep their old shape; compaction merges mixed-vintage files onto the
current schema; the PK/stat core columns are protected.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators import add_columns, compact, drop_columns
from e_commerce_lakehouse_spark.operators.schema_evolution import current_schema
from e_commerce_lakehouse_spark.table import scan
from e_commerce_lakehouse_spark.table.writer import append_dataframe
from tests.conftest import N_TURNS


def test_add_column_old_rows_read_null(spark, tiny_table):
    t = tiny_table
    pre_sid = t.current_snapshot_id()
    res = add_columns(t, [("quality", "double")])
    assert res["schema_version"] == 2  # v1 pins the original shape
    assert "quality" in res["columns"]
    df = scan(spark, t)
    assert df.schema["quality"].dataType.simpleString() == "double"
    assert df.where(F.col("quality").isNotNull()).count() == 0
    assert df.count() == N_TURNS
    # pinned pre-evolution read keeps the 6-column shape
    old = scan(spark, t, snapshot_id=pre_sid)
    assert "quality" not in old.columns and old.count() == N_TURNS


def test_append_and_compact_mixed_vintage_files(spark, tiny_table, tiny_df):
    t = tiny_table
    add_columns(t, [("quality", "double")])
    extra = tiny_df.limit(400).select(
        F.concat(F.lit("conv-ev-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
        F.lit(0.5).alias("quality"),
    )
    append_dataframe(spark, t, extra)
    # a producer not yet updated: 6-col append fills quality with NULL
    legacy = tiny_df.limit(100).select(
        F.concat(F.lit("conv-legacy-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
    )
    append_dataframe(spark, t, legacy)

    before = scan(spark, t).collect()
    # compacting now merges pre-evolution files (no quality), evolved
    # files (quality=0.5) and legacy appends in the SAME groups — the
    # arrow align must unify them
    compact(spark, t, target_bytes=1 << 20)
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    got = scan(spark, t)
    assert got.where(F.col("quality") == 0.5).count() == 400
    assert got.where(F.col("quality").isNull()).count() == N_TURNS + 100


def test_drop_column_projects_away_without_rewrite(spark, tiny_table):
    t = tiny_table
    n_files_before = len(t.entries())
    res = drop_columns(t, ["tool"])
    assert "tool" not in res["columns"]
    assert len(t.entries()) == n_files_before  # metadata-only
    df = scan(spark, t)
    assert "tool" not in df.columns and df.count() == N_TURNS
    assert current_schema(t).fieldNames() == ["conv_id", "turn_idx", "role", "text", "ts"]


def test_evolution_guards(tiny_table):
    t = tiny_table
    with pytest.raises(ValueError, match="cannot drop core column"):
        drop_columns(t, ["conv_id"])
    with pytest.raises(ValueError, match="no such column"):
        drop_columns(t, ["nope"])
    with pytest.raises(ValueError, match="already exists"):
        add_columns(t, [("text", "string")])
    with pytest.raises(ValueError, match="unsupported type"):
        add_columns(t, [("m", "map<string,string>")])


def test_append_rejects_unknown_columns(spark, tiny_table, tiny_df):
    extra = tiny_df.limit(10).withColumn("mystery", F.lit(1))
    with pytest.raises(ValueError, match="not in table schema"):
        append_dataframe(spark, tiny_table, extra)


def test_cluster_and_merge_on_evolved_table(spark, tiny_table, tiny_df):
    """The remaining maintenance ops must survive an evolved schema:
    cluster rewrites through the resolved schema; MERGE aligns an
    evolved-source correction batch."""
    from e_commerce_lakehouse_spark.operators import cluster, merge_into

    t = tiny_table
    add_columns(t, [("quality", "double")])
    extra = tiny_df.limit(200).select(
        F.concat(F.lit("conv-ev-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
        F.lit(0.9).alias("quality"),
    )
    append_dataframe(spark, t, extra)
    before = scan(spark, t).collect()

    cluster(spark, t, curve="zorder", target_bytes=1 << 20)
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert scan(spark, t).where(F.col("quality") == 0.9).count() == 200

    # MERGE an evolved-shape correction: update text+quality of 50 rows
    corr = (
        scan(spark, t).where(F.col("conv_id").startswith("conv-ev-"))
        .limit(50)
        .withColumn("text", F.lit("evolved-fix"))
        .withColumn("quality", F.lit(0.1))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    merge_into(spark, t, corr)
    got = scan(spark, t)
    assert got.where(F.col("text") == "evolved-fix").count() == 50
    assert got.where(F.col("quality") == 0.1).count() == 50
    assert got.count() == len(before)


def test_add_column_refuses_resurrecting_dropped_name(tiny_table):
    """Old files still carry a dropped column's bytes; re-adding the name
    would silently resurrect those values via by-name reads."""
    t = tiny_table
    add_columns(t, [("score", "double")])
    drop_columns(t, ["score"])
    with pytest.raises(ValueError, match="earlier schema version"):
        add_columns(t, [("score", "double")])


def test_merge_accepts_schema_lagged_producer(spark, tiny_df, tiny_table):
    """After add_columns, a MERGE source still in the OLD shape must
    null-fill the new column like append does (shared align helper),
    not fail analysis (review finding)."""
    from e_commerce_lakehouse_spark.operators import add_columns, merge_into
    from e_commerce_lakehouse_spark.table import scan

    add_columns(tiny_table, [("quality2", "double")])
    old_shape = tiny_df.limit(3).withColumn("text", F.lit("lagged-fix"))
    assert "quality2" not in old_shape.columns
    merge_into(spark, tiny_table, old_shape)
    got = scan(spark, tiny_table).where("text = 'lagged-fix'")
    assert got.count() >= 1
    assert got.where(F.col("quality2").isNotNull()).count() == 0


# ---------- rename / widen (field-id mapping) ----------


def test_rename_old_files_surface_values_under_new_name(spark, tiny_table):
    """Rename is metadata-only: pre-rename files keep old column names in
    their footers; the field-id mapping (DataFileEntry.sv +
    scan.read_entries) must surface their VALUES under the new name, and
    pinned pre-rename reads must keep the old one."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column

    t = tiny_table
    pre_sid = t.current_snapshot_id()
    pre = {(r.conv_id, r.turn_idx): r.tool for r in scan(spark, t).collect()}
    n_files = len(t.entries())

    rename_column(t, "tool", "tool_name")
    assert len(t.entries()) == n_files  # no data file touched
    got = scan(spark, t)
    assert "tool_name" in got.columns and "tool" not in got.columns
    post = {(r.conv_id, r.turn_idx): r.tool_name for r in got.collect()}
    assert post == pre  # byte-equal values, new name

    old = scan(spark, t, snapshot_id=pre_sid)
    assert "tool" in old.columns and "tool_name" not in old.columns


def test_rename_mixed_vintages_append_compact_roundtrip(spark, tiny_table, tiny_df):
    """Post-rename appends (new name in the footer) and pre-rename files
    (old name) must read as one table, and compact must merge the
    vintages onto the current name (arrow rename_columns + align)."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column

    t = tiny_table
    rename_column(t, "tool", "tool_name")
    extra = tiny_df.limit(150).select(
        F.concat(F.lit("rn-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", F.col("tool").alias("tool_name"), "ts",
    )
    append_dataframe(spark, t, extra)
    before = scan(spark, t).collect()
    assert len(before) == N_TURNS + 150

    compact(spark, t, target_bytes=1 << 20)
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # post-compact files are uniform current-schema: every entry now
    # carries the current write-schema version
    assert all(e.sv == t.schema_version_count() for e in t.entries())


def test_rename_then_rowlevel_and_merge(spark, tiny_table, tiny_df):
    """DELETE/UPDATE predicates and MERGE keys reference CURRENT names;
    pre-rename files must resolve them by field id."""
    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        update_where,
    )
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column

    t = tiny_table
    rename_column(t, "role", "speaker")
    n_user = scan(spark, t).where(F.col("speaker") == "user").count()
    assert n_user > 0

    delete_where(spark, t, F.col("speaker") == "user", mode="merge-on-read")
    assert scan(spark, t).where(F.col("speaker") == "user").count() == 0
    assert scan(spark, t).count() == N_TURNS - n_user

    update_where(spark, t, F.col("speaker") == "assistant",
                 {"text": F.lit("edited")})
    got = scan(spark, t)
    assert got.where((F.col("speaker") == "assistant")
                     & (F.col("text") != "edited")).count() == 0

    from e_commerce_lakehouse_spark.operators import merge_into

    src = (
        scan(spark, t).limit(20)
        .withColumn("text", F.lit("merged-fix"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    merge_into(spark, t, src)
    assert scan(spark, t).where(F.col("text") == "merged-fix").count() == 20


def test_widen_int_column_reads_old_files_as_bigint(spark, tiny_table, tiny_df):
    """Widen int->bigint: old narrow files cast losslessly on read; new
    files write wide; compact unifies to the wide type."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        add_columns,
        widen_column,
    )

    t = tiny_table
    add_columns(t, [("attempt", "int")])
    extra = tiny_df.limit(100).select(
        F.concat(F.lit("w-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
        F.lit(3).cast("int").alias("attempt"),
    )
    append_dataframe(spark, t, extra)  # narrow (int) vintage

    widen_column(t, "attempt", "bigint")
    got = scan(spark, t)
    assert got.schema["attempt"].dataType.simpleString() == "bigint"
    assert got.where(F.col("attempt") == 3).count() == 100

    wide = tiny_df.limit(50).select(
        F.concat(F.lit("w2-"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
        F.lit(2**40).cast("bigint").alias("attempt"),
    )
    append_dataframe(spark, t, wide)  # wide vintage
    got = scan(spark, t)
    assert got.where(F.col("attempt") == 2**40).count() == 50

    before = got.collect()
    compact(spark, t, target_bytes=1 << 20)
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))


def test_rename_widen_guards(tiny_table):
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        rename_column,
        widen_column,
    )

    t = tiny_table
    with pytest.raises(ValueError, match="core column"):
        rename_column(t, "conv_id", "cid")
    with pytest.raises(ValueError, match="no such column"):
        rename_column(t, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(t, "tool", "text")
    # burned-name rule: a historical name can never come back
    add_columns(t, [("tmp", "string")])
    drop_columns(t, ["tmp"])
    with pytest.raises(ValueError, match="earlier schema version"):
        rename_column(t, "tool", "tmp")
    with pytest.raises(ValueError, match="core column"):
        widen_column(t, "turn_idx", "bigint")
    with pytest.raises(ValueError, match="unsupported widening"):
        widen_column(t, "text", "bigint")


def test_rename_refuses_constraint_and_spec_bindings(spark, tiny_table):
    """Specs that address columns by name must be re-declared before the
    column they bind can move."""
    from e_commerce_lakehouse_spark.operators.constraints import add_constraint
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column

    t = tiny_table
    add_constraint(spark, t, "tool_known", "tool IS NOT NULL OR role != 'tool'")
    with pytest.raises(ValueError, match="CHECK"):
        rename_column(t, "tool", "tool_name")


def test_time_travel_across_rename_and_widen_chain(spark, tiny_table):
    """Each pinned snapshot reads in the shape (names AND types) current
    at that snapshot, with values intact across the whole chain."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        add_columns,
        rename_column,
        widen_column,
    )

    t = tiny_table
    s0 = t.current_snapshot_id()
    add_columns(t, [("n", "int")])
    s1 = t.current_snapshot_id()
    rename_column(t, "n", "attempts")
    s2 = t.current_snapshot_id()
    widen_column(t, "attempts", "bigint")

    assert "n" not in scan(spark, t, snapshot_id=s0).columns
    d1 = scan(spark, t, snapshot_id=s1)
    assert d1.schema["n"].dataType.simpleString() == "int"
    d2 = scan(spark, t, snapshot_id=s2)
    assert "n" not in d2.columns
    assert d2.schema["attempts"].dataType.simpleString() == "int"
    cur = scan(spark, t)
    assert cur.schema["attempts"].dataType.simpleString() == "bigint"
    assert cur.count() == N_TURNS


def test_cli_rename_and_widen_ops(spark, tiny_table, capsys):
    """run_maintenance --op rename-column / widen-column: metadata-only,
    no SparkSession needed by the CLI path itself."""
    import sys

    sys.path.insert(0, ".")
    from run_maintenance import main

    t = tiny_table
    assert main(["--table", t.root, "--op", "rename-column",
                 "--columns", "tool:tool_name"]) == 0
    with pytest.raises(ValueError, match="no such column"):
        main(["--table", t.root, "--op", "widen-column",
              "--columns", "nope:bigint"])
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        add_columns,
    )

    add_columns(t, [("n_retries", "int")])
    assert main(["--table", t.root, "--op", "widen-column",
                 "--columns", "n_retries:bigint"]) == 0
    got = scan(spark, t)
    assert "tool_name" in got.columns
    assert got.schema["n_retries"].dataType.simpleString() == "bigint"
    assert got.count() == N_TURNS


def test_dropped_field_id_never_recycled(spark, tiny_table, tiny_df):
    """Review finding: after a mapped evolution, a drop-then-add must
    give the new column a FRESH field id — recycling the dropped id
    would bind old files' dropped-column bytes to the new column."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column
    from e_commerce_lakehouse_spark.table.fieldids import version_field_maps

    t = tiny_table
    rename_column(t, "role", "speaker")  # make the table mapped
    add_columns(t, [("c", "string")])
    extra = tiny_df.limit(60).select(
        F.concat(F.lit("x-"), "conv_id").alias("conv_id"),
        "turn_idx", F.col("role").alias("speaker"), "text", "tool", "ts",
        F.lit("SECRET").alias("c"),
    )
    append_dataframe(spark, t, extra)  # files carrying c bytes
    drop_columns(t, ["c"])
    add_columns(t, [("d", "string")])
    maps = version_field_maps(t.schema_versions())
    c_id = maps[-3]["c"]
    assert maps[-1]["d"] != c_id  # fresh id, dropped id stays burned
    got = scan(spark, t)
    # the dropped column's bytes must NOT surface as d
    assert got.where(F.col("d").isNotNull()).count() == 0
    assert got.count() == N_TURNS + 60


def test_sink_schema_guard_allows_order_and_lag(spark, tiny_table):
    """Review finding: the sink guard must only refuse UNKNOWN columns —
    reordered and schema-lagged (missing nullable) streams bind by name
    and were always safe."""
    from pyspark.sql import types as T

    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column
    from e_commerce_lakehouse_spark.streaming.table_sink import LakehouseStreamWriter

    t = tiny_table
    add_columns(t, [("extra_col", "double")])
    full = [f.name for f in scan(spark, t).schema.fields]
    reordered = T.StructType(
        [scan(spark, t).schema[n] for n in reversed(full)]
    )
    LakehouseStreamWriter({"path": t.root}, reordered)  # order: OK
    lagged = T.StructType([scan(spark, t).schema[n] for n in full
                           if n != "extra_col"])
    LakehouseStreamWriter({"path": t.root}, lagged)  # missing nullable: OK
    rename_column(t, "tool", "tool_name")
    stale = T.StructType(
        [scan(spark, t).schema[n] for n in full if n != "tool"]
    ).add("tool", T.StringType())  # pre-rename producer
    with pytest.raises(ValueError, match="tool"):
        LakehouseStreamWriter({"path": t.root}, stale)


def _cow_delete_raced_by_rename(spark, t, monkeypatch):
    """Run a cow DELETE whose commit is preceded by a rename of ``role``;
    no rewritten row may read the renamed column back as NULL."""
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
    from e_commerce_lakehouse_spark.operators.schema_evolution import rename_column
    from e_commerce_lakehouse_spark.table.meta import Table

    victim = scan(spark, t).select("conv_id").orderBy("conv_id").first()[0]
    n_victim = scan(spark, t).where(F.col("conv_id") == victim).count()

    orig = Table.commit_rewrite
    raced = {"fired": False}

    def hooked(self, removed_paths, added, **kw):
        if not raced["fired"]:
            raced["fired"] = True
            rename_column(Table.load(self.root), "role", "speaker")
        return orig(self, removed_paths, added, **kw)

    monkeypatch.setattr(Table, "commit_rewrite", hooked)
    m = delete_where(spark, t, F.col("conv_id") == victim)
    assert raced["fired"] and m["added_files"] >= 1
    got = scan(spark, Table.load(t.root))
    assert got.count() == N_TURNS - n_victim
    assert got.where(F.col("speaker").isNull()).count() == 0


def test_cow_delete_stamps_plan_time_schema_version(spark, tiny_table, monkeypatch):
    """A rename committing between a cow DELETE's plan and its commit must
    not relabel the rewrite's outputs: they hold the plan-time column
    names, so stamping the commit-time schema version would read the
    renamed column back as NULL for every rewritten row."""
    add_columns(tiny_table, [("quality", "double")])  # plan under a recorded version
    _cow_delete_raced_by_rename(spark, tiny_table, monkeypatch)


def test_never_evolved_cow_delete_stamps_plan_time_schema_version(
        spark, tiny_table, monkeypatch):
    """The same race on a table that never evolved: the first rename pins
    the original shape as version 1, so the rewrite's outputs must carry
    version 1 rather than be backfilled with the rename's version."""
    assert tiny_table.schema_version_count() == 0
    _cow_delete_raced_by_rename(spark, tiny_table, monkeypatch)
