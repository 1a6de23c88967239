"""Op-5 MERGE INTO: corrections win, inserts land, untouched rows are
byte-identical, file pruning rewrites only overlapping files
(SURVEY.md §5 item 4)."""

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.cluster import cluster
from e_commerce_lakehouse_spark.operators.merge import (
    dedup_keep_latest,
    merge_into,
    merge_upsert_dataframes,
)
from e_commerce_lakehouse_spark.synth import corrections_df
from e_commerce_lakehouse_spark.table import scan
from tests.conftest import assert_same_rows


def test_merge_semantics_updates_and_inserts(spark, tiny_df, tiny_table):
    src = corrections_df(spark, tiny_df, seed=42, update_pct=2, n_inserts=20).cache()
    n_updates = src.where(~F.col("conv_id").startswith("conv-new")).count()
    n_inserts = src.where(F.col("conv_id").startswith("conv-new")).count()
    assert n_updates > 0 and n_inserts > 0
    before_rows = tiny_table.total_rows()

    m = merge_into(spark, tiny_table, src)
    after = scan(spark, tiny_table).cache()
    assert after.count() == before_rows + n_inserts
    # every correction won (matched keys carry the corrected text)
    joined = after.join(src.select("conv_id", "turn_idx", F.col("text").alias("src_text")),
                        ["conv_id", "turn_idx"])
    assert joined.where(F.col("text") != F.col("src_text")).count() == 0
    # untouched keys byte-identical
    untouched_before = tiny_df.join(
        src.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).select("conv_id", "turn_idx", "text")
    untouched_after = after.join(
        src.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).select("conv_id", "turn_idx", "text")
    assert_same_rows(untouched_before, untouched_after)
    after.unpersist()


def test_merge_prunes_files_after_clustering(spark, tiny_df, tiny_table):
    # cluster first so conv_id ranges are narrow per file, then a correction
    # batch touching ONE conversation must rewrite a strict subset of files
    cluster(spark, tiny_table, curve="zorder", target_bytes=24 * 1024)
    one_conv = tiny_df.where(F.col("conv_id") == "conv-000000000007").limit(3)
    src = one_conv.withColumn("text", F.lit("patched"))
    m = merge_into(spark, tiny_table, src)
    assert m["touched_files"] < m["total_files"]
    # the commit explains itself: what the plan saw and what it rewrote
    summary = tiny_table.snapshot().summary
    assert {"op", "touched_files", "added_files", "source_keys",
            "touched_bytes"} <= set(summary)
    assert summary["source_keys"] == m["source_keys"] == 1
    assert summary["touched_bytes"] == m["touched_bytes"] > 0
    got = (
        scan(spark, tiny_table, conv_id="conv-000000000007")
        .where(F.col("text") == "patched")
        .count()
    )
    assert got == 3


def test_merge_keeps_clustered_order(spark, tiny_df, tmp_path):
    """A merge that touches every file keeps each file's conv_id range:
    its outputs roll from the touched files' own row order instead of a
    round-robin shuffle, so a point lookup of an untouched conversation
    still plans fewer files than are live."""
    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.scan import planned_entries
    from e_commerce_lakehouse_spark.table.writer import write_files

    convs = sorted(r.conv_id for r in tiny_df.select("conv_id").distinct().collect())
    groups = [convs[i * len(convs) // 4:(i + 1) * len(convs) // 4] for i in range(4)]
    t = Table.create(str(tmp_path / "ranged_tbl"))
    for i, g in enumerate(groups):
        part = tiny_df.where(F.col("conv_id").isin(g))
        t.commit_append(write_files(spark, t, part, 1, f"r{i}"), {"op": f"ingest-{i}"})
    heads = [g[0] for g in groups]
    src = tiny_df.where(F.col("conv_id").isin(heads)).withColumn("text", F.lit("patched"))

    m = merge_into(spark, t, src, target_bytes=max(e.bytes for e in t.entries()))
    assert m["touched_files"] == m["total_files"] == 4
    untouched = groups[1][len(groups[1]) // 2]
    assert len(planned_entries(t, conv_id=untouched)) < len(t.entries())
    cols = scan(spark, t).columns
    assert_same_rows(scan(spark, t),
                     tiny_df.where(~F.col("conv_id").isin(heads)).unionByName(src).select(*cols))


def test_merge_writes_a_file_read_in_splits_back_as_one(spark, tiny_df, tmp_path):
    """A touched file that the scan reads as several splits (row groups
    under a small maxPartitionBytes) is written back as one file when the
    target holds it: a rewrite's task count comes from the manifest's
    bytes, not from the scan's splits."""
    import os

    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.writer import write_files

    t = Table.create(str(tmp_path / "split_tbl"))
    spark.conf.set("parquet.block.size", str(16 * 1024))  # several row groups
    try:
        t.commit_append(write_files(spark, t, tiny_df, 1, "one"), {"op": "ingest"})
    finally:
        spark.conf.unset("parquet.block.size")
    (entry,) = t.entries()
    conv = tiny_df.first().conv_id
    src = tiny_df.where(F.col("conv_id") == conv).withColumn("text", F.lit("patched"))
    mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(entry.bytes // 4))
    try:
        splits = spark.read.parquet(os.path.join(t.root, entry.path)).rdd.getNumPartitions()
        m = merge_into(spark, t, src, target_bytes=2 * entry.bytes)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
    assert splits >= 3
    assert (m["touched_files"], m["added_files"]) == (1, 1)
    cols = scan(spark, t).columns
    assert_same_rows(scan(spark, t),
                     tiny_df.where(F.col("conv_id") != conv).unionByName(src).select(*cols))


def test_merge_prunes_by_bloom(spark, tiny_df, tmp_path):
    """A file whose [min, max] spans a source key that its conv_id bloom
    says it lacks is not rewritten; the key still lands as an insert."""
    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.writer import write_files

    def convs(*ns):
        return tiny_df.where(F.col("conv_id").isin(["conv-%012d" % n for n in ns]))

    t = Table.create(str(tmp_path / "bloom_tbl"))
    t.set_bloom_columns(["conv_id"])
    for i, part in enumerate((convs(0, 2, 4), convs(10, 11))):
        t.commit_append(write_files(spark, t, part, 1, f"b{i}"), {"op": f"ingest-{i}"})
    gap = [e for e in t.entries() if e.stats["conv_id"][1] == "conv-%012d" % 4]
    assert len(gap) == 1 and "conv_id" in gap[0].blooms
    src = convs(3).withColumn("text", F.lit("inserted"))
    assert src.count() > 0

    m = merge_into(spark, t, src)
    assert m["touched_files"] == 0 and m["total_files"] == 2
    assert gap[0].path in {e.path for e in t.entries()}
    cols = scan(spark, t).columns
    assert_same_rows(scan(spark, t),
                     convs(0, 2, 4, 10, 11).unionByName(src).select(*cols))


def test_key_planner_aware_timestamps_prune_partitions_as_utc():
    """Collected timestamp keys arrive UTC-aware; day and bucket partition
    pruning must transform them as the naive-UTC values the writer saw."""
    import datetime as dt

    from e_commerce_lakehouse_spark.table.meta import DataFileEntry
    from e_commerce_lakehouse_spark.table.partition import PartitionField, apply_transform
    from e_commerce_lakehouse_spark.table.scan import key_planned_entries

    naive = dt.datetime(2023, 11, 14, 22, 30)
    spec = [PartitionField("ts_day", "ts", "day"),
            PartitionField("ts_bucket", "ts", "bucket[16]")]

    class StubTable:
        def partition_fields_for_pruning(self):
            return spec

    def entry(path, when):
        return DataFileEntry(path=path, rows=1, bytes=1,
                             partition={f.name: apply_transform(f, when) for f in spec})

    ents = [entry("data/hit.parquet", naive),
            entry("data/other_day.parquet", naive + dt.timedelta(days=1))]
    key = naive.replace(tzinfo=dt.timezone.utc)
    got = [e.path for e in key_planned_entries(StubTable(), ents, [key], "ts")]
    assert got == ["data/hit.parquet"]


def test_distinct_keys_timestamps_plan_as_utc_micros(spark):
    """collect() hands back naive LOCAL datetimes: planned as if UTC they
    would shift by the host's offset and miss the files holding them."""
    import os
    import time

    from e_commerce_lakehouse_spark.table.scan import _ts_to_micros, distinct_keys

    df = spark.createDataFrame([(1_700_001_000,)], "s long").select(
        F.timestamp_seconds("s").alias("ts"))
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        keys = distinct_keys(df, "ts")
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert [_ts_to_micros(k) for k in keys] == [1_700_001_000 * 1_000_000]


def test_merge_dataflow_keep_latest_tiebreak(spark):
    rows = [
        ("c1", 0, "user", "old", None, "2024-01-01 00:00:00"),
        ("c1", 0, "user", "newer", None, "2024-01-02 00:00:00"),
        ("c1", 0, "user", "tie-a", None, "2024-01-03 00:00:00"),
        ("c1", 0, "user", "tie-b", None, "2024-01-03 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = dedup_keep_latest(df, ["conv_id", "turn_idx"]).collect()
    assert len(out) == 1
    assert out[0]["text"] in ("tie-a", "tie-b")
    # deterministic: same winner every run
    again = dedup_keep_latest(df, ["conv_id", "turn_idx"]).collect()[0]["text"]
    assert again == out[0]["text"]


def test_merge_upsert_dataframes_pure(spark):
    target = spark.createDataFrame(
        [("c1", 0, "u", "t0", None, "2024-01-01 00:00:00"),
         ("c1", 1, "a", "t1", None, "2024-01-01 00:01:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    source = spark.createDataFrame(
        [("c1", 1, "a", "t1-fixed", None, "2024-01-01 02:00:00"),
         ("c2", 0, "u", "new", None, "2024-01-01 03:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = merge_upsert_dataframes(target, source, ("conv_id", "turn_idx"))
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in out.collect()}
    assert got == {("c1", 0): "t0", ("c1", 1): "t1-fixed", ("c2", 0): "new"}


def test_key_planner_numeric_key_native_compare():
    """ADVICE r1: a lexicographic string compare would order '10' < '9'
    and miss the touched file for numeric keys; the key planner must
    compare in the stat values' native type."""
    from e_commerce_lakehouse_spark.table.meta import DataFileEntry
    from e_commerce_lakehouse_spark.table.scan import key_planned_entries

    class StubTable:
        def entries(self):
            return [
                DataFileEntry(path="data/f1.parquet", rows=10, bytes=1,
                              stats={"k": [9, 20]}),
                DataFileEntry(path="data/f2.parquet", rows=10, bytes=1,
                              stats={"k": [100, 120]}),
                DataFileEntry(path="data/f3.parquet", rows=10, bytes=1, stats={}),
            ]

        def partition_fields_for_pruning(self):
            return []

    t = StubTable()
    touched = sorted(e.path for e in key_planned_entries(t, t.entries(), [10], "k"))
    # f1 overlaps 10 (9<=10<=20); f2 does not; f3 has no stats -> touched
    assert touched == ["data/f1.parquet", "data/f3.parquet"]


def test_key_planner_timestamp_key_micros():
    """Timestamp keys compare as epoch micros (the manifest stat form)."""
    import datetime as dt

    from e_commerce_lakehouse_spark.table.meta import DataFileEntry
    from e_commerce_lakehouse_spark.table.scan import key_planned_entries

    lo = 1_700_000_000 * 1_000_000
    hi = lo + 3_600 * 1_000_000

    class StubTable:
        def entries(self):
            return [
                DataFileEntry(path="data/t1.parquet", rows=1, bytes=1,
                              stats={"ts": [lo, hi]}),
                DataFileEntry(path="data/t2.parquet", rows=1, bytes=1,
                              stats={"ts": [hi + 1, hi + 10]}),
            ]

        def partition_fields_for_pruning(self):
            return []

    t = StubTable()
    key = dt.datetime(2023, 11, 14, 22, 30)  # 1700001000 epoch — inside [lo, hi]
    touched = [e.path for e in key_planned_entries(t, t.entries(), [key], "ts")]
    assert touched == ["data/t1.parquet"]
