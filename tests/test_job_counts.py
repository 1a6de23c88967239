"""Spark jobs per public operation, pinned on a tiny table.

At perfbench's size the number of Spark jobs decides most timings, so a
job-count regression fails here instead of hiding in benchmark noise.
Each call runs under its own job group and its jobs are counted through
the status tracker. A change that moves a count updates its pin and says
why.
"""

from contextlib import contextmanager

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.cluster import cluster
from e_commerce_lakehouse_spark.operators.compact import compact
from e_commerce_lakehouse_spark.operators.merge import merge_into
from e_commerce_lakehouse_spark.operators.transcripts import conversation_cost, sft_examples
from e_commerce_lakehouse_spark.table import scan
from e_commerce_lakehouse_spark.table.meta import Table
from e_commerce_lakehouse_spark.table.writer import append_dataframe


@contextmanager
def _job_group(spark, name: str, counts: dict):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    counts[name] = len(sc.statusTracker().getJobIdsForGroup(name))


def test_append_and_merge_job_counts(spark, tiny_df, tmp_path):
    """append: the write alone (no count, no exchange). merge: 2 jobs
    collect the batch's keys; the source's dedup shuffle runs twice (the
    anti-join's broadcast branch and the union branch do not share the
    exchange); then the broadcast and the write."""
    src_dir, fix_dir = str(tmp_path / "src"), str(tmp_path / "fix")
    tiny_df.write.parquet(src_dir)
    src = spark.read.parquet(src_dir)
    src.where(F.col("conv_id") == "conv-000000000007") \
        .withColumn("text", F.lit("patched")).write.parquet(fix_dir)
    t = Table.create(str(tmp_path / "tbl"))
    bucket = F.pmod(F.xxhash64("conv_id", "turn_idx"), 2)
    counts: dict[str, int] = {}
    for b in range(2):
        with _job_group(spark, f"append-{b}", counts):
            append_dataframe(spark, t, src.where(bucket == b), rows_per_file=300)
    fix = spark.read.parquet(fix_dir)  # schema inference is a job of its own
    with _job_group(spark, "merge", counts):
        merge_into(spark, t, fix)
    assert counts == {"append-0": 1, "append-1": 1, "merge": 6}
    assert scan(spark, t).count() == tiny_df.count()


def test_compact_cluster_and_lookup_job_counts(spark, tiny_table):
    """compact: one job (its pyarrow rewrite wave). cluster: the range
    exchange's bounds sample, its map stage and the write. lookup: one
    scan of the planned files."""
    counts: dict[str, int] = {}
    with _job_group(spark, "compact", counts):
        compact(spark, tiny_table, target_bytes=256 * 1024)
    with _job_group(spark, "cluster", counts):
        cluster(spark, tiny_table, curve="zorder", target_bytes=16 * 1024)
    with _job_group(spark, "lookup", counts):
        scan(spark, tiny_table, conv_id="conv-000000000007").collect()
    assert counts == {"compact": 1, "cluster": 3, "lookup": 1}


def test_timetravel_and_export_job_counts(spark, tiny_table):
    """Both read a snapshot a compaction has since replaced. timetravel:
    one scan of the pinned snapshot's planned files, like a head lookup.
    export: sft_examples (2 jobs) and conversation_cost (5) over one
    pinned scan, each run to completion into the noop sink."""
    sid = tiny_table.current_snapshot_id()
    compact(spark, tiny_table, target_bytes=256 * 1024)
    counts: dict[str, int] = {}
    with _job_group(spark, "timetravel", counts):
        scan(spark, tiny_table, snapshot_id=sid, conv_id="conv-000000000007").collect()
    with _job_group(spark, "export", counts):
        pinned = scan(spark, tiny_table, snapshot_id=sid)
        for op in (sft_examples, conversation_cost):
            op(pinned).write.format("noop").mode("overwrite").save()
    assert counts == {"timetravel": 1, "export": 7}
