"""Write DataFrames into the table format.

Reference analog: Delta initial write `overwrite + partitionBy`
(`/root/reference/src/glue_jobs/orders_etl.py:191-194`). Here a write is:
Spark writes immutable Parquet part files into a fresh subdirectory of
``data/``, we footer-scan them for stats (table/stats.py), then commit a
snapshot referencing them. Data files are never mutated — only commits
change what is live (copy-on-write, like Iceberg/Delta).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..schema import TRANSCRIPTS_STAT_COLUMNS
from .meta import DataFileEntry, Snapshot, Table
from .stats import collect_entries, list_parquet_files

# default target data-file size for writes/compaction; small in the sandbox
# so the file-count dynamics of a 100 TB table are reproduced at SF scale
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def write_files(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    n_files: int,
    subdir: str,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    sort_within: list[str] | None = None,
    partition_spec=None,
) -> list[DataFileEntry]:
    """Write ``df`` as ~n_files parquet files under data/<subdir>; return
    stat-bearing entries (NOT yet committed).

    ``partition_spec=None`` derives it from the table (hidden
    partitioning, table/partition.py): derived partition columns are
    computed, the write splits hive-style (``name=value/`` dirs, derived
    columns NOT stored in the files — the data schema is unchanged), and
    each entry carries its partition tuple for exact planner pruning.
    Pass ``[]`` to force an unpartitioned write."""
    if partition_spec is None:
        partition_spec = table.partition_spec()
    out_dir = os.path.join(table.data_dir, subdir)
    if os.path.exists(out_dir):
        raise FileExistsError(f"data subdir already exists: {out_dir}")
    if partition_spec:
        from pyspark.sql import functions as F

        from .partition import partition_from_path, spark_partition_column

        names = [f.name for f in partition_spec]
        shaped = df
        for f in partition_spec:
            shaped = shaped.withColumn(f.name, spark_partition_column(f))
        # cluster rows by partition tuple, SALTED by the source split so
        # a hot partition parallelizes across tasks instead of funneling
        # through one (each task writes one file per value it holds;
        # compaction owns final file sizing)
        shaped = shaped.repartition(
            max(1, n_files), *names, F.spark_partition_id()
        )
        if sort_within:
            shaped = shaped.sortWithinPartitions(*sort_within)
        shaped.write.mode("error").partitionBy(*names).parquet(out_dir)
        paths = list_parquet_files(out_dir)
        entries = collect_entries(paths, table.root, stat_columns, spark=spark,
                                  bloom_spec=table.bloom_spec())
        for e in entries:
            e.partition = partition_from_path(e.path, partition_spec)
        return entries
    shaped = df.repartition(max(1, n_files))
    if sort_within:
        shaped = shaped.sortWithinPartitions(*sort_within)
    shaped.write.mode("error").parquet(out_dir)
    paths = list_parquet_files(out_dir)
    return collect_entries(paths, table.root, stat_columns, spark=spark,
                           bloom_spec=table.bloom_spec())


def write_rewrite_files(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    n_out: int,
    out_dir: str,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
) -> list[DataFileEntry]:
    """Rewrite-output writer shared by MERGE / row-level DELETE / UPDATE:
    honors the table's hidden-partition spec so row-level ops never
    degrade the partition layout — outputs stay partition-pure (and
    exactly prunable) instead of falling back to the conservative
    no-partition class until the next full clustering."""
    spec = table.partition_spec()
    if spec:
        from pyspark.sql import functions as F

        from .partition import partition_from_path, spark_partition_column

        names = [f.name for f in spec]
        shaped = df
        for f in spec:
            shaped = shaped.withColumn(f.name, spark_partition_column(f))
        (
            shaped.repartition(max(1, n_out), *names, F.spark_partition_id())
            .write.mode("error")
            .partitionBy(*names)
            .parquet(out_dir)
        )
        entries = collect_entries(
            list_parquet_files(out_dir), table.root, stat_columns, spark=spark,
            bloom_spec=table.bloom_spec(),
        )
        for e in entries:
            e.partition = partition_from_path(e.path, spec)
        return entries
    df.repartition(max(1, n_out)).write.mode("error").parquet(out_dir)
    return collect_entries(
        list_parquet_files(out_dir), table.root, stat_columns, spark=spark,
        bloom_spec=table.bloom_spec(),
    )


def align_to_schema(df: DataFrame, schema) -> DataFrame:
    """Align a writer's frame to the table's schema: extra columns are
    REJECTED (typo protection), missing nullable columns (a producer not
    yet updated after add_columns) fill with NULL, and every column is
    cast to the schema's type. Shared by append and MERGE so both write
    paths tolerate schema-lagged producers identically."""
    from pyspark.sql import functions as F

    expected = {f.name for f in schema.fields}
    extra = set(df.columns) - expected
    if extra:
        raise ValueError(f"columns not in table schema: {sorted(extra)}")
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif f.nullable:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        else:
            raise ValueError(f"write is missing non-nullable column: {f.name}")
    return df.select(cols)


def append_dataframe(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    rows_per_file: int = 100_000,
    publish: bool = True,
    extra_summary: dict | None = None,
) -> "Snapshot":
    """Append ``df`` to an existing table as one O(delta) commit.

    ``extra_summary`` merges caller-supplied keys into the snapshot
    summary ATOMICALLY with the commit (e.g. copy_into's loaded-file
    ledger) — there is no window where the rows are visible but the
    marker is not.

    The public single-batch append next to streaming/ingest.py's
    foreachBatch path: write new immutable files under a unique subdir,
    collect footer stats distributed, commit parent-manifests + one new
    manifest. The frame is aligned to the table's CURRENT schema: extra
    columns are rejected (typo protection), missing nullable columns
    (e.g. a producer not yet updated after add_columns) fill with NULL.

    The aligned frame is persisted for the duration of the append: the
    constraint pass, shadow-key guard, row count, and the write itself
    would otherwise each recompute an expensive upstream plan (review
    finding); unpersisted in a finally."""
    from .scan import resolve_schema

    schema = resolve_schema(table)
    # stamp outputs with the version this schema WAS resolved at — a
    # rename committed by another process between here and commit_append
    # must not relabel these files' written names (review finding; the
    # commit-time backfill only covers legacy callers)
    sv_plan = table.schema_version_count() or None
    df = align_to_schema(df, schema)
    from ..operators.constraints import enforce_constraints  # deferred: avoids import cycle

    df = df.persist()
    try:
        df = enforce_constraints(df, table, context="append")
        # No MoR-tombstone shadow guard anymore (round 4): data files carry
        # sequence numbers, and a tombstone applies only to files with a
        # SMALLER seq — an appended file is stamped with its own commit's
        # seq, above every live tombstone, so INSERT after DELETE simply
        # re-inserts the key (standard SQL semantics). The pre-seq guard
        # refused such appends because the global anti-join really would
        # have hidden them; that hazard no longer exists (review finding).
        n_rows = df.count()
        n_files = max(1, -(-n_rows // max(1, rows_per_file)))
        subdir = f"append-{uuid.uuid4().hex[:12]}"
        entries = write_files(spark, table, df, n_files, subdir)
        for e in entries:
            e.sv = sv_plan
    finally:
        df.unpersist()
    summary = {"appended-rows": n_rows}
    if extra_summary:
        summary.update(extra_summary)
    return table.commit_append(entries, summary=summary, publish=publish)


class NonAcidFallbackWarning(RuntimeWarning):
    """Emitted when a write degrades to the non-transactional parquet sink."""


def write_with_parquet_fallback(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    rows_per_file: int = 10_000,
    partition_by: tuple[str, ...] | None = None,
    allow_non_acid_fallback: bool = False,
) -> dict:
    """S9: the reference's parquet-overwrite fallback sink
    (`/root/reference/src/glue_jobs/orders_etl.py:196-199`) — there, ANY
    Delta write error silently degrades to a plain parquet overwrite,
    losing ACID, MERGE history and snapshot isolation without the caller
    ever knowing. Re-expressed here with the failure mode made explicit:

    - default (``allow_non_acid_fallback=False``): a failed table-format
      write RAISES — no silent downgrade (rounds 1-2 documented why the
      reference's behavior is a correctness hazard);
    - opt-in: the fallback writes plain parquet to a CLEARLY SEPARATE
      path (``<root>-parquet-fallback``), emits NonAcidFallbackWarning,
      and returns ``{"mode": "parquet-fallback", "acid": False, ...}`` so
      orchestration can quarantine the output.
    """
    import warnings

    try:
        t = create_transcripts_table(spark, root, df, rows_per_file=rows_per_file)
        return {"mode": "table", "acid": True, "path": root,
                "snapshot": t.current_snapshot_id()}
    except Exception as e:
        if not allow_non_acid_fallback:
            raise
        out = root.rstrip("/") + "-parquet-fallback"
        warnings.warn(
            f"table-format write to {root} failed ({e!r}); degrading to a "
            f"NON-TRANSACTIONAL parquet overwrite at {out} — no snapshots, "
            f"no MERGE, no isolation",
            NonAcidFallbackWarning,
            stacklevel=2,
        )
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        return {"mode": "parquet-fallback", "acid": False, "path": out,
                "error": repr(e)[:200]}


def create_transcripts_table(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    rows_per_file: int = 10_000,
    n_append_commits: int = 1,
    partition_spec=None,
) -> Table:
    """Create a transcripts table from a DataFrame, optionally split across
    several append commits (multiple manifests — exercises manifest
    rewrite) and into deliberately small files (exercises compaction).

    ``partition_spec``: optional list of table.partition.PartitionField —
    declared before the first commit (write-once); every write below and
    every later append derives the hidden partition columns from it."""
    table = Table.create(root)
    if partition_spec:
        table.set_partition_spec(partition_spec, df.columns)
    total = df.count()
    n_files = max(1, -(-total // rows_per_file))
    if n_append_commits <= 1:
        entries = write_files(spark, table, df, n_files, "ingest-00000001-0000")
        table.commit_append(entries, {"op": "initial-ingest"})
        return table
    # split deterministically by conv_id hash into batches → k append commits
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64("conv_id"), n_append_commits)
    files_per_batch = max(1, n_files // n_append_commits)
    for b in range(n_append_commits):
        part = df.where(bucket == b)
        sid = table._next_id()
        entries = write_files(
            spark, table, part, files_per_batch, f"ingest-{sid:08d}-0000"
        )
        table.commit_append(entries, {"op": "initial-ingest", "batch": b})
    return table
