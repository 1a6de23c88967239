"""Write DataFrames into the table format.

Reference analog: Delta initial write `overwrite + partitionBy`
(`/root/reference/src/glue_jobs/orders_etl.py:191-194`). Here a write is:
Spark writes immutable Parquet part files into a fresh subdirectory of
``data/``, we footer-scan them for stats (table/stats.py), then commit a
snapshot referencing them. Data files are never mutated — only commits
change what is live (copy-on-write, like Iceberg/Delta).

``write_files`` is the ONE function that writes Spark data files: append,
MERGE, the row-level rewrites (cow and merge-on-read), retention deletes
and both cluster modes all call it, so hidden-partition shaping, row
distribution and order, the codec, footer stats and blooms, partition
tuples and zero-row cleanup are decided in one place. Two pyarrow paths
write data files from inside tasks with the same codec: compact's rewrite
wave (``CODEC``/``CODEC_LEVEL``) and the streaming sink (zstd at Arrow's
default level, which is 1).
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS_STAT_COLUMNS
from .meta import DataFileEntry, Snapshot, Table
from .partition import partition_from_path, spark_partition_column
from .stats import collect_entries, list_parquet_files

# default target data-file size for writes/compaction; small in the sandbox
# so the file-count dynamics of a 100 TB table are reproduced at SF scale
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024

#: the codec of every engine data file: zstd at level 1 (Arrow's default;
#: parquet-mr's is 3). Level 1 costs ~10% size for ~2x less encode CPU
#: than level 3. Set per write, not as the session default, so frames a
#: caller stages through the same session keep the session's codec.
CODEC = "zstd"
CODEC_LEVEL = 1


def write_files(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    n_files: int | None,
    subdir: str,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    order_by: str | None = None,
    rows_per_file: int = 0,
) -> list[DataFileEntry]:
    """Write ``df`` as parquet files under data/<subdir>; return
    stat-bearing entries (NOT yet committed).

    Hidden partitioning (table/partition.py): the table's derived
    partition columns are computed, the write splits hive-style
    (``name=value/`` dirs, derived columns NOT stored in the files — the
    data schema is unchanged), and each entry carries its partition tuple
    for exact planner pruning.

    Distribution: ``n_files=None`` adds no exchange; each of ``df``'s
    partitions (callers bound them with ``coalesce``) writes its rows in
    order. An int ``n_files`` shuffles into that many write tasks:
    round-robin, or with ``order_by=<column>`` range-partitioned on
    (partition cols, column), sorted by the same, the column dropped.
    Either way each task starts a new file every ``rows_per_file`` rows
    (0: no cap), so with ``order_by=`` a task's files are consecutive runs
    of its sorted range. Zero-row outputs are deleted."""
    out_dir = os.path.join(table.data_dir, subdir)
    if os.path.exists(out_dir):
        raise FileExistsError(f"data subdir already exists: {out_dir}")
    spec = table.partition_spec()
    names = [f.name for f in spec]
    for f in spec:
        df = df.withColumn(f.name, spark_partition_column(f))
    if order_by is not None and n_files is None:
        raise ValueError("order_by needs n_files: the range exchange's file count")
    if n_files is not None:
        n = max(1, n_files)
        if order_by is not None:
            keys = [*names, order_by]
            df = df.repartitionByRange(n, *keys).sortWithinPartitions(*keys).drop(order_by)
        elif names:
            # cluster rows by partition tuple, SALTED by the source split
            # so a hot partition parallelizes across tasks instead of
            # funneling through one (each task writes one file per value
            # it holds; compaction owns final file sizing)
            df = df.repartition(n, *names, F.spark_partition_id())
        else:
            df = df.repartition(n)
    (
        df.write.mode("error")
        .option("compression", CODEC)
        .option("parquet.compression.codec.zstd.level", str(CODEC_LEVEL))
        .option("maxRecordsPerFile", str(max(0, rows_per_file)))
        .partitionBy(*names)
        .parquet(out_dir)
    )
    entries = collect_entries(list_parquet_files(out_dir), table.root, stat_columns,
                              spark=spark, bloom_spec=table.bloom_spec())
    live = []
    for e in entries:
        if e.rows == 0:
            os.remove(os.path.join(table.root, e.path))
            continue
        if spec:
            e.partition = partition_from_path(e.path, spec)
        live.append(e)
    return live


def rewrite_sizing(entries: list[DataFileEntry], target_bytes: int) -> tuple[int, int]:
    """``(tasks, rows_per_file)`` to rewrite ``entries`` into files of about
    ``target_bytes``, from the manifest: the caller coalesces to ``tasks``,
    so a large file's scan splits are written back as one file."""
    n_bytes = sum(e.bytes for e in entries) or 1
    return (math.ceil(n_bytes / target_bytes),
            math.ceil(target_bytes * sum(e.rows for e in entries) / n_bytes))


def align_to_schema(df: DataFrame, schema) -> DataFrame:
    """Align a writer's frame to the table's schema: extra columns are
    REJECTED (typo protection), missing nullable columns (a producer not
    yet updated after add_columns) fill with NULL, and only a column
    whose type differs is cast. Shared by append and MERGE so both write
    paths tolerate schema-lagged producers identically."""
    expected = {f.name for f in schema.fields}
    extra = set(df.columns) - expected
    if extra:
        raise ValueError(f"columns not in table schema: {sorted(extra)}")
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if have.get(f.name) == f.dataType:
            cols.append(F.col(f.name))
        elif f.name in have:
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
    extra_summary: dict | None = None,
) -> "Snapshot":
    """Append ``df`` to an existing table as one O(delta) commit.

    ``extra_summary`` merges caller-supplied keys into the snapshot
    summary ATOMICALLY with the commit (e.g. copy_into's loaded-file
    ledger) — there is no window where the rows are visible but the
    marker is not.

    The frame is aligned to the table's CURRENT schema (``align_to_schema``)
    and written as one Spark job without an exchange: its partitions,
    coalesced to at most one per core, are the write tasks, each starting
    a new file every ``rows_per_file`` rows. Nothing counts the batch
    (``appended-rows`` sums the written files); each task leaves one tail
    file. With CHECK constraints the aligned frame is persisted for the
    append, so the constraint pass and the write see one computation."""
    from .scan import resolve_schema

    schema = resolve_schema(table)
    # stamp outputs with the version this schema WAS resolved at — a
    # rename committed by another process between here and commit_append
    # must not relabel these files' written names (review finding; the
    # commit-time backfill only covers legacy callers)
    sv_plan = table.write_schema_version()
    df = align_to_schema(df, schema)
    from ..operators.constraints import enforce_constraints  # deferred: avoids import cycle

    # no MoR-tombstone guard: an appended file's seq is above every live
    # tombstone, so INSERT after DELETE re-inserts the key (SQL semantics)
    cached = df.persist() if table.constraints() else None
    try:
        df = enforce_constraints(df, table, context="append")
        subdir = f"append-{uuid.uuid4().hex[:12]}"
        entries = write_files(spark, table, df.coalesce(spark.sparkContext.defaultParallelism),
                              None, subdir, rows_per_file=rows_per_file)
    finally:
        if cached is not None:
            cached.unpersist()
    for e in entries:
        e.sv = sv_plan
    summary = {"appended-rows": sum(e.rows for e in entries)}
    if extra_summary:
        summary.update(extra_summary)
    return table.commit_append(entries, summary=summary)


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
    # k commits split by conv_id hash, each of at most n files merged from
    # neighbouring input partitions (fewer partitions than n roll by rows)
    k = max(1, n_append_commits)
    n = max(1, -(-df.count() // rows_per_file) // k)
    per_file = rows_per_file if df.rdd.getNumPartitions() < n else 0
    for b in range(k):
        part = df.where(F.pmod(F.xxhash64("conv_id"), k) == b) if k > 1 else df
        entries = write_files(spark, table, part.coalesce(n), None,
                              f"ingest-{table._next_id():08d}-0000", rows_per_file=per_file)
        table.commit_append(entries, {"op": "initial-ingest", **({"batch": b} if k > 1 else {})})
    return table
