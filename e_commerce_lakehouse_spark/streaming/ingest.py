"""Structured-Streaming ingestion into the lakehouse table.

The reference approximates streaming with S3-event → Lambda → Step
Functions → Glue micro-batches, idempotent via MERGE-on-PK +
move-after-success archival (SURVEY.md §2.8,
`/root/reference/src/lambda/s3_event_trigger.py:33-48`,
`orders_etl.py:179-188`). Spark-first, that whole control plane collapses
to: file-source ``readStream`` + ``Trigger.AvailableNow`` +
``foreachBatch(MERGE INTO)``:

- new files under the landing dir are discovered by the source (replaces
  S3 events + Lambda routing);
- each micro-batch upserts by PK via operators/merge.merge_into —
  re-delivery of a file is idempotent, the reference's exactly-once-ish
  contract;
- the streaming checkpoint dir replaces move-after-success archival as
  the processed-file ledger.

``windowed_counts`` is the watermark + event-time tumbling-window
aggregation surface (usable in batch mode too — same function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_into
from ..schema import TRANSCRIPTS_SCHEMA
from ..table.meta import Table


def ingest_available_now(
    spark: SparkSession,
    table: Table,
    landing_dir: str,
    checkpoint_dir: str,
    schema=TRANSCRIPTS_SCHEMA,
    source_format: str = "csv",
    keys=("conv_id", "turn_idx"),
) -> dict:
    """Drain all currently-available files from ``landing_dir`` into the
    table via MERGE, then stop (Trigger.AvailableNow). Returns metrics.

    Explicit schema (never inferSchema — SURVEY.md §1.4); CSV files carry
    a header row like the reference's inputs."""
    reader = spark.readStream.schema(schema)
    if source_format == "csv":
        stream = reader.option("header", "true").csv(landing_dir)
    elif source_format == "parquet":
        stream = reader.parquet(landing_dir)
    else:
        raise ValueError(f"unsupported streaming source: {source_format}")

    batches: list[dict] = []

    def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if table.current_snapshot_id() is None:
            # first batch bootstraps the table (Delta initial write analog,
            # orders_etl.py:191-194)
            from ..operators.constraints import enforce_constraints
            from ..table.writer import write_files

            batch_df = enforce_constraints(batch_df, table, context="stream-bootstrap")
            entries = write_files(spark, table, batch_df, None, f"stream-{epoch_id:08d}")
            table.commit_append(entries, {"op": "stream-bootstrap", "epoch": epoch_id})
            batches.append({"epoch": epoch_id, "op": "bootstrap"})
            return
        m = merge_into(spark, table, batch_df, keys=keys, schema=schema)
        batches.append({"epoch": epoch_id, "op": "merge", **m})

    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"batches": batches, "snapshot": table.current_snapshot_id()}


def txn_last_epoch(table: Table, app_id: str) -> int | None:
    """The last epoch ``app_id`` committed to this table, or None if no
    retained snapshot carries its marker. Walks the head's parent chain
    (O(retained chain), metadata only); the marker lives in the commit's
    own summary, so it is ATOMIC with the data it covers — there is no
    second file that can lag the flip after a crash. A chain broken by
    expire before the app's last commit reads as None; see
    ingest_append_stream for the retention caveat that makes this safe."""
    sid = table.current_snapshot_id()
    while sid is not None:
        try:
            snap = table.snapshot(sid)
        except FileNotFoundError:
            return None  # chain expired below here — no marker retained
        if snap.summary.get("txn_app") == app_id:
            return int(snap.summary["txn_epoch"])
        sid = snap.parent_id
    return None


def ingest_append_stream(
    spark: SparkSession,
    table: Table,
    landing_dir: str,
    checkpoint_dir: str,
    schema=TRANSCRIPTS_SCHEMA,
    source_format: str = "parquet",
    app_id: str | None = None,
    files_per_batch: int | None = None,
) -> dict:
    """APPEND-ONLY exactly-once ingest (Trigger.AvailableNow): the fast
    path for true event streams with no primary-key corrections — no
    MERGE join, each micro-batch is one O(delta) append commit.

    Exactly-once without keys needs a transaction marker (Delta's
    txnAppId/txnVersion): every batch commit records (txn_app, txn_epoch)
    in its snapshot summary, and a re-delivered epoch (streaming
    checkpoint crashed AFTER the table commit but BEFORE recording the
    batch) is detected by ``txn_last_epoch`` and SKIPPED instead of
    double-appended. The marker is in the committed snapshot itself, so
    the check can never disagree with the data.

    Retention caveat: the guard needs the app's last ingest commit
    retained. A restarted stream re-delivers only its most recent
    epoch(s), whose commits sit at or near the head — any sane
    ``keep_last`` (≥ 2) retains them. If expire somehow removed the
    app's entire retained history, the guard degrades to at-least-once
    for exactly the re-delivered batch (same contract as poll-based
    consumers).

    Composition caveat (same as Delta's txnAppId guidance): the epoch
    check assumes a restarted stream re-delivers the SAME batch
    compositions — true when the streaming checkpoint survives (the
    normal crash window, and the contract this guard covers). After a
    full checkpoint LOSS, epochs reset and files may regroup: a skipped
    epoch that happens to contain a genuinely NEW file would drop that
    file (the fresh checkpoint marks it processed). If a checkpoint is
    ever lost, restart with a NEW app_id (duplicates the re-delivered
    tail — at-least-once) or use the MERGE path, which is idempotent by
    key. Never reuse one app_id across two checkpoint dirs.

    ``app_id`` defaults to a stable name derived from the checkpoint dir
    (one checkpoint == one logical stream == one transaction stream)."""
    import hashlib
    import os
    import uuid

    from ..operators.constraints import enforce_constraints
    from ..table.writer import write_files

    app_id = app_id or "ingest-" + hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    reader = spark.readStream.schema(schema)
    if files_per_batch is not None:
        # slice the drain into multiple micro-batches (AvailableNow
        # honors maxFilesPerTrigger) — one append commit per batch
        reader = reader.option("maxFilesPerTrigger", files_per_batch)
    if source_format == "csv":
        stream = reader.option("header", "true").csv(landing_dir)
    elif source_format == "parquet":
        stream = reader.parquet(landing_dir)
    else:
        raise ValueError(f"unsupported streaming source: {source_format}")
    batches: list[dict] = []

    def _append_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = txn_last_epoch(table, app_id)
        if last is not None and epoch_id <= last:
            batches.append({"epoch": epoch_id, "op": "skipped-duplicate",
                            "last_committed_epoch": last})
            return
        df = enforce_constraints(batch_df, table, context="stream-append")
        # uuid suffix: a crash between write and commit leaves an orphan
        # dir (grace-bounded GC), and the retry of the same epoch never
        # collides with it
        entries = write_files(spark, table, df, None,
                              f"stream-{epoch_id:08d}-{uuid.uuid4().hex[:12]}")
        snap = table.commit_append(
            entries,
            {"op": "stream-append", "txn_app": app_id, "txn_epoch": epoch_id},
        )
        batches.append({"epoch": epoch_id, "op": "append",
                        "snapshot": snap.snapshot_id,
                        "rows": sum(e.rows for e in entries)})

    q = (
        stream.writeStream.foreachBatch(_append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"batches": batches, "snapshot": table.current_snapshot_id(),
            "txn_app": app_id}


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("role",),
) -> DataFrame:
    """Event-time tumbling-window counts. On a streaming DataFrame the
    watermark bounds state and drops late rows (the late-data policy the
    reference lacks — its only handling is MERGE-overwrites, SURVEY §2.8);
    on a batch DataFrame the same code is a plain windowed aggregation."""
    src = df
    if df.isStreaming:
        src = df.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.window(F.col(ts_col), window).getField("start").alias("window_start"),
        *group_cols,
    ).agg(F.count("*").alias("n"))


def stream_dedup(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming key-dedup with BOUNDED state: keep the first arrival of
    each key, dropping redeliveries that land within the watermark
    horizon (``dropDuplicatesWithinWatermark`` — state for a key is
    evicted once the watermark passes it, so the operator never
    accumulates unbounded key state the way plain ``dropDuplicates``
    does on a stream). This is the at-source half of exactly-once for a
    redelivering transport; the foreachBatch MERGE sink
    (ingest_available_now) is the idempotent other half — together
    duplicate deliveries can't double-append.

    On a batch DataFrame the same call degrades to plain dropDuplicates
    (watermarks are a streaming concept)."""
    if not df.isStreaming:
        return df.dropDuplicates(list(keys))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
