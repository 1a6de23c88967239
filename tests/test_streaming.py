"""Streaming ingestion: AvailableNow drain → MERGE, idempotent re-delivery,
windowed agg with watermark (SURVEY.md §2.8 re-expressed Spark-first)."""

import os

import pytest

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.streaming.ingest import ingest_available_now, windowed_counts
from e_commerce_lakehouse_spark.synth import transcripts_df
from e_commerce_lakehouse_spark.table import Table, scan


def _write_csv_batch(spark, df, path):
    (
        df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )


def test_stream_ingest_bootstrap_merge_and_idempotent_redelivery(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    troot = str(tmp_path / "tbl")
    table = Table.create(troot)

    df = transcripts_df(spark, 500, seed=7).cache()
    _write_csv_batch(spark, df, os.path.join(landing, "batch1"))

    m1 = ingest_available_now(spark, table, landing + "/*", ckpt)
    assert m1["snapshot"] == 1
    assert scan(spark, table).count() == 500

    # batch 2: corrections for an existing conv + brand-new rows
    fixed = (
        df.where(F.col("turn_idx") == 0)
        .limit(5)
        .withColumn("text", F.lit("streamed-fix"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
    )
    _write_csv_batch(spark, fixed, os.path.join(landing, "batch2"))
    m2 = ingest_available_now(spark, table, landing + "/*", ckpt)
    got = scan(spark, table).cache()
    assert got.count() == 500  # updates, no inserts
    assert got.where(F.col("text") == "streamed-fix").count() == 5

    # re-run with the same checkpoint: nothing new → no table change
    snap_before = table.current_snapshot_id()
    ingest_available_now(spark, table, landing + "/*", ckpt)
    assert table.current_snapshot_id() == snap_before
    got.unpersist()


def test_windowed_counts_batch_and_stream_agree(spark, tmp_path):
    df = transcripts_df(spark, 800, seed=9).cache()
    batch = windowed_counts(df)
    batch_rows = {(r["window_start"], r["role"]): r["n"] for r in batch.collect()}

    pq_dir = str(tmp_path / "events_pq")
    df.write.parquet(pq_dir)
    stream = spark.readStream.schema(df.schema).parquet(pq_dir)
    agg = windowed_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        (r["window_start"], r["role"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert stream_rows == batch_rows


def test_stream_dedup_drops_redeliveries_with_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate deliveries of the same
    (conv_id, turn_idx) within the watermark horizon reach the sink
    exactly once; key state is watermark-evicted (bounded)."""
    from e_commerce_lakehouse_spark.streaming.ingest import stream_dedup

    src_dir = str(tmp_path / "dup-src")
    base = transcripts_df(spark, 200, seed=11).cache()
    # each row delivered twice (a redelivering transport)
    doubled = base.unionByName(base)
    doubled.coalesce(1).write.mode("overwrite").parquet(src_dir)
    assert spark.read.parquet(src_dir).count() == 400

    stream = spark.readStream.schema(base.schema).parquet(src_dir)
    out: list = []
    q = (
        stream_dedup(stream)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dup-ckpt"))
        .foreachBatch(lambda bdf, bid: out.extend(bdf.collect()))
        .start()
    )
    q.awaitTermination()
    assert len(out) == 200
    assert len({(r["conv_id"], r["turn_idx"]) for r in out}) == 200
    # batch degradation: same helper on a batch frame
    assert stream_dedup(doubled).count() == 200
    base.unpersist()


def test_stream_ingest_enforces_constraints_loudly(spark, tmp_path):
    """A micro-batch violating a table CHECK constraint must FAIL the
    stream (StreamingQueryException wrapping ConstraintViolation), never
    silently land — and the table keeps its pre-batch snapshot. After
    dropping the constraint, re-running the same checkpoint drains the
    batch (at-least-once recovery)."""
    from e_commerce_lakehouse_spark.operators.constraints import (
        add_constraint, drop_constraint,
    )

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    table = Table.create(str(tmp_path / "tbl"))
    df = transcripts_df(spark, 300, seed=7).cache()
    _write_csv_batch(spark, df, os.path.join(landing, "b1"))
    ingest_available_now(spark, table, landing + "/*", ckpt)
    add_constraint(spark, table, "nonneg_turn", "turn_idx >= 0")

    # 4 DISTINCT conversations (limit(4) alone can take 4 turns of one
    # conv, which MERGE's keep-latest would collapse to a single key)
    bad = (
        df.where("turn_idx = 0").limit(4).withColumn("turn_idx", F.lit(-3))
    )
    _write_csv_batch(spark, bad, os.path.join(landing, "b2"))
    snap_before = table.current_snapshot_id()
    import pytest

    with pytest.raises(Exception, match="nonneg_turn"):
        ingest_available_now(spark, table, landing + "/*", ckpt)
    assert table.current_snapshot_id() == snap_before  # nothing landed
    assert scan(spark, table).where("turn_idx < 0").count() == 0

    # operator drops the constraint; the SAME checkpoint re-delivers the
    # failed batch and it lands (foreachBatch at-least-once semantics)
    drop_constraint(table, "nonneg_turn")
    ingest_available_now(spark, table, landing + "/*", ckpt)
    assert scan(spark, table).where("turn_idx = -3").count() == 4
    df.unpersist()


def test_append_stream_exactly_once_txn_markers(spark, tmp_path):
    """Append-only ingest: one append commit per micro-batch with
    (txn_app, txn_epoch) markers; a re-delivered epoch (checkpoint lost
    AFTER the table commit — the crash window) is skipped, not
    double-appended."""
    import shutil

    from e_commerce_lakehouse_spark.streaming.ingest import (
        ingest_append_stream,
        txn_last_epoch,
    )
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    troot = str(tmp_path / "tbl")
    seed_df = transcripts_df(spark, 200, seed=1).cache()
    table = create_transcripts_table(spark, troot, seed_df, rows_per_file=200)

    b1 = transcripts_df(spark, 300, seed=2).withColumn(
        "conv_id", F.concat(F.lit("s1-"), F.col("conv_id")))
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(landing, "f1"))
    m1 = ingest_append_stream(spark, table, landing + "/*", ckpt)
    assert [b["op"] for b in m1["batches"]] == ["append"]
    assert scan(spark, table).count() == 500
    app = m1["txn_app"]
    epoch1 = m1["batches"][0]["epoch"]
    assert txn_last_epoch(table, app) == epoch1

    # crash window: the table committed epoch 1 but the streaming
    # checkpoint is LOST — the restarted stream re-delivers everything;
    # the txn marker must turn the re-delivery into a skip
    shutil.rmtree(ckpt)
    snap_before = table.current_snapshot_id()
    m2 = ingest_append_stream(spark, table, landing + "/*", ckpt)
    assert [b["op"] for b in m2["batches"]] == ["skipped-duplicate"]
    assert table.current_snapshot_id() == snap_before
    assert scan(spark, table).count() == 500

    # new files resume the epoch sequence and append normally
    b2 = transcripts_df(spark, 100, seed=3).withColumn(
        "conv_id", F.concat(F.lit("s2-"), F.col("conv_id")))
    b2.coalesce(1).write.mode("overwrite").parquet(os.path.join(landing, "f2"))
    m3 = ingest_append_stream(spark, table, landing + "/*", ckpt)
    assert any(b["op"] == "append" for b in m3["batches"])
    assert scan(spark, table).count() == 600
    seed_df.unpersist()


def test_streaming_session_window_parity_and_boundary(spark, tmp_path):
    """q73's contract: streaming session_window on a bounded replay ==
    gap-based relational sessionization, with the boundary convention
    pinned — an event landing EXACTLY at prev_ts + gap merges into the
    session (Spark's window end is inclusive for merging), so the
    relational twin must use strictly-greater-than for session starts."""
    rows = [
        (1, "2024-01-01 08:00:00", 1.0), (1, "2024-01-01 08:30:00", 2.0),
        (1, "2024-01-01 09:00:00.000001", 4.0),           # > gap: new session
        (2, "2024-01-01 08:00:00", 8.0), (2, "2024-01-01 08:29:59.999999", 16.0),
        (3, "2024-01-01 23:59:00", 32.0),                  # tail session
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "events")
    df.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (
        spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 hour")
    )
    agg = stream.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("v"))
    sq = (
        agg.select("user_id", "n", "v")
        .writeStream.format("memory").queryName("ssw_q73")
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    sq.awaitTermination()
    got = sorted((r.user_id, r.n, r.v) for r in spark.table("ssw_q73").collect())
    spark.catalog.dropTempView("ssw_q73")
    # user1: 08:00 + 08:30 merge (exact boundary), 09:00.000001 is new;
    # user2: one session; user3's tail session must be emitted too
    assert got == [(1, 1, 4.0), (1, 2, 3.0), (2, 2, 24.0), (3, 1, 32.0)]


def test_table_as_streaming_source_drain_resume_and_rewrite_silence(spark, tmp_path):
    """The lakehouse table as a readStream SOURCE (Python Data Source API,
    streaming/table_source.py): (1) a full drain delivers exactly the
    table's rows; (2) a checkpointed restart delivers ONLY commits after
    the last offset; (3) a compaction between appends delivers zero rows
    (physical rewrites never re-feed downstream)."""
    from e_commerce_lakehouse_spark.operators.compact import compact
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table, write_files

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 2000, seed=5)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=250,
                                   n_append_commits=2)

    def _drain(_label):
        # foreachBatch, not a memory sink: memory sinks refuse checkpoint
        # RECOVERY, and the resume leg is the point of this test
        got: list[int] = []
        stream = spark.readStream.format("lakehouse_stream").load(root)
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: got.append(bdf.count())
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination()
        return sum(got)

    assert _drain("ts_d1") == scan(spark, tbl).count() == 2000

    # compaction + a fresh append; the resumed stream must deliver ONLY
    # the appended rows (not the compacted rewrite of the first 2000)
    compact(spark, tbl, target_bytes=1 << 20)
    extra = transcripts_df(spark, 300, seed=77)
    entries = write_files(spark, tbl, extra, 2, "probe-append")
    tbl.commit_append(entries, {"op": "append"})
    assert _drain("ts_d2") == 300

    # nothing new -> an empty micro-batch, zero rows
    assert _drain("ts_d3") == 0


def test_table_as_native_streaming_sink(spark, tmp_path):
    """The native lakehouse SINK (streaming/table_sink.py): executors
    write Arrow parquet + footer stats, the driver commits one atomic
    append per epoch with (txn_app, txn_epoch) markers. Covers: drain,
    exactly-once redelivery skip after checkpoint loss, and CHECK
    constraints failing the epoch with the table left untouched."""
    import shutil

    import pytest

    from e_commerce_lakehouse_spark.operators.constraints import add_constraint
    from e_commerce_lakehouse_spark.streaming.table_sink import LakehouseSinkDataSource
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import Table, scan

    spark.dataSource.register(LakehouseSinkDataSource)
    root, ck, land = str(tmp_path / "tbl"), str(tmp_path / "ck"), str(tmp_path / "land")
    tbl = Table.create(root)
    # declared BEFORE the stream: sink-written files must carry the
    # bloom index like every other write path
    tbl.set_bloom_columns(["conv_id"])
    df = transcripts_df(spark, 800, seed=3).cache()
    df.coalesce(2).write.parquet(land)

    def _run():
        stream = spark.readStream.schema(df.schema).parquet(land)
        q = (
            stream.writeStream.format("lakehouse_sink").option("path", root)
            .trigger(availableNow=True).option("checkpointLocation", ck).start()
        )
        q.awaitTermination()

    _run()
    assert scan(spark, tbl, schema=df.schema).count() == 800
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.summary["op"] == "stream-append"
    assert snap.summary["txn_epoch"] == 0
    # sink-written entries must carry null counts + stream-start sv —
    # without them metadata_count/retention demote every sink file to
    # the read path (review finding)
    assert all(e.nulls is not None for e in tbl.entries())
    # ...and the declared per-file index
    assert all("conv_id" in (e.blooms or {}) for e in tbl.entries())

    # checkpoint loss after the table commit: redelivery must SKIP
    shutil.rmtree(ck)
    _run()
    assert scan(spark, tbl, schema=df.schema).count() == 800
    assert tbl.current_snapshot_id() == snap.snapshot_id

    # constrained tables: the sink cannot evaluate SQL predicates in its
    # session-less commit worker, so it must REFUSE the epoch loudly
    # (pointing at the enforcing ingest paths) and leave the table at its
    # pre-batch snapshot — never land unvalidated rows silently
    add_constraint(spark, tbl, "no_neg_turn", "turn_idx >= 0", schema=df.schema)
    more = transcripts_df(spark, 50, seed=9)
    more.coalesce(1).write.mode("append").parquet(land)
    with pytest.raises(Exception, match="no_neg_turn|CHECK constraints"):
        _run()
    assert tbl.current_snapshot_id() == snap.snapshot_id
    assert scan(spark, tbl, schema=df.schema).count() == 800
    df.unpersist()


def test_native_table_to_table_streaming_replication(spark, tmp_path):
    """Source and sink composed: readStream from table A (snapshot-log
    offsets) -> writeStream into table B (atomic epoch commits) with
    AvailableNow — incremental table replication entirely through the
    native streaming surfaces. A second pass after more commits on A
    ships ONLY the delta."""
    from e_commerce_lakehouse_spark.streaming.table_sink import LakehouseSinkDataSource
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import Table, scan
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table, write_files

    spark.dataSource.register(LakehouseStreamDataSource)
    spark.dataSource.register(LakehouseSinkDataSource)
    ra, rb, ck = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "ck")
    df = transcripts_df(spark, 900, seed=21).cache()
    ta = create_transcripts_table(spark, ra, df, rows_per_file=300,
                                  n_append_commits=2)
    tb = Table.create(rb)

    def _replicate():
        q = (
            spark.readStream.format("lakehouse_stream").load(ra)
            .writeStream.format("lakehouse_sink").option("path", rb)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination()

    _replicate()
    assert scan(spark, tb).count() == 900
    # full-fidelity check, not just counts
    assert scan(spark, tb).exceptAll(scan(spark, ta)).count() == 0

    extra = transcripts_df(spark, 150, seed=22).withColumn(
        "conv_id", F.concat(F.lit("delta-"), F.col("conv_id")))
    entries = write_files(spark, ta, extra, 1, "delta-append")
    ta.commit_append(entries, {"op": "append"})
    _replicate()
    assert scan(spark, tb).count() == 1050
    assert scan(spark, tb).where("conv_id like 'delta-%'").count() == 150
    df.unpersist()


def test_table_streaming_source_cdf_mode(spark, tmp_path):
    """mode=cdf: copy-on-write deletes/updates stream as retractions —
    applying the feed (per _commit_sid: deletes then inserts) rebuilds
    the table's final state exactly; compaction contributes nothing;
    merge-on-read commits in the window stream exact retractions."""
    from e_commerce_lakehouse_spark.operators.compact import compact
    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        update_where,
    )
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import (
        create_transcripts_table,
        write_files,
    )

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 1200, seed=9)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=200,
                                   n_append_commits=2)
    delete_where(spark, tbl, F.col("role") == "tool")  # cow delete
    update_where(spark, tbl, F.col("role") == "system",
                 {"text": F.lit("SYS")})  # cow update
    compact(spark, tbl, target_bytes=1 << 20)  # must contribute nothing

    batches = []
    q = (
        spark.readStream.format("lakehouse_stream")
        .option("mode", "cdf").load(root)
        .writeStream.foreachBatch(
            lambda bdf, bid: batches.append(bdf.collect())
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination()
    rows = [r for b in batches for r in b]
    assert rows and all(r["_change_type"] in ("insert", "delete") for r in rows)

    # replay the feed: per commit, deletes retract then inserts apply
    data_cols = [c for c in scan(spark, tbl).columns]
    state: dict[tuple, int] = {}
    for sid in sorted({r["_commit_sid"] for r in rows}):
        for r in rows:
            if r["_commit_sid"] != sid or r["_change_type"] != "delete":
                continue
            k = tuple(r[c] for c in data_cols)
            state[k] -= 1
            if not state[k]:
                del state[k]
        for r in rows:
            if r["_commit_sid"] != sid or r["_change_type"] != "insert":
                continue
            k = tuple(r[c] for c in data_cols)
            state[k] = state.get(k, 0) + 1
    replayed = sorted(k for k, n in state.items() for _ in range(n))
    expect = sorted(map(tuple, scan(spark, tbl).collect()))
    assert replayed == expect

    # merge-on-read in the window: streams exact retractions (round-5
    # capability — deep coverage in test_cdf_stream_over_merge_on_read_
    # commits); the resumed consumer sees one delete per tombstoned row
    n_user = scan(spark, tbl).where(F.col("role") == "user").count()
    delete_where(spark, tbl, F.col("role") == "user", mode="merge-on-read")
    more: list = []
    q2 = (
        spark.readStream.format("lakehouse_stream")
        .option("mode", "cdf").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: more.append(bdf.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q2.awaitTermination()
    mor_rows = [r for b in more for r in b]
    assert [r["_change_type"] for r in mor_rows].count("delete") == n_user
    assert all(r["role"] == "user" for r in mor_rows
               if r["_change_type"] == "delete")


def test_cdf_stream_across_rename(spark, tmp_path):
    """CDF mode on a renamed table: pre-rename vintages surface their
    delete/insert images under the CURRENT column names (the reader's
    per-file rename maps), and the net replay still matches the table."""
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
    from e_commerce_lakehouse_spark.operators.schema_evolution import (
        rename_column,
    )
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 600, seed=3)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=150)
    rename_column(tbl, "role", "speaker")
    delete_where(spark, tbl, F.col("speaker") == "tool")  # cow, mixed vintages

    batches = []
    q = (
        spark.readStream.format("lakehouse_stream")
        .option("mode", "cdf").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: batches.append(bdf.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination()
    rows = [r for b in batches for r in b]
    assert rows and "speaker" in rows[0].asDict() and "role" not in rows[0].asDict()
    data_cols = scan(spark, tbl).columns
    state: dict[tuple, int] = {}
    for sid in sorted({r["_commit_sid"] for r in rows}):
        for r in rows:
            if r["_commit_sid"] == sid and r["_change_type"] == "delete":
                k = tuple(r[c] for c in data_cols)
                state[k] -= 1
                if not state[k]:
                    del state[k]
        for r in rows:
            if r["_commit_sid"] == sid and r["_change_type"] == "insert":
                k = tuple(r[c] for c in data_cols)
                state[k] = state.get(k, 0) + 1
    replayed = sorted(k for k, n in state.items() for _ in range(n))
    assert replayed == sorted(map(tuple, scan(spark, tbl).collect()))


def test_stream_source_null_fills_pre_add_vintages(spark, tmp_path):
    """Add-only evolution (no rename): files written BEFORE add_columns
    lack the added column; the stream source must null-fill them to the
    declared schema exactly like the batch read path (r4 advice: the
    alignment was conditioned on mapping_required and skipped this case)."""
    from e_commerce_lakehouse_spark.operators.schema_evolution import add_columns
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import (
        create_transcripts_table,
        write_files,
    )

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 400, seed=11)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=100)
    add_columns(tbl, [("quality", "double")])
    extra = transcripts_df(spark, 100, seed=12).withColumn(
        "quality", F.lit(0.5)
    )
    entries = write_files(spark, tbl, extra, 1, "post-add-append")
    tbl.commit_append(entries, {"op": "append"})

    batches = []
    q = (
        spark.readStream.format("lakehouse_stream").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: batches.append(bdf.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination()
    rows = [r for b in batches for r in b]
    assert len(rows) == 500
    # every row — including the 400 pre-ADD ones — carries the column
    assert all("quality" in r.asDict() for r in rows)
    assert sum(r["quality"] is None for r in rows) == 400
    assert sum(r["quality"] == 0.5 for r in rows) == 100
    # parity with the batch read path
    batch = scan(spark, tbl).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))


def test_cdf_stream_expired_delete_basis_raises_changefeed_error(spark, tmp_path):
    """CDF planning over a delete whose basis was expired/GC'd must raise
    ChangeFeedError with a re-sync hint — not a raw FileNotFoundError
    from the stream (r4 advice: cdc.py got this translation, the
    streaming source didn't)."""
    import os
    import shutil

    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table.cdc import ChangeFeedError
    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 300, seed=21)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=100)
    delete_where(spark, tbl, F.col("role") == "tool")  # copy-on-write

    # simulate expire GC racing the stream window: remove one of the
    # files the delete snapshot removed (its rows' delete basis)
    tbl = Table.load(root)
    head = tbl.snapshot(tbl.current_snapshot_id())
    victim = sorted(head.removed_files)[0]
    os.remove(os.path.join(root, victim))

    q = (
        spark.readStream.format("lakehouse_stream")
        .option("mode", "cdf").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: None)
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    with pytest.raises(Exception) as ei:
        q.awaitTermination()
    msg = str(ei.value)
    assert "ChangeFeedError" in msg or "re-sync" in msg
    shutil.rmtree(ck, ignore_errors=True)


def test_cdf_stream_over_merge_on_read_commits(spark, tmp_path):
    """CDF mode over MoR commits (r4 verdict #3): a delete-mor streams
    its tombstoned keys' parent-visible pre-images as retractions; a
    stacked second delete-mor must NOT retract rows the first already
    killed (seq-aware anti); an update-mor emits delete pre-images plus
    insert post-images. Net replay == final table."""
    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        update_where,
    )
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 600, seed=31)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=150)
    m1 = delete_where(spark, tbl, "role = 'tool'", mode="merge-on-read")
    assert m1["mode"] == "merge-on-read" and m1["tombstoned_keys"] > 0
    # stacked: overlaps rows already dead from m1 (some tool rows have
    # turn_idx >= 9) — those must not be retracted twice
    m2 = delete_where(spark, tbl, "turn_idx >= 9", mode="merge-on-read")
    assert m2["tombstoned_keys"] > 0
    m3 = update_where(spark, tbl, "turn_idx = 0",
                      {"text": F.lit("EDITED")}, mode="merge-on-read")
    assert m3["mode"] == "merge-on-read"
    # key-rewriting update-mor: pre-image keys retract, new keys insert
    m4 = update_where(spark, tbl, "turn_idx = 1",
                      {"turn_idx": "turn_idx + 500"}, mode="merge-on-read")
    assert m4["mode"] == "merge-on-read" and m4["updated_rows"] > 0

    batches = []
    q = (
        spark.readStream.format("lakehouse_stream")
        .option("mode", "cdf").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: batches.append(bdf.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    q.awaitTermination()
    rows = [r for b in batches for r in b]
    data_cols = [c for c in scan(spark, tbl).columns]
    deletes = [r for r in rows if r["_change_type"] == "delete"]
    inserts = [r for r in rows if r["_change_type"] == "insert"]
    assert deletes and inserts

    # no row is retracted more than once across the whole window
    from collections import Counter

    del_keys = Counter((r["conv_id"], r["turn_idx"]) for r in deletes)
    assert del_keys and max(del_keys.values()) == 1

    # update-mor balances: the non-key update's delete pre-images and
    # insert post-images cover the same keys; the KEY-REWRITING update's
    # deletes carry the pre-image keys and its inserts the moved keys
    sids = sorted({r["_commit_sid"] for r in rows})
    upd_sid, move_sid = sids[-2], sids[-1]
    upd_del = {(r["conv_id"], r["turn_idx"]) for r in deletes
               if r["_commit_sid"] == upd_sid}
    upd_ins = {(r["conv_id"], r["turn_idx"]) for r in inserts
               if r["_commit_sid"] == upd_sid}
    assert upd_del == upd_ins and upd_del
    mv_del = {(r["conv_id"], r["turn_idx"]) for r in deletes
              if r["_commit_sid"] == move_sid}
    mv_ins = {(r["conv_id"], r["turn_idx"]) for r in inserts
              if r["_commit_sid"] == move_sid}
    assert mv_del and all(t == 1 for _c, t in mv_del)
    assert mv_ins == {(c, t + 500) for c, t in mv_del}

    # net replay (delete-before-insert per sid) reproduces the table
    state: dict[tuple, int] = {}
    for sid in sorted({r["_commit_sid"] for r in rows}):
        for r in deletes:
            if r["_commit_sid"] == sid:
                k = tuple(r[c] for c in data_cols)
                state[k] -= 1
                if not state[k]:
                    del state[k]
        for r in inserts:
            if r["_commit_sid"] == sid:
                k = tuple(r[c] for c in data_cols)
                state[k] = state.get(k, 0) + 1
    replayed = sorted(k for k, n in state.items() for _ in range(n))
    assert replayed == sorted(map(tuple, scan(spark, tbl).collect()))


def test_cdf_stream_skips_materialize_deletes(spark, tmp_path):
    """materialize-deletes is physical-only (the logical change streamed
    at its delete-mor commit) — a consumer current through the MoR
    commit must receive ZERO rows from the materialize."""
    from e_commerce_lakehouse_spark.operators.rowlevel import (
        delete_where,
        materialize_deletes,
    )
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 300, seed=33)
    tbl = create_transcripts_table(spark, root, df, rows_per_file=100)
    delete_where(spark, tbl, "role = 'tool'", mode="merge-on-read")

    def _drain():
        got = []
        q = (
            spark.readStream.format("lakehouse_stream")
            .option("mode", "cdf").load(root)
            .writeStream.foreachBatch(lambda bdf, bid: got.append(bdf.count()))
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination()
        return sum(got)

    assert _drain() > 0  # bootstrap + the MoR retractions
    materialize_deletes(spark, tbl)
    assert _drain() == 0  # physical rewrite feeds nothing downstream


def test_stream_source_rate_limiting_commit_granular(spark, tmp_path):
    """max_files_per_trigger / max_bytes_per_trigger (Delta's
    maxFilesPerTrigger analog): latestOffset admits whole commits
    oldest-first from summary stats only; a trigger never exceeds the
    cap unless a SINGLE commit does (>=1 data commit always admitted);
    physical rewrites are admitted for free."""
    from e_commerce_lakehouse_spark.operators.compact import compact
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamReader,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table.writer import (
        create_transcripts_table,
        write_files,
    )

    root = str(tmp_path / "tbl")
    df = transcripts_df(spark, 600, seed=11)
    # bootstrap = commit 1 (2 files), then 3 more appends of 2 files each
    tbl = create_transcripts_table(spark, root, df.limit(150),
                                   rows_per_file=75)
    batches = df.subtract(df.limit(150)).randomSplit([1.0, 1.0, 1.0], seed=1)
    for i, b in enumerate(batches):
        entries = write_files(spark, tbl, b, 2, f"rl-append-{i}")
        tbl.commit_append(entries, {"op": "append"})
    sids = tbl.snapshot_ids()
    assert len(sids) == 4

    # --- commit-granular stepping: cap 2 files = exactly one commit/trigger
    r = LakehouseStreamReader({"path": root, "max_files_per_trigger": "2"})
    seen = [int(r.initialOffset()["snapshot"])]
    for _ in range(4):
        seen.append(int(r.latestOffset()["snapshot"]))
    assert seen == [0] + sids, "one 2-file commit admitted per trigger"
    # head reached: offset stays put
    assert int(r.latestOffset()["snapshot"]) == sids[-1]
    # partitions for one admitted window = only that commit's files
    parts = r.partitions({"snapshot": sids[0]}, {"snapshot": sids[1]})
    assert sum(len(p.paths) for p in parts) == 2

    # --- >=1 guarantee: cap below a single commit still ships it whole
    r1 = LakehouseStreamReader({"path": root, "max_files_per_trigger": "1"})
    assert int(r1.latestOffset()["snapshot"]) == sids[0]

    # --- byte cap: huge budget admits everything in one trigger
    rb = LakehouseStreamReader(
        {"path": root, "max_bytes_per_trigger": str(1 << 40)})
    assert int(rb.latestOffset()["snapshot"]) == sids[-1]

    # --- physical rewrites are free: compaction commit rides along with
    # the next data commit instead of burning a trigger
    compact(spark, tbl, target_bytes=1 << 26)
    extra = transcripts_df(spark, 60, seed=99)
    entries = write_files(spark, tbl, extra, 2, "rl-post-compact")
    tbl.commit_append(entries, {"op": "append"})
    head = tbl.current_snapshot_id()
    r2 = LakehouseStreamReader({"path": root,
                                "max_files_per_trigger": "2",
                                "starting_snapshot": str(sids[-1])})
    assert int(r2.latestOffset()["snapshot"]) == head

    # --- restart safety: a floor behind the checkpoint catches up via
    # partitions()/commit() and keeps advancing monotonically
    r3 = LakehouseStreamReader({"path": root, "max_files_per_trigger": "2"})
    r3.partitions({"snapshot": sids[1]}, {"snapshot": sids[2]})
    assert int(r3.latestOffset()["snapshot"]) > sids[2]


def test_stream_source_rate_limited_end_to_end(spark, tmp_path):
    """A real rate-limited streaming query: every micro-batch stays
    within the cap (commit granularity) and the union of batches is
    exactly the table — pacing changes delivery, never content."""
    from e_commerce_lakehouse_spark.streaming.table_source import (
        LakehouseStreamDataSource,
    )
    from e_commerce_lakehouse_spark.synth import transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import (
        create_transcripts_table,
        write_files,
    )

    spark.dataSource.register(LakehouseStreamDataSource)
    root, ck = str(tmp_path / "tbl"), str(tmp_path / "ck")
    df = transcripts_df(spark, 400, seed=21)
    tbl = create_transcripts_table(spark, root, df.limit(100),
                                   rows_per_file=100)
    rest = df.subtract(df.limit(100)).randomSplit([1.0, 1.0, 1.0], seed=2)
    for i, b in enumerate(rest):
        entries = write_files(spark, tbl, b, 1, f"rle2e-{i}")
        tbl.commit_append(entries, {"op": "append"})

    got: list[int] = []
    q = (
        spark.readStream.format("lakehouse_stream")
        .option("max_files_per_trigger", "1").load(root)
        .writeStream.foreachBatch(lambda bdf, bid: got.append(bdf.count()))
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", ck).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    total = scan(spark, tbl).count()
    assert sum(got) == total == 400
    # 4 one-file commits, cap 1 file/trigger -> at least 4 micro-batches
    assert len([n for n in got if n > 0]) >= 4


def test_stream_dedup_state_spans_microbatches(spark, tmp_path):
    """q133's at-least-once shape: the SAME batch arrives as two separate
    files and maxFilesPerTrigger=1 forces them into separate microbatches,
    so the duplicate copy is only droppable via dedup STATE carried across
    batches — a within-batch distinct would pass the single-file test but
    fail this one."""
    from e_commerce_lakehouse_spark.streaming.ingest import stream_dedup

    src_dir = tmp_path / "dup2-src"
    src_dir.mkdir()
    base = transcripts_df(spark, 120, seed=23).cache()
    base.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    import glob
    import shutil

    part = glob.glob(str(tmp_path / "one" / "part-*.parquet"))[0]
    shutil.copy(part, src_dir / "copy_a.parquet")
    shutil.copy(part, src_dir / "copy_b.parquet")

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    out: list = []
    seen_batches: list = []
    q = (
        stream_dedup(stream)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dup2-ckpt"))
        .foreachBatch(
            lambda bdf, bid: (seen_batches.append(bid), out.extend(bdf.collect()))
        )
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) >= 2, "expected the two copies in separate microbatches"
    assert len(out) == 120
    assert len({(r["conv_id"], r["turn_idx"]) for r in out}) == 120
    base.unpersist()
