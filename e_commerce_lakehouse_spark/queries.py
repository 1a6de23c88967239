"""Engine-coverage queries over the driver's testdata tables.

Every query drives engine code: the table format (``table/``), the
maintenance and row-level operators, ETL, the source readers, streaming,
transcript ops and metadata aggregates. Each function takes
(spark, sf_dir) and returns a DataFrame whose column names/aliases
EXACTLY match the DuckDB oracle in ``oracles.py`` (the driver's compare
sorts columns by name and hashes values).

Float policy: every aggregated/computed double is ``F.round``-ed (2-6 dp)
in BOTH engines so accumulation-order ulps can't flip the value hash.
Timestamp policy: session timezone is UTC (session.py) so Spark and
DuckDB agree on naive timestamps.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import etl
from .operators.merge import merge_upsert_dataframes


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: session-scoped base-ingest fixture (r4 verdict #5): lifecycle queries
#: that start from the SAME ingested table build it once per
#: (session, sf_dir) and mutate a cheap directory clone per invocation —
#: identical results, no repeated Spark ingest across an oracle sweep.
_BASE_TABLES: dict[tuple, str] = {}


def _docs_table_clone(spark, sf_dir: str, tag: str) -> str:
    """A fresh clone of the 4-file documents ingest (the common prefix of
    q54/q57): the base is written once per session, clones are plain
    copytree (metadata + data files — the table format is just files, so
    a byte-copy IS a valid table). Caller owns (and removes) the clone."""
    import atexit
    import shutil
    import uuid

    from .table.meta import Table
    from .table.writer import write_files

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    key = ("docs4", sf_dir, spark.sparkContext.applicationId)
    src = _BASE_TABLES.get(key)
    if src is None or not os.path.isdir(src):
        docs = _t(spark, sf_dir, "documents")
        src = os.path.join(
            base, f"spark_graft_base_docs4_{uuid.uuid4().hex[:12]}"
        )
        t = Table.create(src)
        entries = write_files(spark, t, docs, 4, "ingest-00000001-0000",
                              stat_columns=("doc_id",))
        t.commit_append(entries, {"op": "initial-ingest"})
        _BASE_TABLES[key] = src
        atexit.register(shutil.rmtree, src, ignore_errors=True)
    dst = os.path.join(base, f"spark_graft_{tag}_{uuid.uuid4().hex[:12]}")
    shutil.copytree(src, dst)
    return dst


def _bucketed_bloom_table(spark, df, key_col: str, tag: str,
                          n_buckets: int = 4, files_per_bucket: int = 2):
    """Bloom-index adversarial layout shared by q82/q205: ``n_buckets``
    hash-bucketed appends so every file spans ~the whole key RANGE
    (min/max stats prune nothing) but holds a disjoint key SET — only
    the per-file bloom can skip. Returns (Table, root); caller owns
    (and removes) the directory."""
    import uuid

    from .table.meta import Table
    from .table.writer import write_files

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_{tag}_{uuid.uuid4().hex[:12]}")
    t = Table.create(root)
    t.set_bloom_columns([key_col])
    for i in range(n_buckets):
        part = df.where(F.pmod(F.xxhash64(key_col), F.lit(n_buckets)) == i)
        entries = write_files(spark, t, part, files_per_bucket,
                              f"ingest-b{i}", stat_columns=(key_col,))
        t.commit_append(entries, {"op": f"ingest-{i}"})
    return t, root


# --------------------------------------------------- validation / scalars


def q05_validation_filter(spark, sf_dir):
    """P1: conjunctive validation predicate (orders_etl.py:134-144)."""
    o = _t(spark, sf_dir, "orders")
    pred = etl.orders_valid_predicate(
        amount_cap=150_000.0, order_key="o_orderkey", user_key="o_custkey",
        ts_col="o_orderdate", amount_col="o_totalprice", num_col=None,
    )
    valid, _ = etl.split_valid_invalid(o, pred)
    return valid.select("o_orderkey", "o_totalprice")


def q06_invalid_complement(spark, sf_dir):
    """P4: complement of the validation filter via predicate negation (the
    reference's ``subtract`` costs two shuffles and drops duplicates)."""
    o = _t(spark, sf_dir, "orders")
    pred = etl.orders_valid_predicate(
        amount_cap=150_000.0, order_key="o_orderkey", user_key="o_custkey",
        ts_col="o_orderdate", amount_col="o_totalprice", num_col=None,
    )
    _, invalid = etl.split_valid_invalid(o, pred)
    return invalid.select("o_orderkey", "o_totalprice")


def q07_value_buckets(spark, sf_dir):
    """when/otherwise bucketing + grouped stats (orders_etl.py:171-174 +
    README.md:213-221)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "order_value_category",
            etl.bucketize(F.col("o_totalprice"), [50_000.0, 150_000.0], ["Low", "Medium", "High"]),
        )
        .groupBy("order_value_category")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_amount"))
    )


def q11_date_parts(spark, sf_dir):
    """Timestamp scalar family (orders_etl.py:164-170): year/month/day/hour
    derivation + grouped count."""
    o = _t(spark, sf_dir, "orders")
    t = etl.transform_orders(
        o.withColumnRenamed("o_orderdate", "order_timestamp")
        .withColumnRenamed("o_totalprice", "total_amount"),
        ts_col="order_timestamp",
    )
    return t.groupBy("year", "month").agg(
        F.count("*").alias("n_orders"), F.round(F.sum("total_amount"), 2).alias("sum_amount")
    )


# -------------------------------------------------------------- MERGE/upsert


def q17_merge_upsert(spark, sf_dir):
    """S7/J1: MERGE INTO dataflow semantics (whenMatchedUpdateAll +
    whenNotMatchedInsertAll, orders_etl.py:179-188) — corrections derived
    deterministically from events (value doubled for event_id % 100 == 0,
    plus shifted-id inserts)."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    updates = e.where(F.col("event_id") % 100 == 0).withColumn("value", F.col("value") * 2)
    inserts = (
        e.where(F.col("event_id") % 500 == 0)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    source = updates.unionByName(inserts)
    merged = merge_upsert_dataframes(e, source, keys=("event_id",), order_col=None)
    return merged.select("event_id", F.round(F.col("value"), 2).alias("value"))


def q54_rowlevel_lifecycle(spark, sf_dir):
    """Row-level DELETE WHERE + UPDATE SET driven through the REAL table
    format (copy-on-write snapshots, touched-file pruning) — and, unlike
    q30, fully value-hash oracled: the final table state is relationally
    expressible (documents minus deleted rows, with the SET expressions
    as a CASE), so DuckDB checks the copy-on-write machinery itself.
    Aggregated per (source, lang) to keep the compared frame small."""
    import shutil

    from .operators.rowlevel import delete_where, materialize_deletes, update_where
    from .table import scan
    from .table.meta import Table

    docs = _t(spark, sf_dir, "documents")
    root = _docs_table_clone(spark, sf_dir, "q54")
    try:
        t = Table.load(root)
        delete_where(spark, t, "lang = 'de' OR n_chars < 150",
                     schema=docs.schema, stat_columns=("doc_id",))
        update_where(spark, t, "lang = 'zh'",
                     {"lang": "upper(source)", "n_chars": "n_chars + 1000"},
                     schema=docs.schema, stat_columns=("doc_id",))
        # merge-on-read leg: key-tombstone delete (no data rewrite), then
        # fold it back — the hashed result proves BOTH the anti-join scan
        # and the materialization rewrite
        delete_where(spark, t, "source = 'src0'", schema=docs.schema,
                     mode="merge-on-read", keys=["doc_id"])
        materialize_deletes(spark, t, schema=docs.schema, stat_columns=("doc_id",))
        # merge-on-read UPDATE leg (round 4, Iceberg v2 seq semantics):
        # one snapshot commits the key tombstone + post-image rows; the
        # final scan is read WITHOUT materializing, so the hash proves the
        # sequence-number exemption (post-images survive their own
        # tombstone) AND a LATER stacked MoR delete applying to them
        update_where(spark, t, "lang = 'fr'", {"n_chars": "n_chars * 2"},
                     schema=docs.schema, stat_columns=("doc_id",),
                     mode="merge-on-read", keys=["doc_id"])
        delete_where(spark, t, "n_chars > 5000", schema=docs.schema,
                     mode="merge-on-read", keys=["doc_id"])
        result = (
            scan(spark, t, schema=docs.schema)
            .groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars"))
        )
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q87_schema_evolution_lifecycle(spark, sf_dir):
    """Schema-evolution lifecycle through the REAL table format, fully
    value-hash oracled: ingest half the documents in the ORIGINAL shape,
    RENAME lang->language (metadata-only, field-id binding), ADD an int
    qscore, append the other half in the NEW shape, WIDEN qscore to
    bigint, then compact (arrow tasks apply per-file rename maps before
    align). The final grouped scan reads pre-rename vintages under the
    new name and narrow vintages as bigint — relationally the whole
    dance is just aliasing + casting, which is exactly what the DuckDB
    oracle states. Proves rename/widen correctness end to end, the way
    q54 proves row-level ops."""
    import os
    import shutil
    import uuid

    from .operators.compact import compact as compact_op
    from .operators.schema_evolution import (
        add_columns,
        rename_column,
        widen_column,
    )
    from .table import scan
    from .table.meta import Table
    from .table.writer import append_dataframe, write_files

    docs = _t(spark, sf_dir, "documents")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q87_{uuid.uuid4().hex[:12]}")
    try:
        t = Table.create(root)
        # non-default schema: record it as version 1 up front so
        # resolve_schema (and evolution) bind to the documents shape
        t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
        batch1 = docs.where(F.col("doc_id") % 2 == 0)
        entries = write_files(spark, t, batch1, 4, "ingest-00000001-0000",
                              stat_columns=("doc_id",))
        t.commit_append(entries, {"op": "initial-ingest"})
        rename_column(t, "lang", "language")
        add_columns(t, [("qscore", "int")])
        batch2 = docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", F.col("lang").alias("language"), "source",
            "n_chars", (F.col("doc_id") % 97).cast("int").alias("qscore"),
        )
        append_dataframe(spark, t, batch2)
        widen_column(t, "qscore", "bigint")
        compact_op(spark, t, target_bytes=8 << 20, stat_columns=("doc_id",))
        result = (
            scan(spark, t)
            .groupBy("source", "language")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.sum("qscore").alias("sum_qscore"))
        )
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q89_metadata_count(spark, sf_dir):
    """Metadata-only COUNT(*): predicate counts answered from manifest
    stats + boundary-file residual reads (operators/metaagg.py —
    Iceberg/Delta metadata-count generalized to predicates). The table is
    built from the q30 transcripts derivation, order-preserving-compacted
    so per-file ts ranges are narrow, then counted over six windows (one
    full-range: zero files opened). The oracle is the same six counts as
    plain SQL — if the containment classification ever over- or
    under-counts a file, the value hash diverges."""
    import datetime as dt
    import os
    import shutil
    import uuid

    from .operators.cluster import cluster as cluster_op
    from .table.meta import Table
    from .table.writer import write_files
    from .operators.metaagg import metadata_count

    df = _q30_transcripts(spark, sf_dir)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q89_{uuid.uuid4().hex[:12]}")
    try:
        t = Table.create(root)
        entries = write_files(spark, t, df, 8, "ingest-00000001-0000")
        t.commit_append(entries, {"op": "initial-ingest"})
        # hilbert cluster narrows per-file (conv_id, ts) stat ranges —
        # the layout metadata_count is designed to exploit
        cluster_op(spark, t, curve="hilbert", target_bytes=4 << 20)
        lo = dt.datetime(2024, 1, 1)
        rows = []
        for k in range(6):
            # six ts windows, widening; window 5 covers everything
            a = lo + dt.timedelta(days=30 * k)
            b = lo + dt.timedelta(days=30 * (k + 3)) if k < 5 else None
            m = metadata_count(spark, t, ts_range=(a, b))
            rows.append((k, int(m["count"])))
        return spark.createDataFrame(rows, "window_id int, n_rows bigint")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q90_retention_delete(spark, sf_dir):
    """Stats-driven retention delete through the REAL table format:
    cluster (narrow ts ranges), then expire everything before a cutoff —
    cold interior files drop METADATA-ONLY (never opened), only
    cutoff-boundary files rewrite. Relationally it is a plain WHERE
    complement, which is exactly what the oracle states; the hash proves
    the stats classification never drops or keeps a wrong file."""
    import datetime as dt
    import os
    import shutil
    import uuid

    from .operators.cluster import cluster as cluster_op
    from .operators.metaagg import retention_delete
    from .table import scan
    from .table.meta import Table
    from .table.writer import write_files

    df = _q30_transcripts(spark, sf_dir)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q90_{uuid.uuid4().hex[:12]}")
    try:
        t = Table.create(root)
        entries = write_files(spark, t, df, 8, "ingest-00000001-0000")
        t.commit_append(entries, {"op": "initial-ingest"})
        cluster_op(spark, t, curve="hilbert", target_bytes=2 << 20)
        retention_delete(spark, t, dt.datetime(2023, 12, 15),
                         target_bytes=4 << 20)
        result = (
            scan(spark, t)
            .groupBy("role")
            .agg(F.count("*").alias("n_turns"),
                 F.min("ts").alias("min_ts"),
                 F.count("tool").alias("n_tool"))
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q91_cdf_stream_replay(spark, sf_dir):
    """The native streaming source in CDF mode, value-hash oracled:
    drive a cow DELETE + UPDATE lifecycle through the real table format,
    drain the change feed with Trigger.AvailableNow, then compute the
    NET state relationally (sum +1 insert / -1 delete per row image,
    keep net > 0) — which must equal the table's final state, i.e. the
    plain WHERE/CASE mirror the oracle states. Proves retraction
    exactness end to end (delete+reinsert pairs cancel; compaction
    contributes nothing). Round 5 adds a MERGE-ON-READ leg (delete-mor
    + update-mor after the compact): their retractions are planned from
    key tombstones against parent-visible rows (streaming/table_source
    _plan_mor_deletes), and the same oracle mirror must still hash."""
    import os
    import shutil
    import uuid

    from .operators.compact import compact as compact_op
    from .operators.rowlevel import delete_where, update_where
    from .streaming.table_source import LakehouseStreamDataSource
    from .table.meta import Table
    from .table.writer import write_files

    df = _q30_transcripts(spark, sf_dir)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    tag = uuid.uuid4().hex[:12]
    root = os.path.join(base, f"spark_graft_q91_{tag}")
    ck = os.path.join(base, f"spark_graft_q91ck_{tag}")
    try:
        spark.dataSource.register(LakehouseStreamDataSource)
    except Exception:
        pass  # already registered in this session
    try:
        t = Table.create(root)
        entries = write_files(spark, t, df, 6, "ingest-00000001-0000")
        t.commit_append(entries, {"op": "initial-ingest"})
        delete_where(spark, t, "role = 'tool'", schema=df.schema)
        update_where(spark, t, "role = 'assistant'", {"text": "'SYS'"},
                     schema=df.schema)
        compact_op(spark, t, target_bytes=8 << 20)
        # merge-on-read leg: key tombstones only (no file rewrite) —
        # the stream must retract exactly the parent-visible pre-images
        delete_where(spark, t, "turn_idx >= 8", schema=df.schema,
                     mode="merge-on-read")
        update_where(spark, t, "role = 'user' AND turn_idx = 0",
                     {"text": "'HI'"}, schema=df.schema,
                     mode="merge-on-read")
        qname = f"q91_feed_{tag}"
        q = (
            spark.readStream.format("lakehouse_stream")
            .option("mode", "cdf").load(root)
            .writeStream.format("memory").queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination()
        feed = spark.table(qname)
        data_cols = [c for c in feed.columns
                     if c not in ("_change_type", "_commit_sid")]
        net = (
            feed.groupBy(*data_cols)
            .agg(F.sum(F.when(F.col("_change_type") == "insert", 1)
                       .otherwise(-1)).alias("net"))
            .where(F.col("net") > 0)
        )
        result = (
            net.groupBy("role")
            .agg(F.sum("net").alias("n_turns"),
                 F.count("tool").alias("n_tool"),
                 F.sum(F.length("text")).alias("text_chars"))
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def q92_generic_cluster(spark, sf_dir):
    """Generic-key clustering (Delta ZORDER BY analog) through the real
    table format: documents clustered on (lang, n_chars) — dictionary-
    rank projection for the low-NDV string key, then the standard curve
    interleave. Content must be byte-identical (the oracle is the plain
    group-by); the LAYOUT effect (narrow per-file lang/n_chars stats,
    point skipping) is asserted in tests/test_cluster.py."""
    import os
    import shutil
    import uuid

    from .operators.cluster import cluster as cluster_op
    from .table import scan
    from .table.meta import Table
    from .table.writer import write_files

    docs = _t(spark, sf_dir, "documents")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q92_{uuid.uuid4().hex[:12]}")
    try:
        t = Table.create(root)
        t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
        entries = write_files(spark, t, docs, 6, "ingest-00000001-0000",
                              stat_columns=("doc_id",))
        t.commit_append(entries, {"op": "ingest"})
        cluster_op(spark, t, curve="zorder", target_bytes=64 << 10,
                   key_cols=["lang", "n_chars"],
                   stat_columns=("doc_id", "lang", "n_chars"))
        result = (
            scan(spark, t)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("doc_id").alias("min_doc"))
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q58_partitioned_scan(spark, sf_dir):
    """Hidden partitioning through the REAL table format, value-hash
    oracled: sf_dir-derived transcripts (q30's derivation) ingested under
    a bucket[2](conv_id) + day(ts) partition spec, compacted (partition-
    pure bin packing), then read back through the EXACT partition-pruned
    planner as (a) one conversation's point slice and (b) a 3-day time
    window — aggregated per (slice, role). Partition transforms affect
    PLANNING only; the DuckDB twin recomputes both slices relationally
    from the same derivation, so the hash proves the pruned scans drop
    nothing and invent nothing across write → compact → scan."""
    import datetime as _dtm
    import os
    import shutil
    import uuid

    from .operators.compact import compact
    from .table import scan
    from .table.partition import PartitionField
    from .table.writer import create_transcripts_table

    df = _q30_transcripts(spark, sf_dir)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q58_{uuid.uuid4().hex[:12]}")
    lo = _dtm.datetime(2024, 1, 10)
    hi = _dtm.datetime(2024, 1, 12, 23, 59, 59)
    try:
        t = create_transcripts_table(
            spark, root, df, rows_per_file=max(400, df.count() // 8),
            partition_spec=[
                PartitionField("conv_bucket", "conv_id", "bucket[2]"),
                PartitionField("ts_day", "ts", "day"),
            ],
        )
        compact(spark, t, target_bytes=64 << 20)

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "min_ts", "max_ts")

        point = agg("point", scan(spark, t, conv_id="conv-000042"))
        window = agg("window", scan(spark, t, ts_range=(lo, hi)))
        result = point.unionByName(window)
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q59_partition_evolution(spark, sf_dir):
    """Partition spec EVOLUTION through the real table format, value-hash
    oracled: batch 1 of the q30-derived transcripts is ingested under
    bucket[2](conv_id); the spec then evolves to day(ts) and batch 2
    appends under the new layout. The mixed-vintage table is scanned
    through the exact partition-pruned planner (point conv + 3-day
    window), then a full cluster() MIGRATES every file to the current
    spec and the same slices are scanned again. All four slices must
    equal the plain relational WHERE over the union — partition layouts
    and their evolution affect PLANNING only, so the hash proves the
    per-vintage pruning and the migration drop nothing and invent
    nothing."""
    import datetime as _dtm
    import os
    import shutil
    import uuid

    from .operators.cluster import cluster
    from .table import scan
    from .table.partition import PartitionField
    from .table.writer import append_dataframe, create_transcripts_table

    df = _q30_transcripts(spark, sf_dir)
    batch1 = df.where(F.col("turn_idx") % 2 == 0)
    batch2 = df.where(F.col("turn_idx") % 2 == 1)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q59_{uuid.uuid4().hex[:12]}")
    lo = _dtm.datetime(2024, 1, 10)
    hi = _dtm.datetime(2024, 1, 12, 23, 59, 59)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    try:
        t = create_transcripts_table(
            spark, root, batch1, rows_per_file=max(400, df.count() // 8),
            partition_spec=[PartitionField("conv_bucket", "conv_id", "bucket[2]")],
        )
        t.evolve_partition_spec([PartitionField("ts_day", "ts", "day")], cols)
        append_dataframe(spark, t, batch2, rows_per_file=max(400, df.count() // 8))

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "min_ts", "max_ts")

        mixed = agg("point-mixed", scan(spark, t, conv_id="conv-000042")).unionByName(
            agg("window-mixed", scan(spark, t, ts_range=(lo, hi)))
        )
        mixed_rows = mixed.collect()
        cluster(spark, t, curve="zorder", target_bytes=64 << 20)
        assert all(
            e.partition is not None and "ts_day" in e.partition
            for e in t.entries()
        ), "cluster() must migrate every file to the evolved spec"
        migrated = agg("point-migrated", scan(spark, t, conv_id="conv-000042")).unionByName(
            agg("window-migrated", scan(spark, t, ts_range=(lo, hi)))
        )
        rows = mixed_rows + migrated.collect()
        return spark.createDataFrame(rows, mixed.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q61_exactly_once_ingest(spark, sf_dir):
    """Append-only streaming ingest with txn markers, value-hash oracled:
    two landing files drain as two micro-batch append commits
    (maxFilesPerTrigger=1); then the streaming checkpoint is destroyed and
    the stream re-runs — the re-delivered epochs must be SKIPPED by the
    (txn_app, txn_epoch) guard, not double-appended. Slices 'post-ingest'
    and 'post-redelivery' must therefore aggregate identically, and the
    DuckDB twin computes both from the same derivation — a double-append
    doubles the second slice's counts and breaks the hash."""
    import os
    import shutil
    import uuid

    from .streaming.ingest import ingest_append_stream
    from .table import scan
    from .table.meta import Table

    df = _q30_transcripts(spark, sf_dir)
    batch1 = df.where(F.col("turn_idx") % 2 == 0)
    batch2 = df.where(F.col("turn_idx") % 2 == 1)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = os.path.join(base, f"spark_graft_q61_{uuid.uuid4().hex[:12]}")
    landing = os.path.join(work, "landing")
    ckpt = os.path.join(work, "ckpt")
    root = os.path.join(work, "tbl")
    try:
        batch1.coalesce(1).write.parquet(os.path.join(landing, "f1"))
        batch2.coalesce(1).write.parquet(os.path.join(landing, "f2"))
        t = Table.create(root)
        ingest_append_stream(spark, t, landing + "/*", ckpt,
                             source_format="parquet", app_id="q61",
                             files_per_batch=1)

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "min_ts", "max_ts")

        rows = agg("post-ingest", scan(spark, t)).collect()
        # crash window: table committed, checkpoint lost → full re-delivery
        shutil.rmtree(ckpt)
        ingest_append_stream(spark, t, landing + "/*", ckpt,
                             source_format="parquet", app_id="q61",
                             files_per_batch=1)
        rows += agg("post-redelivery", scan(spark, t)).collect()
        schema = agg("x", df).schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q62_partial_progress_compact(spark, sf_dir):
    """Partial-progress compaction, value-hash oracled: many small files
    compact with one REPLACE commit per wave (wave_size=1, Iceberg
    partial-progress shape). Slices: the pre-compaction pin ('base-pin'),
    the LAST partial snapshot ('last-partial'), and the head ('final')
    must all aggregate identically — compaction is content-preserving at
    every intermediate commit, and the pinned base proves snapshot
    isolation across the whole incremental run."""
    import os
    import shutil
    import uuid

    from .operators.compact import compact
    from .table import scan
    from .table.writer import create_transcripts_table

    df = _q30_transcripts(spark, sf_dir)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q62_{uuid.uuid4().hex[:12]}")
    try:
        t = create_transcripts_table(spark, root, df, rows_per_file=400,
                                     n_append_commits=3)
        base_sid = t.current_snapshot_id()
        m = compact(spark, t, target_bytes=1 << 20, wave_size=1,
                    partial_progress=True, partial_max_commits=100)

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "min_ts", "max_ts")

        rows = agg("base-pin", scan(spark, t, snapshot_id=base_sid)).collect()
        last_partial = (m.get("partial_snapshot_ids") or [m["committed_snapshot"]])[-1]
        rows += agg("last-partial", scan(spark, t, snapshot_id=last_partial)).collect()
        rows += agg("final", scan(spark, t)).collect()
        schema = agg("x", df).schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q36_skew_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (plans/skew.py): partial agg on
    (key, salt) then final on key — the non-join skew mitigation the
    north rule asks for. Exact-composable aggregates (count/min/max) so
    the plain-GROUP-BY oracle matches value-for-value."""
    from .plans.skew import salted_two_phase_agg

    e = _t(spark, sf_dir, "events")
    return salted_two_phase_agg(e, key="user_id", value_col="value", salt_buckets=16)


_Q30_CACHE: dict[tuple, DataFrame] = {}


def _q30_transcripts(spark, sf_dir):
    """Transcripts-shaped frame DERIVED from the sf_dir events table with
    pure column expressions (no hash-seeded generator), so DuckDB can
    rebuild the exact same input: (event_id % 500, event_id div 500) is a
    bijection of the unique event_id, giving unique (conv_id, turn_idx)
    MERGE keys; text is the props string verbatim (no float formatting).

    Session-memoized + Spark-cached (MEMORY_AND_DISK, spill-safe): nine
    lifecycle queries start from this same derivation, so an oracle
    sweep reads events.parquet once instead of once per query."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _Q30_CACHE.get(key)
    if cached is not None:
        return cached
    df = _q30_transcripts_fresh(spark, sf_dir).cache()
    _Q30_CACHE[key] = df
    return df


def _q30_transcripts_fresh(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        F.concat(F.lit("conv-"), F.lpad((F.col("event_id") % 500).cast("string"), 6, "0")).alias("conv_id"),
        F.expr("CAST(event_id DIV 500 AS INT)").alias("turn_idx"),
        F.expr("CASE event_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END").alias("role"),
        F.col("props").alias("text"),
        F.expr("CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END").alias("tool"),
        F.col("ts"),
    )


def q30_maintenance_lifecycle(spark, sf_dir):
    """The five maintenance operators end-to-end, VALUE-HASH ORACLED:
    sf_dir-derived transcripts → ingest small files → compact → Z-order
    cluster → MERGE corrections → manifest rewrite → expire → scan.

    The input is _q30_transcripts (pure expressions over events.parquet),
    and the corrections are expression-defined subsets (updates: rows
    where event-derived key % 17 = 3 with uppercased text; inserts: rows
    where key % 41 = 5 re-keyed to turn_idx+1000) — so the post-
    maintenance table state is fully relational and DuckDB recomputes it
    (base anti-join correction keys UNION ALL corrections). Rounds 1-3
    used an xxhash64-seeded generator DuckDB could not mirror, leaving
    this flagship the only no_oracle row; deriving from sf_dir closes it.

    Robustness (this is the flagship — it must survive a 50-query sweep):
    each invocation uses a UNIQUE temp dir (no collisions with concurrent
    or stale runs). One full retry in a fresh dir covers genuinely
    transient executor/environment failures, mirroring the reference
    orchestrator's stage retry
    (/root/reference/src/step_functions/etl_orchestrator.json:133-159) —
    but the FIRST exception's full traceback is logged to stderr before
    retrying, so a deterministic failure surfaces once with its root-cause
    frame rather than hiding behind 'transient' framing."""
    import os
    import shutil
    import sys
    import traceback
    import uuid

    from .operators import cluster, compact, expire_snapshots, merge_into, rewrite_manifests
    from .table import scan
    from .table.writer import create_transcripts_table

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    def run_once():
        root = os.path.join(base, f"spark_graft_q30_{uuid.uuid4().hex[:12]}")
        try:
            df = _q30_transcripts(spark, sf_dir)
            key = F.expr("CAST(substring(conv_id, 6) AS BIGINT) + 500 * turn_idx")
            # insert offset 10_000_000: re-keyed inserts must never collide
            # with an existing key at ANY sf — offset 1000 collided with
            # event_id + 500_000 once events exceed 500k rows (review
            # finding; latent at sf1, safe at shipped fixtures)
            corr = df.where(key % 17 == 3).withColumn("text", F.upper("text")).unionByName(
                df.where(key % 41 == 5).withColumn(
                    "turn_idx", (F.col("turn_idx") + 10_000_000).cast("int")
                )
            )
            t = create_transcripts_table(spark, root, df, rows_per_file=250, n_append_commits=2)
            compact(spark, t, target_bytes=1 << 20)
            cluster(spark, t, curve="zorder", target_bytes=1 << 19)
            merge_into(spark, t, corr)
            rewrite_manifests(t)
            expire_snapshots(t, keep_last=2)
            # materialize the deterministic result BEFORE this function
            # returns, so a transient failure surfaces here (where the retry
            # can catch it) rather than when the driver later consumes the
            # lazy plan — then serve it back independent of the temp table
            out = scan(spark, t)
            rows = out.collect()
            return spark.createDataFrame(rows, out.schema)
        finally:
            # also on failure: a crashed attempt must not leak its table
            # dir on tmpfs (RAM) — the retry builds a fresh one
            shutil.rmtree(root, ignore_errors=True)

    try:
        return run_once()
    except Exception:
        print("q30 first attempt failed; full traceback before retry:", file=sys.stderr)
        traceback.print_exc()
        return run_once()


def q57_cdc_changes(spark, sf_dir):
    """Typed CDC change feed (Delta CDF shape) through the REAL table
    format, fully oracled: ingest documents → MoR delete → cow delete →
    MoR update, then ONE poll_changes() window delivers inserts AND
    delete pre-images (the upsert-only gap closed in round 4). The
    aggregate per (change_type, lang) is relational: each leg is a WHERE
    over the documents table (see oracles.py twin)."""
    import shutil

    from .operators.rowlevel import delete_where, update_where
    from .table.cdc import ChangeFeedConsumer
    from .table.meta import Table

    docs = _t(spark, sf_dir, "documents")
    root = _docs_table_clone(spark, sf_dir, "q57")
    try:
        t = Table.load(root)
        c = ChangeFeedConsumer(t, os.path.join(root, "cursor.json"),
                               schema=docs.schema)
        c.poll_changes(spark)  # initial load
        c.ack()
        delete_where(spark, t, "lang = 'de'", schema=docs.schema,
                     mode="merge-on-read", keys=["doc_id"])
        delete_where(spark, t, "n_chars < 150", schema=docs.schema,
                     stat_columns=("doc_id",))
        update_where(spark, t, "lang = 'zh'", {"n_chars": "n_chars + 1000"},
                     schema=docs.schema, stat_columns=("doc_id",),
                     mode="merge-on-read", keys=["doc_id"])
        b = c.poll_changes(spark)
        result = (
            b["df"]
            .groupBy(F.col("_change_type").alias("change_type"), "lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
        )
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contextlib.contextmanager
def _tmp_conf(spark, **kv):
    """Temporarily set session confs (restored after). Used by the
    streaming gate queries: a bare driver session defaults to 200
    shuffle partitions, and each becomes a state-store instance — 200
    stores × per-store overhead dominated a stream-join gate query's cost
    (86.7 s bare vs 47.8 s under the repo session). The streams here
    checkpoint to a fresh dir every call, so re-planning with fewer
    partitions is safe."""
    keys = {k.replace("__", "."): v for k, v in kv.items()}
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: synthetic reader-stress rows (q74/q75): separator, quote, and XML-special
#: characters — mirrored LITERALLY in the DuckDB oracles, so a reader that
#: mangles escaping breaks the text-hash sum
_READER_STRESS_ROWS = [
    (1000001, 'comma, separated, "quoted" value', "en", "synthetic"),
    (1000002, 'she said "hi, there" & left <tag> intact', "en", "synthetic"),
    (1000003, "plain & simple < or > text", "de", "synthetic"),
]


def _reader_roundtrip_agg(df):
    """Shared q74/q75 shape: per-source/lang row count + recomputed text
    length + a 40-bit md5-prefix hash SUM over text (40, not 60:
    the sum of ~1M 60-bit values would overflow int64) — byte-exact
    round-trip or the sum is off."""
    return df.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")).alias(
            "text_hash_sum"
        ),
    )


def q74_csv_reader_roundtrip(spark, sf_dir):
    """The S1 schema-pinned CSV reader (sources/readers.read_csv) driven
    through the value-hash gate (it was pytest-only): documents plus
    CSV-hostile synthetic rows are WRITTEN to CSV by Spark, read back
    through the header-contract reader, and aggregated with a text-hash
    sum the DuckDB oracle recomputes from the original rows — quoting and
    escaping must round-trip byte-exact or the hashes diverge."""
    import os
    import shutil
    import uuid

    from .sources.readers import read_csv

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    extra = spark.createDataFrame(
        _READER_STRESS_ROWS, "doc_id long, text string, lang string, source string"
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    d = os.path.join(base, f"spark_graft_q74_{uuid.uuid4().hex[:12]}")
    try:
        docs.unionByName(extra).coalesce(2).write.option("header", "true").csv(d)
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ])
        back = read_csv(spark, d, schema)
        out = _reader_roundtrip_agg(back)
        rows = out.collect()  # materialize before the temp dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q75_xlsx_reader(spark, sf_dir):
    """The S2 stdlib SpreadsheetML reader (sources/readers.read_excel, no
    openpyxl) driven through the value-hash gate: documents plus
    XML-special synthetic rows are serialized to a REAL xlsx zip
    (workbook + rels + inline-string sheet, the subset real exports
    use), parsed back through the reader, and aggregated with the same
    text-hash sum as q74 — entity escaping must round-trip byte-exact."""
    import os
    import shutil
    import uuid
    import zipfile
    from xml.sax.saxutils import escape

    from .sources.readers import read_excel

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    rows = [(r.doc_id, r.text, r.lang, r.source) for r in docs.collect()]
    rows += _READER_STRESS_ROWS  # bounded: sf0.01 documents = 500 rows

    def _cell(ref, v):
        if isinstance(v, int):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    cols = "ABCD"
    body = ['<row r="1">' + "".join(
        _cell(f"{c}1", h) for c, h in zip(cols, ("doc_id", "text", "lang", "source"))
    ) + "</row>"]
    for i, r in enumerate(rows, start=2):
        body.append(
            f'<row r="{i}">' + "".join(_cell(f"{c}{i}", v) for c, v in zip(cols, r)) + "</row>"
        )
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    sheet = f'<worksheet {ns}><sheetData>{"".join(body)}</sheetData></worksheet>'
    workbook = (
        f'<workbook {ns} {rns}><sheets>'
        '<sheet name="docs" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    d = os.path.join(base, f"spark_graft_q75_{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    path = os.path.join(d, "docs.xlsx")
    try:
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("xl/workbook.xml", workbook)
            z.writestr("xl/_rels/workbook.xml.rels", rels)
            z.writestr("xl/worksheets/sheet1.xml", sheet)
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ])
        [(name, df)] = read_excel(spark, path, schema)
        assert name == "docs"
        out = _reader_roundtrip_agg(df)
        rows2 = out.collect()
        return spark.createDataFrame(rows2, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q76_analyze_stats(spark, sf_dir):
    """The ANALYZE operator's exact statistics (null counts, min, max)
    against relational truth — the single-pass partial-agg scan that
    computes them is the thing under test (NDV stays pytest-only: HLL++
    sketches are engine-specific by construction). Stages documents into
    a real table (analyze persists per-snapshot), runs analyze, returns
    one row per column."""
    import os
    import shutil
    import uuid

    from .operators.analyze import analyze
    from .table.meta import Table
    from .table.writer import write_files

    docs = _t(spark, sf_dir, "documents")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q76_{uuid.uuid4().hex[:12]}")
    try:
        table = Table.create(root)
        entries = write_files(spark, table, docs, 4, "seed",
                              stat_columns=("doc_id",))
        snap = table.commit_append(entries, {"op": "seed"})
        # record the documents schema so analyze's resolve_schema reads
        # the right columns (the default is the transcripts contract)
        table.append_schema_version(docs.schema.jsonValue(),
                                    as_of_snapshot=snap.snapshot_id)
        stats = analyze(spark, table)
        rows = [
            (c, int(v["nulls"]), str(v["min"]), str(v["max"]))
            for c, v in sorted(stats["columns"].items())
        ]
        return spark.createDataFrame(
            rows, "col string, nulls long, min_str string, max_str string"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


#: literal corrupt JSONL lines (q77) — mirrored in the oracle's expected
#: corrupt-count row
_JSONL_CORRUPT_LINES = [
    '{"doc_id": 7, "text": "unterminated',
    "not json at all",
    '{"doc_id": "x", "text": }',
]


def q77_jsonl_reader(spark, sf_dir):
    """The JSONL reader with corrupt-row audit (sources/readers.read_jsonl)
    in the value-hash gate: documents serialized to JSONL by Spark plus
    literal corrupt lines; good rows must round-trip byte-exact (same
    text-hash sum as q74/q75) and the corrupt lines must land in the
    audit frame — its count is returned as a sentinel row the oracle
    states literally."""
    import os
    import shutil
    import uuid

    from .sources.readers import read_jsonl

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    d = os.path.join(base, f"spark_graft_q77_{uuid.uuid4().hex[:12]}")
    try:
        docs.select(F.to_json(F.struct("doc_id", "text", "lang", "source"))).coalesce(
            2
        ).write.text(d)
        with open(os.path.join(d, "part-corrupt.txt"), "w") as f:
            f.write("\n".join(_JSONL_CORRUPT_LINES) + "\n")
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ])
        good, corrupt = read_jsonl(spark, d, schema)
        agg = _reader_roundtrip_agg(good)
        sentinel = spark.createDataFrame(
            [("__corrupt__", "", corrupt.count(), 0, 0)], agg.schema
        )
        out = agg.unionByName(sentinel)
        rows = out.collect()  # materialize before the temp dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q81_table_stream_source(spark, sf_dir):
    """The lakehouse table as a readStream SOURCE (Python Data Source
    API, streaming/table_source.py — the Delta/Iceberg table-streaming
    analog): documents staged into a real table across two append
    commits plus a compaction in between, then drained via
    ``spark.readStream.format("lakehouse_stream")``. The compaction must
    contribute ZERO rows (physical rewrites never re-feed downstream),
    so the drained aggregate equals the plain relational aggregate over
    documents — which is what the oracle states."""
    import os
    import shutil
    import uuid

    from .operators.compact import compact
    from .streaming.table_source import LakehouseStreamDataSource
    from .table.meta import Table
    from .table.writer import write_files

    try:
        spark.dataSource.register(LakehouseStreamDataSource)
    except Exception:
        pass  # already registered in this session
    docs = _t(spark, sf_dir, "documents")
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q81_{uuid.uuid4().hex[:12]}")
    d = root + "-ck"
    try:
        table = Table.create(root)
        first = docs.where(F.col("doc_id") % 2 == 0)
        second = docs.where(F.col("doc_id") % 2 == 1)
        e1 = write_files(spark, table, first, 3, "seed-a", stat_columns=("doc_id",))
        table.commit_append(e1, {"op": "append"})
        table.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=1)
        compact(spark, table, target_bytes=1 << 22, schema=docs.schema,
                stat_columns=("doc_id",))
        e2 = write_files(spark, table, second, 3, "seed-b", stat_columns=("doc_id",))
        table.commit_append(e2, {"op": "append"})
        stream = spark.readStream.format("lakehouse_stream").load(root)
        qname = "q81_" + uuid.uuid4().hex[:8]
        with _tmp_conf(spark, spark__sql__shuffle__partitions="8"):
            sq = (
                stream.groupBy("source", "lang")
                .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .trigger(availableNow=True)
                .option("checkpointLocation", d)
                .start()
            )
            sq.awaitTermination()
        result = spark.table(qname)
        rows = result.collect()
        spark.catalog.dropTempView(qname)
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


def q82_bloom_point_lookup(spark, sf_dir):
    """Point lookups through the bloom-filter skipping index
    (Table.set_bloom_columns, _bloom.py — Delta bloom-index / Iceberg
    puffin analog). The table is written as hash-bucket appends: every
    file spans nearly the whole key RANGE (min/max stats prune nothing)
    but holds a disjoint key SET, so the planner's bloom refinement does
    the skipping. The value-hash proves the index NEVER false-negatives:
    a wrongly skipped file would drop rows and break the hash. One
    absent-but-in-range key is probed too — it must contribute zero rows
    whether or not a bloom false-positive keeps a file."""
    import functools
    import shutil

    from .table import scan

    docs = _t(spark, sf_dir, "documents").select(
        F.format_string("doc-%09d", F.col("doc_id")).alias("conv_id"),
        "doc_id", "source", "lang", "n_chars",
    )
    keys = [f"doc-{i:09d}" for i in (3, 57, 123, 250, 411)]
    keys.append("doc-000000123-absent")  # in-range, never written
    t, root = _bucketed_bloom_table(spark, docs, "conv_id", "q82")
    try:
        parts = [
            scan(spark, t, conv_id=k, schema=docs.schema) for k in keys
        ]
        result = functools.reduce(lambda a, b: a.unionByName(b), parts)
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q100_copy_into(spark, sf_dir):
    """Idempotent COPY INTO (operators/copy_into): two landing files
    load once; a full RE-RUN over the same glob is ledger-skipped (a
    double-append would double the 'initial' slice's counts and break
    the value hash); a third file lands and only IT loads. Both slices
    must equal the plain aggregates over their derivations."""
    import os
    import shutil
    import uuid

    from .operators.copy_into import copy_into
    from .table import scan
    from .table.meta import Table

    df = _q30_transcripts(spark, sf_dir)
    b1 = df.where(F.col("turn_idx") % 3 == 0)
    b2 = df.where(F.col("turn_idx") % 3 == 1)
    b3 = df.where(F.col("turn_idx") % 3 == 2)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = os.path.join(base, f"spark_graft_q100_{uuid.uuid4().hex[:12]}")
    landing = os.path.join(work, "landing")
    root = os.path.join(work, "tbl")
    glob_pat = landing + "/*/*.parquet"
    try:
        b1.coalesce(1).write.parquet(os.path.join(landing, "f1"))
        b2.coalesce(1).write.parquet(os.path.join(landing, "f2"))
        t = Table.create(root)
        copy_into(spark, t, glob_pat)
        copy_into(spark, t, glob_pat)  # scheduler re-run: must no-op

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "min_ts", "max_ts")

        rows = agg("initial", scan(spark, t)).collect()
        b3.coalesce(1).write.parquet(os.path.join(landing, "f3"))
        copy_into(spark, t, glob_pat)  # diffs the ledger: loads only f3
        rows += agg("final", scan(spark, t)).collect()
        schema = agg("x", df).schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q101_cdc_replication(spark, sf_dir):
    """End-to-end CDC replication (apply_changes.replicate): a replica
    table is converged from the source's typed change feed across an
    append, a copy-on-write UPDATE (exact-mode delete pre-image + insert
    post-image under one sid — the post-image must win), and a
    merge-on-read DELETE (replicated as key tombstones). Both slices
    aggregate the REPLICA, so any divergence — double-apply, lost
    delete, pre-image resurrection — breaks the value hash."""
    import os
    import shutil
    import uuid

    from .operators.apply_changes import replicate
    from .operators.rowlevel import delete_where, update_where
    from .table import scan
    from .table.cdc import ChangeFeedConsumer
    from .table.meta import Table
    from .table.writer import append_dataframe, create_transcripts_table

    df = _q30_transcripts(spark, sf_dir)
    b1 = df.where(F.col("turn_idx") % 2 == 0)
    b2 = df.where(F.col("turn_idx") % 2 == 1)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    work = os.path.join(base, f"spark_graft_q101_{uuid.uuid4().hex[:12]}")
    rpf = max(400, df.count() // 8)
    keys = ["conv_id", "turn_idx"]
    try:
        src = create_transcripts_table(
            spark, os.path.join(work, "src"), b1, rows_per_file=rpf)
        tgt = Table.create(os.path.join(work, "replica"))
        c = ChangeFeedConsumer(src, os.path.join(work, "cursor.json"))
        replicate(spark, c, tgt, keys, exact=True)

        def agg(sl, d):
            return d.groupBy("role").agg(
                F.count("*").alias("n_rows"),
                F.sum("turn_idx").alias("sum_turn"),
                F.sum(F.when(F.col("text") == "EDITED", 1)
                      .otherwise(0)).alias("n_edited"),
            ).select(F.lit(sl).alias("slice"), "role", "n_rows",
                     "sum_turn", "n_edited")

        rows = agg("initial", scan(spark, tgt)).collect()
        append_dataframe(spark, src, b2, rows_per_file=rpf)
        update_where(spark, src,
                     "role = 'assistant' AND turn_idx % 7 = 0",
                     {"text": "'EDITED'"})
        delete_where(spark, src, "role = 'tool'", mode="merge-on-read")
        replicate(spark, c, tgt, keys, exact=True)
        rows += agg("final", scan(spark, tgt)).collect()
        schema = agg("x", df).schema
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q104_auto_maintain(spark, sf_dir):
    """Metadata-driven auto-maintenance (operators/maintain): TWO
    maintain() calls replace the hand-scheduled operator chain. Round 1
    (fresh small-file table + a MoR delete): the planner reads pure
    manifest metadata and picks full-Z-order-cluster (which subsumes
    compact AND clears the tombstone — purge is provably redundant and
    must NOT be planned), manifest rewrite, expire. Round 2 (append + a
    second MoR delete): the planner sees a clustered table and picks
    materialize_deletes -> INCREMENTAL cluster -> expire. The planned
    step lists are asserted in-query (a mis-plan raises rather than
    silently passing the content check); the final scan is value-hash
    oracled, so the content-preservation of every auto-chosen rewrite is
    checked relationally (base minus the two expression-defined deletes).
    Planner decision coverage on controlled layouts: tests/test_maintain.py."""
    import shutil
    import uuid

    from .operators.maintain import maintain
    from .operators.rowlevel import delete_where
    from .table import scan
    from .table.writer import append_dataframe, create_transcripts_table

    df = _q30_transcripts(spark, sf_dir)
    b1 = df.where(F.col("turn_idx") % 5 != 0)
    b2 = df.where(F.col("turn_idx") % 5 == 0)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q104_{uuid.uuid4().hex[:12]}")
    policy = dict(target_bytes=1 << 19, min_small_files=2, curve="zorder",
                  cluster_min_new_files=1, tombstone_max_files=1,
                  manifest_max_count=2, keep_last_snapshots=2)
    try:
        t = create_transcripts_table(spark, root, b1, rows_per_file=250,
                                     n_append_commits=3)
        delete_where(spark, t, "role = 'tool' AND turn_idx % 7 = 0",
                     mode="merge-on-read")
        r1 = maintain(spark, t, **policy)
        if r1["plan"] != ["cluster_full", "rewrite_manifests",
                          "expire_snapshots"]:
            raise AssertionError(f"unexpected round-1 plan: {r1['plan']}")
        append_dataframe(spark, t, b2, rows_per_file=250)
        delete_where(spark, t, "role = 'user' AND turn_idx % 11 = 3",
                     mode="merge-on-read")
        r2 = maintain(spark, t, **policy)
        if r2["plan"][:2] != ["materialize_deletes", "cluster_incremental"]:
            raise AssertionError(f"unexpected round-2 plan: {r2['plan']}")
        if r2["health_after"]["tombstone_files"] != 0:
            raise AssertionError("tombstone debt survived maintenance")
        result = (
            scan(spark, t)
            .groupBy("role")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("turn_idx").alias("sum_turn"),
                 F.sum(F.length("text")).alias("n_chars"),
                 F.min("ts").alias("min_ts"),
                 F.max("ts").alias("max_ts"))
        )
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q175_transcript_audit(spark, sf_dir):
    """Canonical-transcript integrity audit (transcripts.as_transcripts
    → conversation_shape_audit): the events log projected to the
    BASELINE input shape (conv_id, turn_idx, role, text, tool, ts),
    then per-conversation contiguity / monotonicity / role-repeat /
    gap profile — the precondition check for the north rule's stable
    (conv_id, turn_idx) byte-equality invariant."""
    from .operators.transcripts import as_transcripts, conversation_shape_audit

    e = _t(spark, sf_dir, "events")
    return conversation_shape_audit(as_transcripts(e))


def q178_context_budget(spark, sf_dir):
    """Context-window overflow audit (transcripts.context_budget_audit):
    per-conversation running char budget — which conversations outgrow
    a 2000-char context and at which turn."""
    from .operators.transcripts import as_transcripts, context_budget_audit

    e = _t(spark, sf_dir, "events")
    return context_budget_audit(as_transcripts(e), budget_chars=2000)


def q179_response_latency(spark, sf_dir):
    """Assistant response latency (transcripts.response_latency): exact
    integer-microsecond user→assistant turn gaps, per-conversation
    min/avg/max seconds."""
    from .operators.transcripts import as_transcripts, response_latency

    e = _t(spark, sf_dir, "events")
    return response_latency(as_transcripts(e))


def q180_conversation_dedup(spark, sf_dir):
    """Conversation-granularity exact dedup
    (transcripts.conversation_dedup): md5 over length-prefixed turn
    texts in turn order; group sizes + canonical keeper — the
    transcript analog of q20's document dedup."""
    from .operators.transcripts import as_transcripts, conversation_dedup

    e = _t(spark, sf_dir, "events")
    return conversation_dedup(as_transcripts(e))


def q181_tool_usage_profile(spark, sf_dir):
    """Per-tool usage profile (transcripts.tool_usage_profile): call
    volume, conversation reach, mean relative position (exact ppm),
    payload size stats."""
    from .operators.transcripts import as_transcripts, tool_usage_profile

    e = _t(spark, sf_dir, "events")
    return tool_usage_profile(as_transcripts(e))


def q182_prefix_templates(spark, sf_dir):
    """Shared-prefix template groups (transcripts.prefix_template_groups):
    conversations sharing byte-identical first-3-turn texts, with the
    branch factor of distinct continuations."""
    from .operators.transcripts import as_transcripts, prefix_template_groups

    e = _t(spark, sf_dir, "events")
    return prefix_template_groups(as_transcripts(e), k=3)


def q183_turn_position_profile(spark, sf_dir):
    """Length drift by conversation position (transcripts.
    turn_position_profile): per (role, position-decile) turn counts and
    exact length stats."""
    from .operators.transcripts import as_transcripts, turn_position_profile

    e = _t(spark, sf_dir, "events")
    return turn_position_profile(as_transcripts(e), n_buckets=10)


def q184_agent_loop_runs(spark, sf_dir):
    """Agent-loop detection (transcripts.agent_loop_runs):
    gaps-and-islands runs of consecutive identical (role, text) turns;
    conversations with a run of length >= 2."""
    from .operators.transcripts import agent_loop_runs, as_transcripts

    e = _t(spark, sf_dir, "events")
    return agent_loop_runs(as_transcripts(e))


def q185_tool_bigrams(spark, sf_dir):
    """Tool-chain bigrams (transcripts.tool_bigrams): consecutive
    (tool_a -> tool_b) transition counts over each conversation's
    tool-call subsequence."""
    from .operators.transcripts import as_transcripts, tool_bigrams

    e = _t(spark, sf_dir, "events")
    return tool_bigrams(as_transcripts(e))


def q186_conversation_cost(spark, sf_dir):
    """Serving-cost accounting (transcripts.conversation_cost):
    role-priced integer micro-cost per conversation plus corpus share
    in ppm via one broadcast total."""
    from .operators.transcripts import as_transcripts, conversation_cost

    e = _t(spark, sf_dir, "events")
    return conversation_cost(as_transcripts(e))


def q187_boilerplate_turns(spark, sf_dir):
    """Cross-conversation boilerplate (transcripts.boilerplate_turns):
    recurring byte-identical (role, text) turns; shuffle key is the
    md5, never the text."""
    from .operators.transcripts import as_transcripts, boilerplate_turns

    e = _t(spark, sf_dir, "events")
    return boilerplate_turns(as_transcripts(e), min_occurrences=2)


def q188_context_pack_examples(spark, sf_dir):
    """Training-example context packing (transcripts.
    context_pack_examples): RANGE-window lookback — how many preceding
    turns fit a 1000-char context before each assistant turn."""
    from .operators.transcripts import as_transcripts, context_pack_examples

    e = _t(spark, sf_dir, "events")
    return context_pack_examples(as_transcripts(e), budget_chars=1000)


def q205_dynamic_file_pruning(spark, sf_dir):
    """Join-driven dynamic file pruning (table.scan.scan_semi_join —
    Delta dynamic-file-pruning / Iceberg runtime-filter analog). Build
    side: embeddings vec_ids with label = 3 (a selective dim predicate);
    probe side: a bloom-indexed hash-bucketed documents table in q82's
    adversarial layout — every file spans ~the whole doc_id RANGE
    (min/max prunes nothing) but holds a disjoint key SET, so only the
    per-file bloom probes can skip. The value hash proves pruning never
    drops a row (result ≡ full-scan semi-join); pytest pins that files
    are actually skipped (files_kept < files_total). on_overflow='scan'
    keeps the query total at any sf: if the label stratum ever outgrows
    max_keys, the op degrades to the plain distributed semi-join
    instead of raising (review finding)."""
    import shutil

    from .table import scan_semi_join

    docs = _t(spark, sf_dir, "documents")
    keys = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("label") == 3)
        .select(F.col("vec_id").alias("doc_id"))
    )
    t, root = _bucketed_bloom_table(spark, docs, "doc_id", "q205")
    try:
        res = scan_semi_join(spark, t, keys, key_col="doc_id",
                             schema=docs.schema, on_overflow="scan")
        result = res.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        rows = result.collect()  # materialize before the temp table dies
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q204_preference_pairs(spark, sf_dir):
    """DPO-style preference-pair construction over transcripts: group
    assistant responses by exact user prompt across conversations, emit
    one deterministic (chosen, rejected) pair per prompt group with a
    response-length score proxy (the operator is score-agnostic — a
    reward-model column drops in upstream)."""
    from .operators.transcripts import as_transcripts, preference_pairs

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return preference_pairs(tr, min_candidates=2)


def q206_truncation_audit(spark, sf_dir):
    """Context-truncation strategy comparison (keep-head / keep-tail /
    middle-drop) per conversation — pure forward+reverse window cumsums
    over one conv_id shuffle (transcripts.truncation_audit)."""
    from .operators.transcripts import as_transcripts, truncation_audit

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return truncation_audit(tr, budget_chars=120)


def q207_grounding_audit(spark, sf_dir):
    """Tool-grounding audit: fraction of assistant turns preceded by a
    tool turn within a 2-turn lookback, in exact integer ppm
    (transcripts.grounding_audit)."""
    from .operators.transcripts import as_transcripts, grounding_audit

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return grounding_audit(tr, lookback_turns=2)


def q208_sft_examples(spark, sf_dir):
    """SFT example export: one manifest row per assistant target turn
    with its char-budgeted lookback context window
    (transcripts.sft_examples — the emit twin of q188's counter)."""
    from .operators.transcripts import as_transcripts, sft_examples

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return sft_examples(tr, budget_chars=100)


def q210_preference_pipeline(spark, sf_dir):
    """Composed DPO preference-data pipeline (the q200 flagship shape
    for the preference path): q204's pairs -> quality gate (non-trivial
    margin, length cap) -> benchmark decontamination (prompts whose
    md5 falls in the reserved 1/16 gate are treated as the eval set and
    dropped — the q51 deterministic-gate trick standing in for a real
    benchmark list, which would broadcast-join the same way) -> exact
    deterministic train/val split by salted prompt hash. Every stage is
    a row-local predicate over the one prompt-keyed shuffle q204
    already paid."""
    from .operators.transcripts import as_transcripts, preference_pairs

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    pairs = preference_pairs(tr, min_candidates=2)
    gated = pairs.where(
        (F.col("margin") >= 1) & (F.col("chosen_score") <= 2000)
    )
    bench_gate = F.substring(F.md5(F.col("prompt")), 1, 1) < "1"
    split = F.when(
        F.substring(
            F.md5(F.concat(F.lit("split|"), F.col("prompt"))), 1, 1
        ) < "3",
        F.lit("val"),
    ).otherwise(F.lit("train"))
    return (
        gated.where(~bench_gate)
        .withColumn("split", split)
        .select(
            "split", "prompt", "n_candidates",
            "chosen_conv", "chosen_turn", "chosen_score",
            "rejected_conv", "rejected_turn", "rejected_score", "margin",
        )
    )


def q211_cache_economics(spark, sf_dir):
    """Prefix-cache ROI per conversation (transcripts.cache_economics):
    chars billed per assistant request without vs with an ideal prefix
    cache, savings in exact integer ppm."""
    from .operators.transcripts import as_transcripts, cache_economics

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return cache_economics(tr)


def q214_turn_windows(spark, sf_dir):
    """Overlapping turn-granularity training windows per conversation
    (transcripts.turn_windows): 8-turn windows at stride 4, zero-shuffle
    sequence+explode expansion, ragged tails flagged."""
    from .operators.transcripts import as_transcripts, turn_windows

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return turn_windows(tr, window_turns=8, stride=4)


def q215_window_dedup(spark, sf_dir):
    """Training-window exact dedup (transcripts.window_dedup): q214's
    windows fingerprinted by covered text, canonical survivor per
    duplicate group — the gate between windowing and packing."""
    from .operators.transcripts import as_transcripts, window_dedup

    tr = as_transcripts(_t(spark, sf_dir, "events"))
    return window_dedup(tr, window_turns=8, stride=4)


def q222_shallow_clone(spark, sf_dir):
    """Zero-copy SHALLOW CLONE (operators/clone.shallow_clone, Delta
    SHALLOW CLONE / Snowflake zero-copy analog): clone the documents
    table without copying a data byte (hardlinked immutable files +
    metadata copy), then run a copy-on-write DELETE of lang='fr' rows
    IN THE CLONE. The result unions per-lang counts from both sides:
    the source must still hold every language (the clone's rewrite
    created new files under its own root; the shared inodes are
    untouched), the clone must miss exactly the deleted one. The oracle
    restates both sides relationally over the input."""
    import os
    import shutil
    import uuid

    from .operators.clone import shallow_clone
    from .operators.rowlevel import delete_where
    from .table.meta import Table
    from .table.scan import scan as scan_table
    from .table.writer import write_files

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    root = os.path.join(base, f"spark_graft_q222_{uuid.uuid4().hex[:12]}")
    try:
        docs = _t(spark, sf_dir, "documents")
        t = Table.create(os.path.join(root, "src"))
        t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
        for parity in (0, 1):
            # documents ingested as two deterministic halves, one file each
            entries = write_files(spark, t,
                                  docs.where(F.col("doc_id") % 2 == parity),
                                  1, f"half-{parity}", stat_columns=("doc_id",))
            t.commit_append(entries, {"op": f"ingest-half-{parity}"})
        shallow_clone(t, os.path.join(root, "dst"))
        c = Table.load(os.path.join(root, "dst"))
        delete_where(spark, c, "lang = 'fr'", stat_columns=("doc_id",),
                     schema=scan_table(spark, c).schema)
        legs = []
        for side, tbl in (("source", t), ("clone", c)):
            legs.append(
                scan_table(spark, tbl)
                .groupBy(F.lit(side).alias("side"),
                         F.col("lang"))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"))
            )
        result = legs[0].unionByName(legs[1])
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ALL = {
    "q05_validation_filter": q05_validation_filter,
    "q06_invalid_complement": q06_invalid_complement,
    "q07_value_buckets": q07_value_buckets,
    "q11_date_parts": q11_date_parts,
    "q17_merge_upsert": q17_merge_upsert,
    "q30_maintenance_lifecycle": q30_maintenance_lifecycle,
    "q36_skew_salted_agg": q36_skew_salted_agg,
    "q54_rowlevel_lifecycle": q54_rowlevel_lifecycle,
    "q57_cdc_changes": q57_cdc_changes,
    "q58_partitioned_scan": q58_partitioned_scan,
    "q59_partition_evolution": q59_partition_evolution,
    "q61_exactly_once_ingest": q61_exactly_once_ingest,
    "q62_partial_progress_compact": q62_partial_progress_compact,
    "q74_csv_reader_roundtrip": q74_csv_reader_roundtrip,
    "q75_xlsx_reader": q75_xlsx_reader,
    "q76_analyze_stats": q76_analyze_stats,
    "q77_jsonl_reader": q77_jsonl_reader,
    "q81_table_stream_source": q81_table_stream_source,
    "q82_bloom_point_lookup": q82_bloom_point_lookup,
    "q87_schema_evolution_lifecycle": q87_schema_evolution_lifecycle,
    "q89_metadata_count": q89_metadata_count,
    "q90_retention_delete": q90_retention_delete,
    "q91_cdf_stream_replay": q91_cdf_stream_replay,
    "q92_generic_cluster": q92_generic_cluster,
    "q100_copy_into": q100_copy_into,
    "q101_cdc_replication": q101_cdc_replication,
    "q104_auto_maintain": q104_auto_maintain,
    "q175_transcript_audit": q175_transcript_audit,
    "q178_context_budget": q178_context_budget,
    "q179_response_latency": q179_response_latency,
    "q180_conversation_dedup": q180_conversation_dedup,
    "q181_tool_usage_profile": q181_tool_usage_profile,
    "q182_prefix_templates": q182_prefix_templates,
    "q183_turn_position_profile": q183_turn_position_profile,
    "q184_agent_loop_runs": q184_agent_loop_runs,
    "q185_tool_bigrams": q185_tool_bigrams,
    "q186_conversation_cost": q186_conversation_cost,
    "q187_boilerplate_turns": q187_boilerplate_turns,
    "q188_context_pack_examples": q188_context_pack_examples,
    "q204_preference_pairs": q204_preference_pairs,
    "q205_dynamic_file_pruning": q205_dynamic_file_pruning,
    "q206_truncation_audit": q206_truncation_audit,
    "q207_grounding_audit": q207_grounding_audit,
    "q208_sft_examples": q208_sft_examples,
    "q210_preference_pipeline": q210_preference_pipeline,
    "q211_cache_economics": q211_cache_economics,
    "q214_turn_windows": q214_turn_windows,
    "q215_window_dedup": q215_window_dedup,
    "q222_shallow_clone": q222_shallow_clone,
}
