"""Op-2 clustering: byte-equality, file-skipping improvement, sharded
resume path, Hilbert parity (SURVEY.md §7.3 step 4)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.functions.zorder import (
    MASK31,
    hilbert_key_py,
    str31_py,
    str31_sql,
    zorder_key_py,
)
from e_commerce_lakehouse_spark.operators.cluster import (
    _KEY,
    _conv_projection,
    _generic_projections,
    _ts_bounds_from_manifest,
    _with_cluster_key,
    cluster,
    cluster_sizing,
)
from e_commerce_lakehouse_spark.table.writer import DEFAULT_TARGET_FILE_BYTES
from e_commerce_lakehouse_spark.table import prune_entries, scan
from tests.conftest import assert_same_rows

TARGET = 48 * 1024  # tiny target: the 4k-row fixture must still form many files


def _skip_ratio(table, conv_id):
    entries = table.entries()
    surviving = prune_entries(entries, conv_id=conv_id)
    return 1 - len(surviving) / len(entries)


def test_zorder_cluster_preserves_content(spark, tiny_table):
    before = scan(spark, tiny_table)
    m = cluster(spark, tiny_table, curve="zorder", target_bytes=TARGET)
    assert m["committed_snapshot"] == 4
    assert_same_rows(before, scan(spark, tiny_table))


def test_zorder_improves_conv_skipping(spark, tiny_table):
    # pre-clustering: hash-scattered writes → every file spans ~all convs.
    # Probe a COLD conversation (few turns, narrow ts window): its z-region
    # is small, so most files must prune. A hot conv spanning the full ts
    # range legitimately overlaps more key ranges — that's curve geometry,
    # not a bug.
    probe = "conv-000000000150"
    ratio_before = _skip_ratio(tiny_table, probe)
    cluster(spark, tiny_table, curve="zorder", target_bytes=24 * 1024)
    ratio_after = _skip_ratio(tiny_table, probe)
    assert len(tiny_table.entries()) >= 6
    assert ratio_after > ratio_before
    assert ratio_after >= 0.5  # point query now skips most files


def test_hilbert_cluster_preserves_content(spark, tiny_table):
    before = scan(spark, tiny_table)
    m = cluster(spark, tiny_table, curve="hilbert", target_bytes=TARGET)
    assert m["curve"] == "hilbert"
    assert_same_rows(before, scan(spark, tiny_table))


def test_sharded_cluster_matches_single_pass(spark, tiny_table):
    before = scan(spark, tiny_table)
    m = cluster(spark, tiny_table, curve="zorder", target_bytes=TARGET, shards=3)
    assert m["committed_snapshot"] == 4
    assert_same_rows(before, scan(spark, tiny_table))
    # sharded output still skips on a cold-conversation point query
    assert _skip_ratio(tiny_table, "conv-000000000150") >= 0.3


def test_sharded_resume_rejects_partially_deleted_tmp(spark, tiny_table):
    """A partially-GC'd stage-1 temp copy must NOT be mistaken for 'those
    shards were empty' (that would commit a truncated table): resume
    detects the missing shard dir, invalidates all shard progress, and
    redoes the run — result stays byte-equal."""
    import os
    import shutil

    import pytest

    from e_commerce_lakehouse_spark.operators.cluster import SimulatedCrash

    before = scan(spark, tiny_table).cache()
    n_before = before.count()
    ckpt = os.path.join(tiny_table.metadata_dir, "shard-test.ckpt.jsonl")
    with pytest.raises(SimulatedCrash):
        cluster(spark, tiny_table, curve="zorder", target_bytes=TARGET,
                shards=3, checkpoint_path=ckpt, fail_after_shards=1)
    tmp = [d for d in os.listdir(tiny_table.data_dir) if d.startswith("_tmp-cluster-")]
    assert tmp, "crash must leave the stage-1 temp copy"
    tmp_dir = os.path.join(tiny_table.data_dir, tmp[0])
    shard_dirs = [d for d in os.listdir(tmp_dir) if d.startswith("__shard=")]
    assert len(shard_dirs) >= 2
    shutil.rmtree(os.path.join(tmp_dir, shard_dirs[0]))  # partial GC

    m = cluster(spark, tiny_table, curve="zorder", target_bytes=TARGET,
                shards=3, checkpoint_path=ckpt)
    assert m["rows"] == n_before  # nothing silently dropped
    assert_same_rows(scan(spark, tiny_table), before)


def test_cluster_int96_stat_fallback(spark, tiny_df, tmp_path):
    """INT96 parquet carries no min/max footer stats for ts, so the
    manifest has no ts range and cluster must fall back to a data-scan
    min/max agg (cluster.py bounds fallback) — and still produce
    byte-identical content."""
    from e_commerce_lakehouse_spark.operators.cluster import _ts_bounds_from_manifest
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        t = create_transcripts_table(
            spark, str(tmp_path / "int96tbl"), tiny_df.limit(1000), rows_per_file=200
        )
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    entries = t.entries()
    assert _ts_bounds_from_manifest(entries) is None, (
        "precondition: INT96 files must have no manifest ts stats"
    )
    before = scan(spark, t).cache()
    before.count()
    m = cluster(spark, t, curve="zorder", target_bytes=64 * 1024)
    assert m["committed_snapshot"] > m["base_snapshot"]
    assert_same_rows(scan(spark, t), before)


def test_scoped_cluster_rewrites_only_the_slice(spark, tiny_df, tiny_table):
    """cluster(conv_id_range=) re-clusters only stat-overlapping files;
    everything else stays byte-identical (same paths), and the table's
    full content is unchanged."""
    from e_commerce_lakehouse_spark.operators.compact import compact

    # narrow per-file ranges first so the scope predicate prunes
    cluster(spark, tiny_table, curve="zorder", target_bytes=24 * 1024)
    before = {e.path for e in tiny_table.entries()}
    lo, hi = "conv-000000000000", "conv-000000000004"
    m = cluster(spark, tiny_table, curve="zorder", target_bytes=64 * 1024,
                conv_id_range=(lo, hi))
    after = {e.path for e in tiny_table.entries()}
    untouched = before & after
    assert untouched, "scoped cluster rewrote everything"
    assert m["committed_snapshot"] != m["base_snapshot"]
    from e_commerce_lakehouse_spark.table import scan
    from tests.conftest import assert_same_rows

    assert_same_rows(
        scan(spark, tiny_table).select("conv_id", "turn_idx", "text"),
        tiny_df.select("conv_id", "turn_idx", "text"),
    )
    # a no-overlap scope is a noop commit-wise
    m2 = cluster(spark, tiny_table, curve="zorder",
                 conv_id_range=("zzz", "zzzz"))
    assert m2.get("noop") is True


def test_full_cluster_materializes_tombstones(spark, tiny_df, tiny_table):
    """Full-table clustering reads the tombstone-filtered scan, so its
    commit clears the tombstone list (doubles as materialize_deletes);
    a SCOPED run reads raw files and must keep them."""
    from e_commerce_lakehouse_spark.operators.rowlevel import delete_where
    from e_commerce_lakehouse_spark.table import scan

    n_tool = tiny_df.where("role = 'tool'").count()
    delete_where(spark, tiny_table, "role = 'tool'", mode="merge-on-read")
    assert tiny_table.tombstones()
    # scoped run first: tombstones must survive it
    cluster(spark, tiny_table, curve="zorder", target_bytes=64 * 1024,
            conv_id_range=("conv-000000000000", "conv-000000000004"))
    assert tiny_table.tombstones(), "scoped cluster must not clear tombstones"
    assert scan(spark, tiny_table).where("role = 'tool'").count() == 0
    # full run: physically applies + clears
    cluster(spark, tiny_table, curve="zorder", target_bytes=64 * 1024)
    assert tiny_table.tombstones() == []
    assert scan(spark, tiny_table).where("role = 'tool'").count() == 0
    assert tiny_table.total_rows() == tiny_df.count() - n_tool


def test_generic_cluster_keys_content_and_skipping(spark, tmp_path):
    """cluster(key_cols=...): arbitrary 1-2 column clustering (Delta
    ZORDER BY analog) — content byte-identical, per-file stat ranges
    narrow on the keys, point skipping engages on a non-core column."""
    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.scan import planned_entries
    from e_commerce_lakehouse_spark.table.writer import write_files

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "doc_tbl")
    t = Table.create(root)
    t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
    entries = write_files(spark, t, docs, 4, "ingest-00000001-0000",
                          stat_columns=("doc_id",))
    t.commit_append(entries, {"op": "ingest"})
    before = scan(spark, t).collect()

    cluster(spark, t, curve="zorder", target_bytes=2 * 1024,
            key_cols=["lang", "n_chars"],
            stat_columns=("doc_id", "lang", "n_chars"))
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    ents = t.entries()
    langs = sorted({r["lang"] for r in before})
    # corner dictionary value: only files whose range reaches it survive
    surv = planned_entries(t, eq={"lang": langs[-1]})
    assert len(surv) < len(ents)

    # 1-D key degenerates to a range sort: adjacent file ranges disjoint
    cluster(spark, t, curve="zorder", target_bytes=2 * 1024,
            key_cols=["n_chars"], stat_columns=("doc_id", "n_chars"))
    assert sorted(map(tuple, scan(spark, t).collect())) == sorted(map(tuple, before))
    rngs = sorted(e.stats["n_chars"] for e in t.entries()
                  if "n_chars" in e.stats)
    assert all(a[1] <= b[0] for a, b in zip(rngs, rngs[1:]))

    # guards
    with pytest.raises(ValueError, match="not in schema"):
        cluster(spark, t, key_cols=["nope"])
    with pytest.raises(ValueError, match="1 or 2"):
        cluster(spark, t, key_cols=["lang", "n_chars", "doc_id"])


def test_generic_cluster_date_key(spark, tmp_path):
    """DATE cluster keys must work (r4 advice: col.cast('long') on DateType
    raises DATATYPE_MISMATCH) — projected via unix_date, content preserved,
    range-disjoint files after a 1-D date sort."""
    import pyspark.sql.functions as F

    from e_commerce_lakehouse_spark.table.meta import Table
    from e_commerce_lakehouse_spark.table.writer import write_files

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumn("ingest_date",
                        F.date_add(F.lit("2024-01-01").cast("date"),
                                   (F.abs(F.hash("doc_id")) % 365)
                                   .cast("int"))))
    root = str(tmp_path / "doc_date_tbl")
    t = Table.create(root)
    t.append_schema_version(docs.schema.jsonValue(), as_of_snapshot=0)
    entries = write_files(spark, t, docs, 4, "ingest-00000001-0000",
                          stat_columns=("doc_id", "ingest_date"))
    t.commit_append(entries, {"op": "ingest"})
    before = scan(spark, t).collect()

    cluster(spark, t, curve="zorder", target_bytes=2 * 1024,
            key_cols=["ingest_date"],
            stat_columns=("doc_id", "ingest_date"))
    after = scan(spark, t).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    rngs = sorted(e.stats["ingest_date"] for e in t.entries()
                  if "ingest_date" in e.stats)
    assert len(rngs) >= 2
    assert all(a[1] <= b[0] for a, b in zip(rngs, rngs[1:]))

    # 2-D mixed (date, string) key also analyzes and preserves content
    cluster(spark, t, curve="zorder", target_bytes=2 * 1024,
            key_cols=["ingest_date", "lang"],
            stat_columns=("doc_id", "ingest_date", "lang"))
    assert sorted(map(tuple, scan(spark, t).collect())) == sorted(map(tuple, before))


def test_cluster_sizing():
    """One range partition per core, files rolled by rows inside each;
    at the default 128 MB target one partition per file, nothing rolled."""
    T = DEFAULT_TARGET_FILE_BYTES
    for n_bytes in (1, T, 10 * T + 1, 1000 * T):
        for par in (1, 4, 64):
            assert cluster_sizing(n_bytes, 10**6, T, par) == (math.ceil(n_bytes / T), 0)
    # perfbench-like: 1.47 MB at a 64 KB target on 4 cores
    assert cluster_sizing(1_470_000, 40_000, 64 * 1024, 4) == (
        4, math.ceil(64 * 1024 * 40_000 / 1_470_000))
    # fewer files than cores: one task per file
    assert cluster_sizing(100_000, 1_000, 64 * 1024, 4) == (2, 0)
    # more DEFAULT_TARGET_FILE_BYTES files than cores: one task per such file
    assert cluster_sizing(10 * T, 10**6, T // 4, 4)[0] == 10


def test_cluster_writes_one_sorted_range_per_task(spark, tiny_table):
    """At a target that asks for several files per core, the write stage
    runs at most one task per core, and the output files, re-keyed on
    read, hold ordered key ranges that do not overlap (each is one
    contiguous run of the sorted curve)."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    entries = tiny_table.entries()
    target = sum(e.bytes for e in entries) // (3 * par)
    sc.setJobGroup("cluster-tasks", "cluster-tasks")
    try:
        cluster(spark, tiny_table, curve="zorder", target_bytes=target)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("cluster-tasks")))
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks <= par

    pl, xlo, xhi = _conv_projection(entries)
    dims = [(str31_sql("conv_id", pl), xlo, xhi),
            ("unix_micros(ts)", *_ts_bounds_from_manifest(entries))]
    paths = [os.path.join(tiny_table.root, e.path) for e in tiny_table.entries()]
    files = spark.read.parquet(*paths).withColumn("f", F.input_file_name())
    rngs = sorted((r[1], r[2]) for r in _with_cluster_key(files, "zorder", dims)
                  .groupBy("f").agg(F.min(_KEY), F.max(_KEY)).collect())
    assert len(rngs) == len(paths) > par
    assert all(a[1] <= b[0] for a, b in zip(rngs, rngs[1:]))


def _scale_py(v, lo, hi):
    if v is None:
        return 0
    rng = max(1.0, float(hi) - float(lo))
    return min(max(int((float(v) - float(lo)) * (MASK31 / rng)), 0), MASK31)


def test_cluster_key_matches_python_oracle(spark):
    """The SQL key equals str31_py -> min-max scale -> zorder_key_py (and
    hilbert_key_py): NUL-padded short conv_ids, ts at and beyond the
    bounds (clamped), NULL ts, and one generic key_cols pair."""
    import datetime as dt

    lo_s, hi_s = "conv-000000000000", "conv-000000009999"
    pl = len(os.path.commonprefix([lo_s, hi_s]))
    xlo, xhi = str31_py(lo_s, pl), str31_py(hi_s, pl)
    t0 = dt.datetime(2024, 1, 1)
    tlo = int((t0 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    thi = tlo + 60_000_000
    offsets = [-5_000_000, 0, 1_234_567, 60_000_000, 90_000_000, None]
    convs = [lo_s, hi_s, "conv-000000001234", "conv-00", "conv-0000000", "conv-"]
    rows = [(c, i, None if u is None else t0 + dt.timedelta(microseconds=u))
            for c in convs for i, u in enumerate(offsets)]
    df = spark.createDataFrame(rows, "conv_id string, i int, ts timestamp")
    dims = [(str31_sql("conv_id", pl), xlo, xhi), ("unix_micros(ts)", tlo, thi)]
    for curve, oracle in (("zorder", zorder_key_py), ("hilbert", hilbert_key_py)):
        got = _with_cluster_key(df, curve, dims).collect()
        assert len(got) == len(rows)
        for r in got:
            u = offsets[r["i"]]
            x = _scale_py(str31_py(r["conv_id"], pl), xlo, xhi)
            y = _scale_py(None if u is None else tlo + u, tlo, thi)
            assert r[_KEY] == oracle(x, y), (curve, r)

    # key_cols=: a dictionary-ranked string (quotes and backslashes in
    # its values, a NULL) and an int, bounds from the data
    langs = ["de", "it's", "a\\b", None, "zh"]
    gen = spark.createDataFrame([(la, n) for la in langs for n in (-3, 0, 41)],
                                "lang string, n int")
    dims = _generic_projections(gen, [], ["lang", "n"], gen.schema)
    vals = sorted(v for v in langs if v is not None)
    for r in _with_cluster_key(gen, "zorder", dims).collect():
        x = 0 if r["lang"] is None else vals.index(r["lang"]) * MASK31 // (len(vals) - 1)
        assert r[_KEY] == zorder_key_py(x, _scale_py(r["n"], -3, 41)), r
