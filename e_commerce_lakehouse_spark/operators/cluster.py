"""Op-2: Z-order / Hilbert clustering on (conv_id, ts) — or, via
``key_cols=``, on ANY 1-2 schema columns (Delta ZORDER BY analog;
typed order-preserving projections, dictionary-rank for low-NDV
strings).

The reference's only layout control is static partitionBy
(`/root/reference/src/glue_jobs/orders_etl.py:191-194`). Clustering
re-sorts the whole table along a space-filling curve over an
order-preserving conv_id projection and minmax-scaled ts, so point/range
queries on EITHER dimension skip most files via the manifest min/max
stats.

The key is built from SQL text (functions/zorder.py): one ``select``
projects the two scaled 31-bit dimensions as named columns, then one
expression interleaves them — Z-order in whole-stage codegen, or an
Arrow-vectorized Hilbert pandas UDF over the same columns. ``ts`` bounds
come from MANIFEST stats — planning reads no data.

Two execution modes:

- single-pass (default): one ``write_files(order_by=key)`` — a range
  exchange on (partition tuple, key) into about one task per core
  (``cluster_sizing``), a sort within each task, and one write that
  rolls a new file every ``rows_per_file`` rows, so each file is one
  contiguous run of the sorted curve. Per-task cost is paid per core,
  not per output file.
- sharded (``shards=K``): stage 1 spills a keyed temp copy hash-bucketed
  by key-quantile shard; stage 2 sorts/writes each shard as its own
  checkpointed file group, sized the same way. Twice the I/O, but a
  killed run resumes at shard granularity — the trade the north rule
  asks for on week-long 100 TB runs.

Commit is one atomic REPLACE snapshot; pre-clustering snapshot remains
readable (snapshot isolation) and content is byte-identical.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import uuid
from time import monotonic

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..checkpoint import Checkpoint
from ..functions.zorder import (
    MASK31,
    hilbert_key_udf,
    scale31_sql,
    str31_py,
    str31_sql,
    zorder_key_sql,
)
from ..schema import TRANSCRIPTS_STAT_COLUMNS
from ..table.meta import DataFileEntry, Table
from ..table.scan import scan
from ..table.writer import DEFAULT_TARGET_FILE_BYTES, write_files

_KEY = "__ckey"
_DIMS = ("__ckey0", "__ckey1")


def cluster_sizing(n_bytes: float, n_rows: float, target_bytes: int,
                   parallelism: int) -> tuple[int, int]:
    """``(tasks, rows_per_file)`` for a range-partitioned write of about
    ``n_bytes`` / ``n_rows`` (manifest figures) into files of about
    ``target_bytes``. The range exchange gets one task per core — more
    only where ``DEFAULT_TARGET_FILE_BYTES`` files need them, never more
    than the file count — and each task rolls a file every
    ``rows_per_file`` rows. At one task per file nothing rolls (0): each
    range partition is one file, as the exchange alone would write it."""
    n_bytes = max(1, n_bytes)
    n_files = max(1, math.ceil(n_bytes / target_bytes))
    tasks = min(n_files, max(parallelism, math.ceil(n_bytes / DEFAULT_TARGET_FILE_BYTES)))
    if tasks == n_files:
        return tasks, 0
    return tasks, math.ceil(target_bytes * n_rows / n_bytes)


def _sql_name(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: spark.sql.files.maxPartitionBytes is SESSION-GLOBAL; two cluster()
#: calls on one session (run_pipeline_many fans tables out on threads)
#: would interleave their set/restore pairs and leave the session at a
#: tiny value permanently (review finding). The lock serializes only
#: concurrent cluster stages; other pipeline stages still run in parallel.
_MPB_LOCK = threading.Lock()


def _ts_bounds_from_manifest(entries) -> tuple[int, int] | None:
    los = [e.stats["ts"][0] for e in entries if "ts" in e.stats]
    his = [e.stats["ts"][1] for e in entries if "ts" in e.stats]
    if los and len(los) == len(entries):
        return min(los), max(his)
    return None


def _conv_projection(entries) -> tuple[int, int, int]:
    """(common_prefix_len, projected_lo, projected_hi) for conv_id, from
    manifest stats only — no data read. The projection skips the dead
    common prefix; lo/hi let the dimension min-max scale to the full
    31-bit domain so the interleave stays balanced."""
    import os.path

    los = [e.stats["conv_id"][0] for e in entries if "conv_id" in e.stats]
    his = [e.stats["conv_id"][1] for e in entries if "conv_id" in e.stats]
    if not los:
        return 0, 0, MASK31
    lo_s, hi_s = min(los), max(his)
    pl = len(os.path.commonprefix([lo_s, hi_s]))
    return pl, str31_py(lo_s, pl), str31_py(hi_s, pl)


#: dictionary-rank projection cutoff for string cluster keys; above it
#: the order-preserving char-pack projection takes over (high-NDV keys
#: like conv_id never collect a dictionary)
_DICT_MAX = 64


def _generic_projections(df, entries, key_cols, schema):
    """Per-key-column 31-bit ORDER-PRESERVING projections + bounds for
    arbitrary (string / int / bigint / float / double / timestamp / date)
    columns — the generalization of the (conv_id, ts) fast path. Bounds
    come from manifest stats when EVERY entry tracks the column; else one
    min/max agg over the data (same fallback the ts path has). Returns
    [(SQL expression, lo, hi)], ready for min-max scaling."""
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    specs = []
    need_agg = []
    for c in key_cols:
        typ = by_name.get(c)
        if typ is None:
            raise ValueError(f"cluster key column not in schema: {c}")
        los = [e.stats[c][0] for e in entries if c in e.stats]
        his = [e.stats[c][1] for e in entries if c in e.stats]
        have = bool(los) and len(los) == len(entries)
        specs.append([c, typ, (min(los) if have else None),
                      (max(his) if have else None)])
        if not have:
            need_agg.append(c)
    if need_agg:
        row = df.agg(*[f(c) for c in need_agg
                       for f in (lambda c: F.min(c).alias(f"lo_{c}"),
                                 lambda c: F.max(c).alias(f"hi_{c}"))]
                     ).collect()[0]
        for s in specs:
            if s[0] in need_agg:
                s[2], s[3] = row[f"lo_{s[0]}"], row[f"hi_{s[0]}"]
    out = []
    for c, typ, lo, hi in specs:
        col = _sql_name(c)
        if typ == "string":
            # LOW-CARDINALITY strings (lang/source/category keys) get a
            # DICTIONARY-RANK projection: min-max over raw char packs
            # squashes the whole dictionary into a sliver whenever one
            # value is a lexicographic outlier (measured: lang={de..fr}
            # landed in the bottom 10% of the domain next to 'zh', so the
            # interleave ignored the column). Ranks spread values evenly;
            # the dictionary is collected once, driver-side, bounded.
            distinct = [r[0] for r in
                        df.select(c).distinct().limit(_DICT_MAX + 1).collect()]
            if len(distinct) <= _DICT_MAX:
                vals = sorted(v for v in distinct if v is not None)
                n = max(1, len(vals) - 1)
                pairs = ", ".join(f"{_sql_str(v)}, {i * MASK31 // n}"
                                  for i, v in enumerate(vals))
                out.append((f"coalesce(map({pairs})[{col}], 0)" if pairs else "0",
                            0, MASK31))
            else:
                import os.path as _p

                lo_s = "" if lo is None else str(lo)
                hi_s = "" if hi is None else str(hi)
                pl = len(_p.commonprefix([lo_s, hi_s]))
                out.append((str31_sql(col, pl),
                            str31_py(lo_s, pl), str31_py(hi_s, pl)))
        elif typ == "timestamp":
            out.append((f"unix_micros({col})", _ts_micros_any(lo), _ts_micros_any(hi)))
        elif typ == "date":
            # DATE doesn't cast to BIGINT (DATATYPE_MISMATCH); project to
            # days-since-epoch, matching _long_any's datetime.date handling
            # for the manifest-stat bounds.
            out.append((f"unix_date({col})", _long_any(lo), _long_any(hi)))
        elif typ in ("int", "bigint"):
            out.append((f"CAST({col} AS BIGINT)", _long_any(lo), _long_any(hi)))
        elif typ in ("float", "double"):
            # min-max scale doubles straight onto the 31-bit domain
            lo_f, hi_f = float(lo or 0.0), float(hi or 0.0)
            span = (hi_f - lo_f) or 1.0
            out.append((f"CAST((CAST({col} AS DOUBLE) - {lo_f!r}D) / {span!r}D"
                        f" * {float(MASK31)!r}D AS BIGINT)", 0, MASK31))
        else:
            raise ValueError(f"unsupported cluster key type {typ} for {c}")
    return out


def _ts_micros_any(v):
    if v is None:
        return 0
    if isinstance(v, int):
        return v  # manifest stats store epoch micros
    from ..table.scan import _ts_to_micros

    return _ts_to_micros(v)


def _long_any(v):
    if v is None:
        return 0
    try:
        return int(v)
    except (TypeError, ValueError):
        import datetime as _dt

        if isinstance(v, str):
            # manifest stats serialize DATE bounds as ISO strings
            v = _dt.date.fromisoformat(v)
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        raise


def _with_cluster_key(df, curve: str, dims):
    """Add the cluster key column to ``df``. ``dims`` holds one or two
    (SQL projection, lo, hi) dimensions: the (conv_id, ts) pair or
    ``_generic_projections``. One ``select`` min-max scales each onto the
    full 31-bit domain as a named column, so neither dominates the
    interleave; one expression over those names then interleaves them
    (Z-order) or feeds them to the Hilbert UDF. One dimension degenerates
    to a plain range sort on its scaled value."""
    if len(dims) not in (1, 2):
        raise ValueError("cluster key_cols supports 1 or 2 columns "
                         "(like the built-in (conv_id, ts) pair); more "
                         "dimensions dilute every dimension's locality")
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"unknown curve: {curve}")
    names = _DIMS[:len(dims)]
    cols = [_sql_name(c) for c in df.columns]
    df = df.selectExpr(*cols, *(f"{scale31_sql(e, lo, hi)} AS {n}"
                                for (e, lo, hi), n in zip(dims, names)))
    if len(names) == 2 and curve == "hilbert":
        return df.select(*cols, hilbert_key_udf()(*names).alias(_KEY))
    key = zorder_key_sql(*names) if len(names) == 2 else names[0]
    return df.selectExpr(*cols, f"{key} AS {_KEY}")


class SimulatedCrash(RuntimeError):
    """Raised by fail_after_shards to exercise kill/resume in tests."""


def _last_cluster_sid(table: Table) -> int | None:
    """Newest snapshot on the head chain that was a cluster commit (full
    or incremental), by its summary op marker. A chain broken by expire
    returns None — the caller falls back to a full cluster, which is
    always safe."""
    try:
        sid = table.current_snapshot_id()
        while sid is not None:
            s = table.snapshot(sid)
            if str(s.summary.get("op", "")).startswith("cluster-"):
                return sid
            sid = s.parent_id
    except FileNotFoundError:
        pass
    return None


def cluster(
    spark: SparkSession,
    table: Table,
    curve: str = "zorder",
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    shards: int = 1,
    checkpoint_path: str | None = None,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    fail_after_shards: int | None = None,
    conv_id_range: tuple | None = None,
    ts_range: tuple | None = None,
    incremental: bool = False,
    key_cols: list[str] | None = None,
    retry_on_conflict: int = 1,
) -> dict:
    """Cluster the table (or, with ``conv_id_range``/``ts_range``, ONLY
    the files whose stat ranges overlap the predicate — a hot-slice
    re-cluster on a 100 TB table rewrites that slice and leaves the rest
    byte-identical and uncommitted, like compact's WHERE scoping).

    Full-table clustering reads through ``scan`` — which applies any live
    merge-on-read tombstones — so its rewrite has the deletes physically
    applied and the commit CLEARS the tombstone list (clustering doubles
    as materialize_deletes). A SCOPED run reads its files raw instead
    (filtering would drop out-of-scope rows from overlapping files), so
    tombstones propagate untouched."""
    base_snapshot = table.current_snapshot_id()
    if base_snapshot is None:
        raise ValueError("cannot cluster an empty table")
    sv_plan = table.write_schema_version()  # outputs' write version
    entries = table.entries()
    scoped = conv_id_range is not None or ts_range is not None
    scoped_seq = None
    if incremental:
        # LIQUID-style incremental clustering: rewrite ONLY the files
        # whose data-sequence number postdates the last cluster commit —
        # appends, merge outputs and cow rewrites since then. Selection
        # is pure metadata (seq vs the last cluster snapshot id): cluster
        # outputs carry seq <= their own commit, so they are never
        # re-picked; a later full run consolidates the per-increment
        # sorted sets. On a 100 TB table this makes the daily cadence
        # O(new data), not O(table).
        if scoped:
            raise ValueError(
                "incremental clustering and predicate scoping are "
                "mutually exclusive (incremental derives its own scope)"
            )
        thr = _last_cluster_sid(table)
        if thr is not None:
            entries = [e for e in entries if (e.seq or 0) > thr]
            if not entries:
                return {"base_snapshot": base_snapshot,
                        "committed_snapshot": base_snapshot,
                        "noop": True, "incremental": True}
            # reuse the scoped machinery: raw file-slice reads, tombstone
            # applicability-class guard, preserved max-input seq,
            # tombstones propagated (NOT cleared — out-of-scope files may
            # still carry live tombstoned rows)
            scoped = True
        # thr None: never clustered -> a plain FULL cluster bootstraps
    if scoped:
        from ..table.scan import prune_entries, tombstone_classes

        entries = prune_entries(entries, conv_id_range=conv_id_range, ts_range=ts_range)
        if not entries:
            return {"base_snapshot": base_snapshot, "committed_snapshot": base_snapshot,
                    "noop": True, "scoped_files": 0}
        # scoped runs read raw and propagate tombstones — the merged output
        # carries ONE data-sequence number, so inputs spanning a tombstone
        # seq boundary (different applicability classes) cannot be safely
        # combined; full clustering (which applies + clears tombstones) or
        # materialize_deletes resolves it
        tomb_entries = table.tombstone_entries(base_snapshot)
        if tomb_entries:
            classes = tombstone_classes(entries, tomb_entries)
            if len(classes) > 1:
                raise ValueError(
                    "scoped cluster over files in different merge-on-read "
                    "tombstone applicability classes; run materialize_deletes "
                    "(or a full cluster) first"
                )
            scoped_seq = max((e.seq or 0) for e in entries)
    total_bytes = sum(e.bytes for e in entries)
    # sharded: each shard's write is sized as an even share of the table
    par = spark.sparkContext.defaultParallelism
    k = max(1, shards)
    tasks, rows_per_file = cluster_sizing(total_bytes / k, sum(e.rows for e in entries) / k,
                                          target_bytes, par)

    if scoped:
        from ..table.scan import resolve_schema

        read_schema = resolve_schema(table, base_snapshot, schema)
        from ..table.scan import read_entries

        # vintage-aware: pre-rename files resolve written names by field id
        df = read_entries(spark, table, entries, read_schema, base_snapshot)
    else:
        df = scan(spark, table, snapshot_id=base_snapshot, schema=schema)
    if key_cols is not None:
        # GENERIC cluster keys (Delta ZORDER BY / Iceberg sort-order
        # analog): 1 or 2 arbitrary schema columns, order-preserving
        # 31-bit projections + the same curve interleave. Pass
        # stat_columns covering the keys so post-cluster file skipping
        # engages on them.
        from ..table.scan import resolve_schema as _rs

        dims = _generic_projections(df, entries, list(key_cols),
                                    _rs(table, base_snapshot, schema))
    else:
        bounds = _ts_bounds_from_manifest(entries)
        if bounds is None:  # fall back to a data-scan agg (min/max only)
            row = df.agg(
                F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
            ).collect()[0]
            bounds = (row["lo"], row["hi"])
        # ORDER-PRESERVING conv_id projection (not a hash): file min/max
        # stats on conv_id stay narrow after the sort, so point queries
        # prune files
        pl, xlo, xhi = _conv_projection(entries)
        dims = [(str31_sql("conv_id", pl), xlo, xhi), ("unix_micros(ts)", *bounds)]
    keyed = _with_cluster_key(df, curve, dims)

    # Scan parallelism: a freshly-compacted table may have only ~total/32MB
    # file-split partitions — fewer than the executor pool, so the map stage
    # underutilizes a wide cluster. Size maxPartitionBytes so the scan yields
    # ≥3 map tasks per core slot. Set INSIDE the try (the conf applies at
    # action time, the plans above are lazy) so any failure restores it.
    mpb = max(4 << 20, min(128 << 20, total_bytes // max(1, par * 3)))

    _scope_tag = ""
    if scoped:
        import hashlib

        _scope_tag = "-scope" + hashlib.md5(
            repr((conv_id_range, ts_range)).encode()
        ).hexdigest()[:8]

    t0 = monotonic()
    # per-run token keeps output dirs collision-free (append-{uuid} rule):
    # a concurrent clusterer planned from the same snapshot must lose at
    # commit time, never by deleting the winner's committed files; a
    # crashed attempt's dir falls to expire's orphan GC (review finding)
    run_token = uuid.uuid4().hex[:12]
    _MPB_LOCK.acquire()
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
        if shards <= 1:
            subdir = f"cluster-{base_snapshot:08d}-{curve}{_scope_tag}-{run_token}"
            # order_by=_KEY is a range exchange, not literal cut points: r6
            # tried sample-derived cut points + a hash repartition on a file
            # id and REVERTED it — a ~95-term comparison chain blows
            # whole-stage codegen's method budget and drops the map stage
            # to interpreted evaluation (28 s vs 4 s for the same scan), an
            # aggregate() HOF form still costs +4 s, and the range
            # exchange's reservoir sample pass is far cheaper than it looks
            # (guarded A/B: two-pass 12.7-15.1 s vs single-pass-with-cuts
            # 35-40 s end-to-end)
            added = write_files(spark, table, keyed, tasks, subdir,
                                stat_columns, order_by=_KEY, rows_per_file=rows_per_file)
        else:
            added = _cluster_sharded(
                spark, table, keyed, base_snapshot, curve, shards, tasks,
                rows_per_file, checkpoint_path, stat_columns, fail_after_shards,
                scope_tag=_scope_tag, run_token=run_token,
            )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        _MPB_LOCK.release()

    if scoped_seq is not None:
        for e in added:  # preserve applicability of the propagated tombstones
            e.seq = scoped_seq
    for e in added:  # outputs carry the PLAN-time write-schema version
        e.sv = sv_plan
    removed = [e.path for e in entries]

    def _commit():
        """Commit with Iceberg-style retry. ``lock`` contention retries
        the SAME commit (nothing about the plan changed). ``stale-inputs``
        / ``tombstones`` mean a concurrent writer invalidated the plan —
        and unlike compact's independent groups, cluster's output is ONE
        globally-sorted rewrite with no disjoint remainder to salvage, so
        the rebase is whole-plan: delete this attempt's uncommitted
        outputs (plus its stage-1 temp) and re-run from the new head,
        bounded by ``retry_on_conflict``."""
        import time as _time

        from ..table.meta import CommitConflictError

        lock_tries = 0
        while True:
            try:
                return table.commit_rewrite(
                    removed,
                    added,
                    operation="replace",
                    summary={
                        "op": f"cluster-{curve}", "output_files": len(added),
                        "shards": shards, "scoped": scoped,
                        "incremental": incremental,
                        **({"key_cols": list(key_cols)} if key_cols else {}),
                    },
                    # full-table source was the tombstone-filtered scan:
                    # deletes are now physically applied. Scoped source was
                    # raw files: keep them. expected_tombstones: a delete-mor
                    # landing between our scan and this commit must CONFLICT,
                    # not be silently cleared unapplied.
                    clear_tombstones=not scoped,
                    # scoped runs with preserved max-input seq (scoped_seq
                    # set) stay subject to ANY newer tombstone — no guard
                    # needed; a scoped run that planned with NO tombstones
                    # stamps fresh seqs, so a concurrent MoR delete must
                    # conflict. Full runs clear and always verify the exact
                    # list they applied.
                    expected_tombstones=(
                        (None if scoped_seq is not None else [])
                        if scoped else table.tombstones(base_snapshot)
                    ),
                )
            except CommitConflictError as e:
                if e.kind == "lock" and lock_tries < 8:
                    lock_tries += 1
                    _time.sleep(min(0.2 * (2 ** lock_tries), 3.0))
                    continue
                if e.kind not in ("stale-inputs", "tombstones") \
                        or retry_on_conflict < 1:
                    raise
                return None  # signal whole-plan rebase

    snap = _commit()
    if snap is None:
        import contextlib as _ctx

        for ent in added:
            with _ctx.suppress(OSError):
                os.remove(os.path.join(table.root, ent.path))
        for d in os.listdir(table.data_dir):
            p = os.path.join(table.data_dir, d)
            if d == f"_tmp-cluster-{base_snapshot:08d}-{curve}{_scope_tag}":
                shutil.rmtree(p, ignore_errors=True)
            elif (run_token and run_token in d and os.path.isdir(p)
                    and not os.listdir(p)):
                with _ctx.suppress(OSError):
                    os.rmdir(p)
        return cluster(
            spark, table, curve=curve, target_bytes=target_bytes,
            shards=shards, checkpoint_path=checkpoint_path, schema=schema,
            stat_columns=stat_columns, fail_after_shards=fail_after_shards,
            conv_id_range=conv_id_range, ts_range=ts_range,
            incremental=incremental, key_cols=key_cols,
            retry_on_conflict=retry_on_conflict - 1,
        )
    return {
        "base_snapshot": base_snapshot,
        "committed_snapshot": snap.snapshot_id,
        "curve": curve,
        "output_files": len(added),
        "rows": sum(e.rows for e in added),
        "bytes": sum(e.bytes for e in added),
        "wall_ms": int((monotonic() - t0) * 1000),
    }


def _cluster_sharded(
    spark, table, keyed, base_snapshot, curve, shards, tasks, rows_per_file,
    checkpoint_path, stat_columns, fail_after_shards=None, scope_tag="", run_token="",
) -> list[DataFileEntry]:
    """Stage temp copy bucketed by key-quantile shard, then sort/write each
    shard as a checkpointed, resumable file group: ``tasks`` range
    partitions, each rolling a file every ``rows_per_file`` rows. Scoped
    plans get their own checkpoint/temp namespace (shard ids from a
    scoped plan must never resume against a full plan's).

    Each shard's write is partition-pure like single-pass (write_files
    derives the partition tuple), so exact planner pruning survives a
    RESUMABLE clustering run. Shard cuts stay global on the curve key;
    two shards writing the same partition value just yields multiple
    keyed-sorted files there."""
    ckpt = Checkpoint(
        checkpoint_path
        or os.path.join(table.metadata_dir,
                        f"cluster-{base_snapshot:08d}{scope_tag}.ckpt.jsonl")
    )
    tmp_dir = os.path.join(
        table.data_dir, f"_tmp-cluster-{base_snapshot:08d}-{curve}{scope_tag}"
    )
    done = ckpt.done()
    # trust-but-verify resume (mirrors compact): drop checkpointed shards
    # whose recorded outputs no longer exist on disk. Stage 1 is valid
    # only if the temp dir still holds EXACTLY the shard subdirs it
    # recorded — a partially-deleted temp copy must not be mistaken for
    # "those shards were empty" (that would commit silent data loss).
    def _stage1_intact(rec: dict) -> bool:
        td = rec.get("tmp_dir", tmp_dir)
        if not os.path.isdir(td):
            return False
        present = sorted(d for d in os.listdir(td) if d.startswith("__shard="))
        return present == sorted(rec.get("shard_dirs", []))

    done = {
        gid: rec
        for gid, rec in done.items()
        if (gid == -1 and _stage1_intact(rec))
        or (gid != -1 and all(
            os.path.exists(os.path.join(table.root, d["path"]))
            for d in rec.get("outputs") or []
        ))
    }

    # stage 1 (group_id = -1): keyed temp copy partitioned by shard id
    if -1 not in done:
        if done:
            # a redone stage 1 re-derives the quantile cuts; rows may land
            # in different shards than the ones old outputs were built
            # from, so ALL shard progress is invalidated together —
            # correctness over rework
            done = {}
            ckpt.clear()
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        cuts = keyed.stat.approxQuantile(
            _KEY, [i / shards for i in range(1, shards)], 0.001
        )
        # shard id = #cut-points below the key (monotone in key)
        shard_expr = (
            sum((F.col(_KEY) > F.lit(c)).cast("int") for c in cuts) if cuts else F.lit(0)
        )
        (
            keyed.withColumn("__shard", shard_expr)
            .write.mode("overwrite")
            .partitionBy("__shard")
            .parquet(tmp_dir)
        )
        shard_dirs = sorted(d for d in os.listdir(tmp_dir) if d.startswith("__shard="))
        ckpt.record({"group_id": -1, "status": "done", "tmp_dir": tmp_dir,
                     "shard_dirs": shard_dirs})
        done = ckpt.done()

    added: list[DataFileEntry] = []
    completed_this_run = 0
    for s in range(shards):
        if s in done:
            added.extend(DataFileEntry.from_dict(d) for d in done[s]["outputs"])
            continue
        t0 = monotonic()
        shard_dir = os.path.join(tmp_dir, f"__shard={s}")
        # run token → no collision with a prior crashed attempt's partial
        # output (resume reuses COMPLETED shards via their checkpointed
        # paths; a redone shard just writes a fresh dir, the dead partial
        # is orphan-GC'd). No rmtree: deterministic names + rmtree could
        # delete a concurrent winner's committed files (review finding).
        subdir = f"cluster-{base_snapshot:08d}-{curve}{scope_tag}-s{s:04d}-{run_token}"
        if not os.path.exists(shard_dir):  # empty shard
            ckpt.record({"group_id": s, "status": "done", "outputs": [], "rows": 0})
            continue
        outs = write_files(spark, table, spark.read.parquet(shard_dir), tasks, subdir,
                           stat_columns, order_by=_KEY, rows_per_file=rows_per_file)
        ckpt.record(
            {
                "group_id": s,
                "status": "done",
                "outputs": [e.to_dict() for e in outs],
                "rows": sum(e.rows for e in outs),
                "wall_ms": int((monotonic() - t0) * 1000),
            }
        )
        added.extend(outs)
        completed_this_run += 1
        if fail_after_shards is not None and completed_this_run >= fail_after_shards:
            raise SimulatedCrash(f"simulated crash after {completed_this_run} shards")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    ckpt.clear()
    return added
