"""Op-1: bin-packing small-file compaction (copy-on-write).

Reference analog: Delta's pre-write repartition small-file mitigation
(`spark.databricks.delta.merge.repartitionBeforeWrite.enabled=true`,
`/root/reference/config/aws_config.py:68`) — there it's a flag; here it is
a first-class, resumable maintenance operator:

1. PLAN driver-side from manifest stats only (plans/binpack.py) — no data
   read to decide what to rewrite;
2. REWRITE a wave of file groups as the tasks of one Spark job: each task
   concatenates its group's whole small files with pyarrow (shuffle-free)
   and writes one output, so a 1000-executor cluster stays saturated;
3. CHECKPOINT one JSONL line per finished group (checkpoint.py) — a killed
   run resumes at file-group granularity, already-rewritten groups are
   skipped and their outputs reused;
4. COMMIT one atomic REPLACE snapshot (removed = group inputs, added =
   group outputs). Readers pinned to the pre-compaction snapshot still see
   the old files (snapshot isolation); content is byte-identical.
"""

from __future__ import annotations

import contextlib
import math
import os
import uuid
from time import monotonic

from pyspark.sql import SparkSession

from ..checkpoint import Checkpoint
from ..plans.binpack import plan_bin_packing
from ..schema import TRANSCRIPTS_STAT_COLUMNS
from ..table.meta import DataFileEntry, Table
from ..table.writer import DEFAULT_TARGET_FILE_BYTES


class SimulatedCrash(RuntimeError):
    """Raised by fail_after_groups to exercise kill/resume in tests."""


def _rewrite_wave_arrow(
    spark: SparkSession,
    table_root: str,
    specs: list[dict],
    base_snapshot: int,
    stat_columns,
    codec: str = "zstd",
    field_spec: list | None = None,
    run_token: str = "",
    bloom_spec: dict | None = None,
    sv_plan: int | None = None,
) -> list[dict]:
    """Rewrite a wave of file groups in ONE Spark job: each task
    concatenates its group's parquet files with pyarrow and writes one
    output file. Compaction moves bytes, computes nothing per row — the
    SQL engine would add only per-job overhead (measured ~100-200 ms/group
    via py4j + scheduling), so this is the deliberate mapPartitions escape
    hatch, mirroring how Iceberg's RewriteDataFilesSparkAction ships group
    rewrites to executors. pyarrow reads/writes are vectorized columnar
    ops; on a real cluster table_root is a shared-filesystem/S3 path that
    pyarrow opens directly."""
    cols = tuple(stat_columns)
    snap = base_snapshot
    tok = run_token

    def run(it):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        # import-light on purpose: _footer_stats pulls no pyspark, so fresh
        # Python workers start in ms (the package __init__ is inert)
        from e_commerce_lakehouse_spark._footer_stats import file_stats_dict

        # parallelism lives ACROSS tasks; pyarrow's default per-process
        # thread pool (= all host CPUs, per worker!) oversubscribes the
        # box cores² and inverts scaling — pin each task to one thread
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        try:
            # keep jemalloc dirty pages: returning them to the OS makes
            # every wave re-fault its working set through the hypervisor
            # (measured p99 read 1.7s → 0.25s under 16-way parallelism)
            pa.jemalloc_set_decay_ms(-1)
        except (NotImplementedError, AttributeError):
            pass

        from time import monotonic as _mono

        for spec in it:
            t0 = _mono()
            gid = spec["group_id"]
            # run token: two compactors racing from one snapshot (or a
            # resume after a crash) never write the same path — without it
            # pq.write_table would silently overwrite a COMMITTED file in
            # place while readers hold it (review finding); resume reuses
            # finished groups via their checkpointed paths, so uniqueness
            # per attempt is safe
            out_dir = os.path.join(
                table_root, "data", f"compact-{snap:08d}-g{gid:05d}-{tok}"
            )
            os.makedirs(out_dir, exist_ok=True)
            parts = [pq.read_table(os.path.join(table_root, p)) for p in spec["paths"]]
            renames = spec.get("renames")
            if renames:
                # schema evolution (rename): bind each file's WRITTEN
                # column names onto the current ones by field id — the
                # map was resolved driver-side from the file's sv
                # (table/fieldids.rename_map); zero-copy in arrow
                parts = [
                    p.rename_columns([m.get(c, c) for c in p.column_names])
                    if m else p
                    for p, m in zip(parts, renames)
                ]
            if field_spec:
                # schema evolution: one group can mix files written under
                # different schema versions — align each onto the current
                # schema (nulls for added cols, dropped cols projected
                # away) so concat sees one shape. No-op when uniform.
                from e_commerce_lakehouse_spark._arrow_align import align_table

                parts = [align_table(p, field_spec) for p in parts]
            t_read = _mono()
            merged = pa.concat_tables(parts, promote_options="none")
            out_path = os.path.join(out_dir, "part-00000.parquet")
            # zstd, not snappy: compacted files are cold, read-many data, and
            # zstd both shrinks them ~30% and keeps the rewrite CPU-bound —
            # measured FASTER than snappy here and scales 0.85 vs 0.72 from
            # 4→16 workers (snappy's larger write buffers hit the host's
            # contended fresh-page allocation path; see BENCH/BASELINE.md)
            #
            # coerce_timestamps="us": the rewrite's output annotation must be
            # independent of whatever the upstream writer produced. A default
            # SparkSession writes timestamps as INT96; pyarrow reads INT96 as
            # timestamp[ns] and would re-emit INT64 TIMESTAMP(NANOS), which
            # Spark's vectorized parquet reader rejects against TimestampType
            # (SchemaColumnConvertNotSupportedException on the very next scan
            # of compact output). Pinning to micros keeps compact output
            # readable under ANY session config, not just the repo's own.
            pq.write_table(
                merged,
                out_path,
                compression=codec,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            t_write = _mono()
            e = file_stats_dict(out_path, table_root, cols)
            if sv_plan:
                # write-schema version RECORDED AT WRITE TIME: stays
                # correct across resume even if an evolution lands
                # between attempts (commit replays checkpointed dicts)
                e["sv"] = sv_plan
            if bloom_spec:
                # bloom from the IN-MEMORY merged table — no second read
                # of the file just written
                import pyarrow.compute as pc

                from e_commerce_lakehouse_spark._bloom import build_bloom_from_values

                blooms = {}
                for bcol, params in bloom_spec.items():
                    if bcol in merged.column_names:
                        vals = pc.unique(merged.column(bcol))
                        blooms[bcol] = build_bloom_from_values(vals.to_pylist(), params)
                if blooms:
                    e["blooms"] = blooms
            yield {
                "group_id": gid,
                "entry": e,
                "input_files": spec["paths"],
                "task_read_ms": int((t_read - t0) * 1000),
                "task_write_ms": int((t_write - t_read) * 1000),
                "task_pid": os.getpid(),
            }

    sc = spark.sparkContext
    # ~150 ms fixed dispatch cost per PySpark RDD task (measured, all
    # configs): with one group per task a 64-group wave spends more wall
    # on dispatch than on bytes; with one giant task per core stragglers
    # gate the wave. 5 slices per core slot measured best on both narrow
    # and wide pools (68 groups: 2-core 15.7s, 8-core 5.4s — vs 11.6s at
    # 1×/8-core and 15.1s at 3×/2-core): dispatch amortized ~3×, still
    # fine-grained enough for the scheduler to even out skewed groups.
    n_slices = max(1, min(len(specs), sc.defaultParallelism * 5))
    return sc.parallelize(specs, n_slices).mapPartitions(run).collect()


def _run_arrow(
    spark, table, todo, base_snapshot, stat_columns, ckpt, wave_size, fail_after_groups,
    codec: str = "zstd", field_spec: list | None = None, run_token: str = "",
    group_seq: dict | None = None, group_part: dict | None = None,
    on_wave=None, ren_by_path: dict | None = None, sv_plan: int | None = None,
) -> None:
    """One Spark job per WAVE of groups; a checkpoint line per
    group lands after its wave completes (resume granularity = group, job
    overhead amortized over the wave). Returns phase metrics.
    ``on_wave(records)`` fires after each wave's records are checkpointed
    (partial-progress commits hook in there)."""
    completed = 0
    group_seq = group_seq or {}
    phase = {"wave_sec": 0.0, "task_read_sec": 0.0, "task_write_sec": 0.0, "waves": 0}
    for w in range(0, len(todo), wave_size):
        wave = todo[w : w + wave_size]
        specs = [{"group_id": g.group_id, "paths": g.paths} for g in wave]
        if ren_by_path:
            for s in specs:
                s["renames"] = [ren_by_path.get(p) for p in s["paths"]]
        t0 = monotonic()
        results = _rewrite_wave_arrow(
            spark, table.root, specs, base_snapshot, stat_columns, codec=codec,
            field_spec=field_spec, run_token=run_token,
            bloom_spec=table.bloom_spec(), sv_plan=sv_plan,
        )
        for r in results:  # outputs carry the group's preserved seq
            r["entry"]["seq"] = group_seq[r["group_id"]]
            part = (group_part or {}).get(r["group_id"])
            if part is not None:  # ...and its (single) partition tuple
                r["entry"]["partition"] = part
        wall = int((monotonic() - t0) * 1000)
        phase["wave_sec"] += wall / 1000
        phase["task_read_sec"] += sum(r["task_read_ms"] for r in results) / 1000
        phase["task_write_sec"] += sum(r["task_write_ms"] for r in results) / 1000
        phase["waves"] += 1
        wave_recs = []
        for r in sorted(results, key=lambda r: r["group_id"]):
            e = r["entry"]
            rec = {
                "group_id": r["group_id"],
                "status": "done",
                "input_files": r["input_files"],
                "output_files": [e["path"]],
                "outputs": [e],
                "rows": e["rows"],
                "bytes": e["bytes"],
                "wall_ms": wall,
            }
            ckpt.record(rec)
            wave_recs.append(rec)
            completed += 1
            if fail_after_groups is not None and completed >= fail_after_groups:
                raise SimulatedCrash(f"simulated crash after {completed} groups")
        if on_wave is not None:
            on_wave(wave_recs)
    for k in ("wave_sec", "task_read_sec", "task_write_sec"):
        phase[k] = round(phase[k], 2)
    return phase


def compact(
    spark: SparkSession,
    table: Table,
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_ratio: float = 0.75,
    checkpoint_path: str | None = None,
    fail_after_groups: int | None = None,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    codec: str = "zstd",
    conv_id_range: tuple | None = None,
    ts_range: tuple | None = None,
    order_preserving: bool = False,
    wave_size: int | None = None,
    partial_progress: bool = False,
    partial_max_commits: int = 10,
) -> dict:
    """Compact small files; returns metrics. Resumable: re-running with the
    same checkpoint path after a crash skips finished groups and commits.

    ``partial_progress=True`` commits
    finished waves incrementally instead of one all-or-nothing commit at
    the end, capped at ``partial_max_commits`` snapshots per run —
    Iceberg rewrite_data_files ``partial-progress.enabled`` semantics.
    On a week-long 100 TB compaction this publishes reclaimable progress
    continuously (expire can GC the replaced files after each partial
    commit), shrinks the conflict window per commit, and a crash loses
    only the uncommitted tail: the next run plans from the advanced head,
    where committed groups no longer exist. Each partial commit is guarded
    by the same live-file conflict check as any rewrite; groups are
    disjoint, so this run's own commits never invalidate its later ones.

    ``order_preserving=True`` packs CONSECUTIVE files in conv_id-min order
    instead of size-ordered FFD — use it on CLUSTERED tables, where FFD
    would merge distant key ranges and destroy the narrow per-file stats
    that make file skipping work (plans/binpack.plan_bin_packing_ordered).

    ``conv_id_range``/``ts_range`` scope the rewrite to files whose stat
    ranges overlap the predicate (Iceberg's rewrite_data_files WHERE):
    on a 100 TB table a hot-partition cleanup touches only that slice's
    files — everything else stays byte-identical and uncommitted.

    Group rewrites are TASKS of one Spark job per checkpoint wave
    (_rewrite_wave_arrow) — per-group overhead is a task launch."""
    base_snapshot = table.current_snapshot_id()
    if base_snapshot is None:
        raise ValueError("cannot compact an empty table")
    from ..table.scan import resolve_schema

    schema = resolve_schema(table, schema=schema)
    # plain-string (name, spark simple type) pairs: picklable, and the
    # executor-side align stays pyspark-free (_arrow_align)
    field_spec = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    sv_plan = table.schema_version_count() or None  # outputs' write version
    entries = table.entries()
    # per-file written-name -> current-name maps for the arrow rewrite
    # tasks (empty until a rename exists; see table/fieldids.py)
    ren_by_path: dict[str, dict] = {}
    versions = table.schema_versions()
    from ..table.fieldids import entry_rename_maps, mapping_required

    if mapping_required(versions):
        ren_by_path = entry_rename_maps(
            versions, entries, table.schema_version_at() or 1
        )
    _scope_tag = ""
    if conv_id_range is not None or ts_range is not None:
        from ..table.scan import prune_entries

        entries = prune_entries(entries, conv_id_range=conv_id_range, ts_range=ts_range)
        # scoped runs get their OWN default checkpoint: group ids from a
        # scoped plan must never be resumed against a full plan's groups
        import hashlib

        _scope_tag = "-scope" + hashlib.md5(
            repr((conv_id_range, ts_range)).encode()
        ).hexdigest()[:8]
    # SEQ-CLASS partition (Iceberg v2 tombstone semantics): files in
    # different tombstone-applicability classes must never share an output
    # file — the merged file could carry only one sequence number, and a
    # live tombstone with a seq between the inputs' would either resurrect
    # deleted rows or kill exempt ones. One class (the common case — no
    # live tombstones, or all files on one side of every tombstone) plans
    # exactly as before; class partitioning is deterministic, so group ids
    # stay resume-stable for a given base snapshot.
    tomb_entries = table.tombstone_entries()
    if tomb_entries:
        from ..table.scan import tombstone_classes

        _classes = tombstone_classes(entries, tomb_entries)
        entry_parts = [_classes[k] for k in sorted(_classes)]
    else:
        entry_parts = [entries]
    # HIDDEN-PARTITION split: files from different partition tuples never
    # share an output file (a merged file would span partitions and the
    # planner's exact pruning would turn wrong-or-conservative). Files
    # without partition metadata form their own conservative class.
    # Deterministic order → resume-stable group ids, same as seq classes.
    part_spec = table.partition_spec()
    if part_spec:
        split_parts = []
        for part in entry_parts:
            by_tuple: dict = {}
            for e in part:
                key = tuple(sorted((e.partition or {}).items()))
                by_tuple.setdefault(key, []).append(e)
            split_parts.extend(by_tuple[k] for k in sorted(by_tuple, key=repr))
        entry_parts = split_parts
    if order_preserving:
        from ..plans.binpack import plan_bin_packing_ordered

        stat_key = stat_columns[0] if stat_columns else "conv_id"
        planner = lambda part: plan_bin_packing_ordered(  # noqa: E731
            part, target_bytes, small_file_ratio, stat_key=stat_key
        )
        # ordered plans get their own checkpoint namespace: group ids from
        # an ordered plan must never resume against an FFD plan's groups
        _scope_tag += "-ordered"
    else:
        planner = lambda part: plan_bin_packing(  # noqa: E731
            part, target_bytes, small_file_ratio
        )
    groups, kept = [], []
    for part in entry_parts:
        g_part, k_part = planner(part)
        for g in g_part:
            g.group_id = len(groups)
            groups.append(g)
        kept.extend(k_part)
    # rewrite outputs inherit the MAX input data-sequence number (valid
    # within a class): older tombstones keep applying to the carried rows,
    # and nothing newer is wrongly exempted
    group_seq = {g.group_id: max((e.seq or 0) for e in g.entries) for g in groups}
    # outputs inherit the group's (single, by the split above) partition
    # tuple — rewrites preserve partition purity without re-deriving
    group_part = {g.group_id: g.entries[0].partition for g in groups}
    metrics = {
        "base_snapshot": base_snapshot,
        "planned_groups": len(groups),
        "input_files": sum(len(g.entries) for g in groups),
        "kept_files": len(kept),
    }
    if not groups:
        metrics.update({"committed_snapshot": base_snapshot, "noop": True})
        return metrics

    ckpt = Checkpoint(
        checkpoint_path
        or os.path.join(
            table.metadata_dir, f"compact-{base_snapshot:08d}{_scope_tag}.ckpt.jsonl"
        )
    )
    done = ckpt.done()
    # trust-but-verify resume: a checkpointed group whose output files no
    # longer exist (e.g. an interleaved GC) is re-run, never re-committed
    done = {
        gid: rec
        for gid, rec in done.items()
        if all(os.path.exists(os.path.join(table.root, p)) for p in rec["output_files"])
    }
    todo = [g for g in groups if g.group_id not in done]
    # collision-free output dirs per attempt (see _rewrite_wave_arrow)
    run_token = uuid.uuid4().hex[:12]

    committed_gids: set[int] = set()
    dropped_gids: set[int] = set()
    partial_sids: list[int] = []

    def _commit_pending(recs_by_gid: dict[int, dict], partial: bool) -> None:
        """Commit the pending groups, REBASING on conflict (Iceberg's
        commit-retry): a ``stale-inputs`` conflict means a concurrent
        writer already rewrote some of this plan's input files — those
        files' rows now live in the OTHER writer's outputs, so the
        groups touching them are simply dropped (their uncommitted
        output files deleted) and the disjoint remainder recommits
        against the new head. ``lock`` conflicts retry the same commit
        with bounded backoff. ``tombstones`` conflicts still raise —
        outputs carry a preserved max-input seq here, so compact never
        passes expected_tombstones and never sees that kind."""
        import time as _time

        from ..table.meta import CommitConflictError

        lock_tries = 0
        while True:
            pending = [gid for gid in sorted(recs_by_gid)
                       if gid not in committed_gids and gid not in dropped_gids]
            if not pending:
                metrics.setdefault("committed_snapshot",
                                   table.current_snapshot_id())
                return
            rm, add = [], []
            for gid in pending:
                rec = recs_by_gid[gid]
                rm.extend(rec["input_files"])
                add.extend(DataFileEntry.from_dict(d) for d in rec["outputs"])
            try:
                snap = table.commit_rewrite(
                    rm,
                    add,
                    operation="replace",
                    summary={"op": "compact", "groups": len(pending),
                             "removed_files": len(rm),
                             **({"partial_progress": True,
                                 "commit_k": len(partial_sids) + 1} if partial else {})},
                )
            except CommitConflictError as e:
                if e.kind == "lock" and lock_tries < 8:
                    lock_tries += 1
                    _time.sleep(min(0.2 * (2 ** lock_tries), 3.0))
                    continue
                if e.kind != "stale-inputs" or not e.stale_paths:
                    raise
                stale = set(e.stale_paths)
                conflicted = [gid for gid in pending
                              if stale & set(recs_by_gid[gid]["input_files"])]
                if not conflicted:  # guard against a livelock
                    raise
                for gid in conflicted:
                    dropped_gids.add(gid)
                    for d in recs_by_gid[gid]["outputs"]:
                        with contextlib.suppress(OSError):
                            os.remove(os.path.join(table.root, d["path"]))
                metrics["rebase_dropped_groups"] = (
                    metrics.get("rebase_dropped_groups", 0) + len(conflicted)
                )
                continue
            committed_gids.update(pending)
            if partial:
                partial_sids.append(snap.snapshot_id)
            metrics["committed_snapshot"] = snap.snapshot_id
            return

    t_plan_done = monotonic()
    # Wave sizing: the rdd runner bundles ~5 slices per core slot, so a
    # wave must hold >= 5*parallelism groups for dispatch amortization
    # to bite on a WIDE pool too — with a fixed small wave, the wide
    # side ran one group per task while the narrow side got 3-4
    # groups/task, an asymmetry that showed up directly as compact-
    # phase scaling loss (0.50 measured; wave barriers also idle more
    # cores the wider the pool). Checkpoint granularity is still per
    # group; a crash loses at most one (bigger) wave's progress.
    par = spark.sparkContext.defaultParallelism
    if wave_size is None:
        # interleaved A/B (min-of-3, 68 groups, 12 M turns): 80-group
        # waves beat 32-group waves at BOTH 2 cores (14.35 vs 15.43 s)
        # and 8 cores (4.72 vs 5.74 s) — fewer barriers, and the rdd
        # runner's 5-slices-per-core bundling needs a big enough wave
        # to amortize the ~150 ms/task dispatch floor on wide pools
        wave_size = max(80, par * 10)
    on_wave = None
    if partial_progress:
        n_waves = max(1, math.ceil(len(todo) / wave_size))
        # leave room for the final commit inside the cap
        commit_every = max(1, math.ceil(n_waves / max(1, partial_max_commits - 1)))
        waves_seen = 0
        recs_acc: dict[int, dict] = {}

        def on_wave(wave_recs):
            nonlocal waves_seen
            waves_seen += 1
            for r in wave_recs:
                recs_acc[r["group_id"]] = r
            if (waves_seen % commit_every == 0
                    and len(partial_sids) < partial_max_commits - 1):
                _commit_pending(recs_acc, partial=True)

    phase = _run_arrow(spark, table, todo, base_snapshot, stat_columns, ckpt,
                       wave_size=wave_size,
                       fail_after_groups=fail_after_groups, codec=codec,
                       field_spec=field_spec, run_token=run_token,
                       group_seq=group_seq, group_part=group_part,
                       on_wave=on_wave, ren_by_path=ren_by_path,
                       sv_plan=sv_plan)
    metrics["phase"] = phase
    t_rewrite_done = monotonic()

    done = ckpt.done()
    _commit_pending({g.group_id: done[g.group_id] for g in groups}, partial=False)
    ckpt.clear()
    added = [
        DataFileEntry.from_dict(d)
        for g in groups
        if g.group_id not in dropped_gids  # rebase-dropped (see _commit_pending)
        for d in done[g.group_id]["outputs"]
    ]
    metrics.update(
        {
            "output_files": len(added),
            "rewritten_bytes": sum(e.bytes for e in added),
            "rewritten_rows": sum(e.rows for e in added),
            "resumed_groups": len(groups) - len(todo),
            "rewrite_sec": round(t_rewrite_done - t_plan_done, 2),
            "commit_sec": round(monotonic() - t_rewrite_done, 2),
        }
    )
    if partial_progress:
        metrics["partial_commits"] = len(partial_sids)
        metrics["partial_snapshot_ids"] = partial_sids
    return metrics
