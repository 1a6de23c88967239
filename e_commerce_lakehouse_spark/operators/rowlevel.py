"""Row-level DELETE WHERE / UPDATE SET — copy-on-write, O(touched files).

The reference expresses row-level change only as full-table Delta MERGE
(`/root/reference/src/glue_jobs/orders_etl.py:179-188`); Delta Lake's own
DELETE/UPDATE are the public model for the physical plan here (find the
files that contain matching rows, rewrite only those). Spark-first:

1. FIND-TOUCHED: one predicate-filtered scan over the current snapshot's
   files tagged with ``input_file_name()``, collecting the DISTINCT file
   set (file-count-sized, driver-safe). Parquet predicate pushdown +
   row-group stats prune this scan, so on a 100 TB table it reads only
   stat-overlapping row groups — and the rewrite then touches only files
   that PROVABLY contain matching rows (stat overlap alone would rewrite
   false positives).
2. REWRITE: read the touched files once; DELETE keeps ``NOT predicate``
   rows; UPDATE maps matching rows through the SET expressions (built-in
   column expressions — whole-stage codegen, no Python in the row path).
3. COMMIT one atomic snapshot (removed = touched, added = rewrites).
   Zero-row outputs are dropped from the manifest, so deleting every row
   of a file shrinks the table instead of committing empty files.

Untouched files are never read twice, never rewritten, and keep their
manifest stats — a 0.01 % deletion on a 100 TB table is a ~0.01 % job.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from time import monotonic

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS_STAT_COLUMNS
from ..table.meta import Table
from ..table.stats import collect_entries, list_parquet_files
from ..table.writer import DEFAULT_TARGET_FILE_BYTES


def _as_column(predicate) -> Column:
    return F.expr(predicate) if isinstance(predicate, str) else predicate


def _touched_by_predicate(
    spark: SparkSession, table: Table, predicate: Column, schema
) -> dict[str, int]:
    """Current files containing >=1 matching (pred=TRUE) row, with the
    per-file matched-row count — the same single scan that used to return
    paths only. The count lets DELETE classify a file as FULLY matched
    (count == manifest rows → droppable metadata-only, no rewrite) vs
    partially matched (rewrite input)."""
    entries = table.entries()
    if not entries:
        return {}
    from ..table.scan import read_entries

    # vintage-aware read: the predicate references CURRENT column names;
    # pre-rename files must resolve them by field id (input_file_name()
    # still attributes rows per leaf scan inside the union)
    hits = (
        read_entries(spark, table, entries, schema)
        .where(predicate)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    root_uri = "file://" + table.root + "/"
    out: dict[str, int] = {}
    for r in hits:
        f = r["f"]
        for prefix in (root_uri, "file:" + table.root + "/", table.root + "/"):
            if f.startswith(prefix):
                out[f[len(prefix):]] = r["n"]
                break
        else:  # unexpected URI shape: conservative (rewrite it anyway)
            out[os.path.relpath(f.split("://", 1)[-1], table.root)] = r["n"]
    return out


def _rewrite_and_commit(
    spark: SparkSession,
    table: Table,
    touched: list[str],
    rewritten_df,
    operation: str,
    target_bytes: int,
    stat_columns,
    extra_summary: dict,
    t0: float,
    clear_tombstones: bool = False,
    expected_tombstones: list[str] | None = None,
    extra_removed: list[str] | None = None,
) -> dict:
    """``extra_removed``: paths removed WITHOUT contributing rewrite input
    (whole-file drops) — excluded from output sizing, included in the
    commit's removed set (and its snapshot-isolation guard)."""
    entries_by_path = {e.path: e for e in table.entries()}
    touched_bytes = sum(entries_by_path[p].bytes for p in touched)
    # collision-free like append-{uuid}: two writers planning from the same
    # snapshot must never share an output dir — a deterministic name plus
    # rmtree let the loser delete the winner's already-COMMITTED files
    # before its own commit was (correctly) rejected (review finding).
    # A crashed attempt's dir becomes an orphan for expire's GC.
    subdir = f"{operation}-{table.current_snapshot_id():08d}-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(table.data_dir, subdir)
    n_out = max(1, math.ceil(touched_bytes / target_bytes))
    from ..table.writer import write_rewrite_files

    added = write_rewrite_files(spark, table, rewritten_df, n_out, out_dir,
                                stat_columns)
    live = [e for e in added if e.rows > 0]
    for e in added:
        if e.rows == 0:
            os.remove(os.path.join(table.root, e.path))
    snap = table.commit_rewrite(
        list(touched) + list(extra_removed or []),
        live,
        operation=operation,
        summary={"op": operation, "touched_files": len(touched), "added_files": len(live),
                 **extra_summary},
        clear_tombstones=clear_tombstones,
        expected_tombstones=expected_tombstones,
    )
    return {
        "committed_snapshot": snap.snapshot_id,
        "touched_files": len(touched) + len(extra_removed or []),
        "total_files": len(entries_by_path),
        "added_files": len(live),
        "wall_ms": int((monotonic() - t0) * 1000),
    }


DEFAULT_DELETE_KEYS = ("conv_id", "turn_idx")


def delete_where(
    spark: SparkSession,
    table: Table,
    predicate,
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    mode: str = "copy-on-write",
    keys=None,
) -> dict:
    """DELETE FROM table WHERE predicate, as an atomic snapshot.

    ``predicate`` is a SQL string or a Column. Returns a metrics dict; a
    predicate matching nothing is a no-op (no new snapshot).

    ``mode="copy-on-write"`` (default): rewrite the touched files minus
    matching rows — read-optimized, write cost O(touched bytes).
    ``mode="merge-on-read"``: write only a KEY-tombstone parquet (columns
    = ``keys``, default (conv_id, turn_idx)) and commit metadata — write
    cost O(matching keys), the fast path for a small delete on a 100 TB
    table. Scans anti-join live tombstones; ``materialize_deletes``
    folds them back into files. Key-based tombstones survive compaction/
    clustering rewrites; MERGE/UPDATE/cow-DELETE auto-materialize first
    so an upsert can never resurrect-then-lose a key."""
    from ..table.scan import resolve_schema

    t0 = monotonic()
    if table.current_snapshot_id() is None:
        raise ValueError("cannot delete from an empty table")
    schema = resolve_schema(table, schema=schema)
    pred = _as_column(predicate)

    if mode == "merge-on-read":
        return _delete_merge_on_read(spark, table, pred, schema, keys, t0)
    if mode != "copy-on-write":
        raise ValueError(f"unknown delete mode: {mode!r}")
    materialize_deletes(spark, table, target_bytes=target_bytes, schema=schema,
                        stat_columns=stat_columns)
    matched = _touched_by_predicate(spark, table, pred, schema)
    if not matched:
        return {"committed_snapshot": None, "touched_files": 0,
                "total_files": len(table.entries()), "added_files": 0,
                "dropped_files": 0,
                "wall_ms": int((monotonic() - t0) * 1000)}
    # Whole-file drop fast path: a file whose matched (pred=TRUE) count
    # equals its manifest row count loses EVERY row — remove it from the
    # snapshot with no rewrite. For partition-aligned deletes (archive
    # everything before day D on a day(ts)-partitioned table) this makes
    # DELETE near metadata-only: write cost is O(boundary files), not
    # O(touched bytes). Safe here because materialize_deletes just ran
    # (no live tombstones can hide rows) and the matched count came from
    # actually evaluating the predicate, not from stats.
    rows_by_path = {e.path: e.rows for e in table.entries()}
    full = sorted(p for p, n in matched.items() if n == rows_by_path.get(p))
    partial = sorted(p for p in matched if p not in set(full))
    if not partial:
        snap = table.commit_rewrite(
            full, [], operation="delete",
            summary={"op": "delete", "touched_files": len(full),
                     "added_files": 0, "metadata_only": True},
            expected_tombstones=[],
        )
        return {"committed_snapshot": snap.snapshot_id,
                "touched_files": len(full), "total_files": len(rows_by_path),
                "added_files": 0, "dropped_files": len(full),
                "wall_ms": int((monotonic() - t0) * 1000)}
    ents_by_path = {e.path: e for e in table.entries()}
    from ..table.scan import read_entries

    # SQL DELETE semantics: only pred=TRUE rows are deleted; a NULL
    # predicate KEEPS the row. A bare ~pred would silently drop
    # NULL-predicate rows (~NULL is NULL, filtered out) — found in review;
    # the MoR path and UPDATE already had this right.
    kept = read_entries(
        spark, table, [ents_by_path[p] for p in partial], schema
    ).where(~F.coalesce(pred, F.lit(False)))
    # expected_tombstones=[]: this rewrite planned right after its own
    # materialize (empty tombstone list); a concurrent MoR delete landing
    # before our commit must CONFLICT — freshly-stamped outputs would be
    # exempt from it and resurrect its rows (review finding)
    out = _rewrite_and_commit(
        spark, table, partial, kept, "delete", target_bytes, stat_columns,
        {"dropped_files": len(full)}, t0,
        expected_tombstones=[], extra_removed=full,
    )
    out["dropped_files"] = len(full)
    return out


def _validate_mor_keys(table, schema, keys) -> list[str]:
    names = [f.name for f in schema.fields]
    keys = list(keys) if keys else [k for k in DEFAULT_DELETE_KEYS if k in names]
    if not keys:
        raise ValueError(
            "merge-on-read delete needs key columns (pass keys=...); none of "
            f"{DEFAULT_DELETE_KEYS} exist in the schema"
        )
    missing = sorted(set(keys) - set(names))
    if missing:
        raise ValueError(f"delete keys not in schema: {missing}")
    # stacked tombstones must share ONE key set: scan anti-joins the
    # UNION of all live tombstone files on the union of their columns, so
    # a narrower-keyed earlier tombstone would read NULL in the extra key
    # columns and match nothing — silently un-deleting its rows (review
    # finding). Refuse the mix; materialize first to change key sets.
    live = table.tombstones()
    if live:
        import pyarrow.parquet as pq

        existing_keys = sorted(
            pq.read_schema(os.path.join(table.root, live[0])).names
        )
        if existing_keys != sorted(keys):
            raise ValueError(
                f"live merge-on-read tombstones use keys {existing_keys} but this "
                f"delete uses {sorted(keys)}; run materialize_deletes first, or "
                f"use the same key set"
            )
    return keys


def delete_by_keys(
    spark: SparkSession,
    table: Table,
    keys_df,
    keys=None,
    schema=None,
) -> dict:
    """Merge-on-read DELETE of an explicit key set: ``keys_df`` is a
    DataFrame whose rows are the keys to kill (the CDC-apply and
    reverse-ETL shape — the keys arrive as data, not as a predicate).
    Write cost O(keys): one distinct-projection of the batch becomes a
    tombstone parquet; no target file is read or rewritten. The key
    frame is written DISTRIBUTED — nothing collects to the driver, so a
    100 M-key purge is the same plan as a 100-key one."""
    from ..table.scan import resolve_schema

    t0 = monotonic()
    if table.current_snapshot_id() is None:
        raise ValueError("cannot delete from an empty table")
    schema = resolve_schema(table, schema=schema)
    keys = _validate_mor_keys(table, schema, keys)
    missing = sorted(set(keys) - set(keys_df.columns))
    if missing:
        raise ValueError(f"keys_df is missing key columns: {missing}")
    types = {f.name: f.dataType for f in schema.fields}
    matched = keys_df.select(
        *[F.col(k).cast(types[k]).alias(k) for k in keys]
    ).dropDuplicates()
    return _commit_key_tombstones(spark, table, matched, keys, t0)


def _delete_merge_on_read(spark, table, pred, schema, keys, t0) -> dict:
    keys = _validate_mor_keys(table, schema, keys)
    # evaluate pred on the LOGICAL view (seq-aware scan): a raw file read
    # would match already-deleted rows — harmless under global key
    # tombstones, but with update-mor post-images live a pre-image match
    # would tombstone the key and kill the CURRENT row that no longer
    # matches the predicate
    from ..table.scan import scan

    matched = (
        scan(spark, table, schema=schema).where(pred)
        .select(*keys).dropDuplicates()
    )
    return _commit_key_tombstones(spark, table, matched, keys, t0)


def _commit_key_tombstones(spark, table, matched, keys, t0) -> dict:
    """Write a distinct-key DataFrame as a MoR tombstone parquet and
    commit it. Shared by predicate deletes and delete_by_keys."""
    # uuid suffix: same collision-free rule as the rewrite dirs (two MoR
    # deletes planned from one snapshot must not share/clobber a dir)
    subdir = f"tombstone-{table.current_snapshot_id():08d}-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(table.data_dir, subdir)
    matched.coalesce(1).write.mode("error").parquet(out_dir)
    tomb_files = [
        os.path.relpath(os.path.join(out_dir, f), table.root)
        for f in sorted(os.listdir(out_dir))
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    n_keys = spark.read.parquet(out_dir).count()
    if n_keys == 0:
        shutil.rmtree(out_dir)
        return {"committed_snapshot": None, "mode": "merge-on-read",
                "tombstoned_keys": 0, "wall_ms": int((monotonic() - t0) * 1000)}
    snap = table.commit_tombstones(tomb_files, summary={"keys": keys,
                                                       "tombstoned_keys": n_keys})
    return {"committed_snapshot": snap.snapshot_id, "mode": "merge-on-read",
            "tombstoned_keys": n_keys, "tombstone_files": len(tomb_files),
            "live_tombstone_files": len(snap.tombstones),
            "wall_ms": int((monotonic() - t0) * 1000)}


def materialize_deletes(
    spark: SparkSession,
    table: Table,
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
) -> dict:
    """Fold accumulated merge-on-read tombstones into the data files: one
    copy-on-write rewrite of the STAT-OVERLAPPING files only (manifest
    range pruning on the first key, like MERGE), committed with the
    tombstone list cleared. SEQ-AWARE: each tombstone is applied only to
    files with a smaller data sequence number (so an update-mor's
    post-image files are rewritten only by LATER tombstones, never their
    own). The cleared tombstone files stay on disk for older pinned
    snapshots and fall to orphan GC once those expire.
    No-op (no commit) when no tombstones are live."""
    from ..table.scan import resolve_schema, tombstone_classes
    from .merge import _touched_paths

    t0 = monotonic()
    tomb_entries = table.tombstone_entries()
    tombs = [t["path"] for t in tomb_entries]
    if not tombs:
        return {"committed_snapshot": None, "noop": True, "wall_ms": 0}
    schema = resolve_schema(table, schema=schema)
    classes = tombstone_classes(table.entries(), tomb_entries)
    touched_all: list[str] = []
    kept_parts = []
    for ap in sorted(classes):
        if not ap:
            continue  # no tombstone applies to these files
        ents = classes[ap]
        tomb_df = spark.read.parquet(
            *[os.path.join(table.root, p) for p in ap]
        ).dropDuplicates()
        keys = list(tomb_df.columns)
        touched = _touched_paths(spark, table, tomb_df, keys[0], entries=ents)
        if not touched:
            continue
        from ..table.scan import read_entries

        by_path = {e.path: e for e in ents}
        kept_parts.append(
            read_entries(spark, table, [by_path[p] for p in touched], schema)
            .join(tomb_df, on=keys, how="left_anti")
        )
        touched_all.extend(touched)
    if not touched_all:
        snap = table.commit_rewrite([], [], operation="materialize-deletes",
                                    summary={"applied_tombstone_files": len(tombs)},
                                    clear_tombstones=True,
                                    expected_tombstones=tombs)
        return {"committed_snapshot": snap.snapshot_id, "touched_files": 0,
                "applied_tombstone_files": len(tombs),
                "wall_ms": int((monotonic() - t0) * 1000)}
    kept = kept_parts[0]
    for p in kept_parts[1:]:
        kept = kept.unionByName(p)
    out = _rewrite_and_commit(
        spark, table, touched_all, kept, "materialize-deletes", target_bytes,
        stat_columns, {"applied_tombstone_files": len(tombs)}, t0,
        clear_tombstones=True, expected_tombstones=tombs,
    )
    out["applied_tombstone_files"] = len(tombs)
    return out


def update_where(
    spark: SparkSession,
    table: Table,
    predicate,
    assignments: dict,
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    mode: str = "copy-on-write",
    keys=None,
) -> dict:
    """UPDATE table SET col = expr, ... WHERE predicate.

    ``assignments`` maps existing column name -> SQL string or Column.
    Assigning to a column absent from the table schema raises (UPDATE
    never evolves the schema; use operators/schema_evolution for that).

    ``mode="copy-on-write"`` (default): rewrite the touched files with
    the SET expressions applied — read-optimized, write cost O(touched
    bytes).
    ``mode="merge-on-read"``: ONE snapshot commits a key tombstone for
    the matched rows plus a data file holding their post-images; the
    tombstone's sequence number exempts the post-image file (strict
    seq comparison), so scans see exactly the updated table. Write cost
    O(matched rows) — the 100 TB fast path for a small UPDATE (Iceberg
    v2 sequence-number semantics; reference analog whenMatchedUpdateAll,
    /root/reference/src/glue_jobs/orders_etl.py:182-187).

    Key-rewriting assignments are supported in BOTH modes: under
    merge-on-read the tombstone is keyed on the PRE-image identity and
    the post-images carry the new keys, so the rows move atomically.
    Like SQL UPDATE, key uniqueness is not enforced — rewriting onto an
    unmatched row's key leaves two rows with that key."""
    from ..table.scan import resolve_schema

    t0 = monotonic()
    if table.current_snapshot_id() is None:
        raise ValueError("cannot update an empty table")
    schema = resolve_schema(table, schema=schema)
    names = [f.name for f in schema.fields]
    unknown = sorted(set(assignments) - set(names))
    if unknown:
        raise ValueError(f"UPDATE assigns to non-existent column(s): {unknown}")
    pred = _as_column(predicate)
    if mode == "merge-on-read":
        return _update_merge_on_read(
            spark, table, pred, assignments, schema, names, keys, stat_columns, t0
        )
    if mode != "copy-on-write":
        raise ValueError(f"unknown update mode: {mode!r}")
    # pending MoR tombstones must be applied first: updating a file that
    # still contains tombstoned rows would otherwise rewrite (and via the
    # cleared-key path potentially resurrect) deleted rows
    materialize_deletes(spark, table, target_bytes=target_bytes, schema=schema,
                        stat_columns=stat_columns)
    touched = sorted(_touched_by_predicate(spark, table, pred, schema))
    if not touched:
        return {"committed_snapshot": None, "touched_files": 0,
                "total_files": len(table.entries()), "added_files": 0,
                "wall_ms": int((monotonic() - t0) * 1000)}
    from ..table.scan import read_entries

    ents_by_path = {e.path: e for e in table.entries()}
    src = read_entries(spark, table, [ents_by_path[p] for p in touched], schema)
    from .constraints import enforce_constraints

    projected = src.select(
        *[
            (
                F.when(pred, _as_column(assignments[c]).cast(schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in names
        ]
    )
    # SET expressions can break table invariants: enforce on the post-
    # assignment rows before any file is written (O(touched), not O(table))
    projected = enforce_constraints(projected, table, context="update")
    # expected_tombstones=[]: same race guard as cow delete (see above)
    return _rewrite_and_commit(
        spark, table, touched, projected, "update", target_bytes, stat_columns,
        {"set_columns": sorted(assignments)}, t0, expected_tombstones=[],
    )


def _update_merge_on_read(
    spark, table, pred, assignments, schema, names, keys, stat_columns, t0
) -> dict:
    """See update_where(mode="merge-on-read"). One atomic snapshot:
    key tombstone (kills every older copy of the matched keys) + the
    post-image data file (seq-exempt from that tombstone)."""
    from ..table.scan import scan
    from .constraints import enforce_constraints

    keys = list(keys) if keys else [k for k in DEFAULT_DELETE_KEYS if k in names]
    if not keys:
        raise ValueError(
            "merge-on-read update needs key columns (pass keys=...); none of "
            f"{DEFAULT_DELETE_KEYS} exist in the schema"
        )
    missing = sorted(set(keys) - set(names))
    if missing:
        raise ValueError(f"update keys not in schema: {missing}")
    # key-rewriting UPDATE (round 5, closes README's declared gap): when
    # an assignment targets a key column, the tombstone is derived from
    # the PRE-image keys of the matched rows (kills every older copy of
    # the old identity) while the post-image file carries the NEW keys —
    # exempt from the tombstone by its sequence number, so one atomic
    # snapshot moves the rows. Like SQL UPDATE (and Iceberg's), key
    # uniqueness is not enforced: rewriting a key onto an existing
    # unmatched row's key yields two rows with that key.
    key_rewrites = sorted(set(keys) & set(assignments))
    # stacked tombstones must share ONE key set (same rule as MoR delete:
    # scan anti-joins the union of a class's tombstone files on the union
    # of their columns — a narrower earlier key set would read NULLs and
    # silently un-delete)
    live = table.tombstones()
    if live:
        import pyarrow.parquet as pq

        existing_keys = sorted(pq.read_schema(os.path.join(table.root, live[0])).names)
        if existing_keys != sorted(keys):
            raise ValueError(
                f"live merge-on-read tombstones use keys {existing_keys} but this "
                f"update uses {sorted(keys)}; run materialize_deletes first, or "
                f"use the same key set"
            )
    # matched rows through the LOGICAL view (seq-aware scan applies any
    # live tombstones), so the post-image never resurrects deleted rows
    matched = scan(spark, table, schema=schema).where(pred)
    post = matched.select(
        *[
            (
                F.when(pred, _as_column(assignments[c]).cast(schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in names
        ]
    )
    post = enforce_constraints(post, table, context="update")
    sid = table.current_snapshot_id()
    token = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table.data_dir, f"updatemor-{sid:08d}-{token}")
    tomb_dir = os.path.join(table.data_dir, f"tombstone-{sid:08d}-{token}")
    post.coalesce(1).write.mode("error").parquet(data_dir)
    all_out = collect_entries(list_parquet_files(data_dir), table.root,
                              stat_columns, spark=spark,
                              bloom_spec=table.bloom_spec())
    added = [e for e in all_out if e.rows > 0]
    n_rows = sum(e.rows for e in added)
    if n_rows == 0:
        shutil.rmtree(data_dir, ignore_errors=True)
        return {"committed_snapshot": None, "mode": "merge-on-read",
                "updated_rows": 0, "wall_ms": int((monotonic() - t0) * 1000)}
    for e in all_out:
        if e.rows == 0:
            os.remove(os.path.join(table.root, e.path))
    if key_rewrites:
        # tombstone = PRE-image keys (from the logical matched set, which
        # is deterministic: read_entries pins explicit file paths and cow
        # leaves bytes on disk, so the lazy re-run reads the same data)
        tomb_src = matched.select(*keys).dropDuplicates()
    else:
        # pre-image keys == post-image keys: derive from the WRITTEN
        # post-image file so the tombstone exactly matches the commit
        tomb_src = spark.read.schema(schema).parquet(
            *[os.path.join(table.root, e.path) for e in added]
        ).select(*keys).dropDuplicates()
    tomb_src.coalesce(1).write.mode("error").parquet(tomb_dir)
    tomb_files = [
        os.path.relpath(os.path.join(tomb_dir, f), table.root)
        for f in sorted(os.listdir(tomb_dir))
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    snap = table.commit_upsert_mor(
        added, tomb_files,
        summary={"keys": keys, "set_columns": sorted(assignments),
                 "updated_rows": n_rows,
                 **({"key_rewrites": key_rewrites} if key_rewrites else {})},
        # the scan above planned under `live`; a concurrent MoR delete
        # landing since must conflict, not be resurrected (review finding)
        expected_tombstones=live,
    )
    return {"committed_snapshot": snap.snapshot_id, "mode": "merge-on-read",
            "updated_rows": n_rows, "added_files": len(added),
            "tombstone_files": len(tomb_files),
            "live_tombstone_files": len(snap.tombstones),
            "wall_ms": int((monotonic() - t0) * 1000)}
