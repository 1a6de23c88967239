"""Metadata-only aggregation: COUNT(*)/MIN/MAX answered from manifest
stats, reading only predicate-BOUNDARY files.

Iceberg and Delta both answer `SELECT count(*)` from snapshot metadata;
this generalizes that to predicated counts: a live file whose stat range
lies FULLY inside the predicate (and whose recorded null count for every
predicated column is zero — min/max ignore nulls, so containment alone
cannot prove membership) contributes its manifest row count without
being opened; files the planner prunes contribute zero; only files the
predicate RANGE-OVERLAPS are actually scanned, with the row filter
applied. At the 100 TB design point a time-slice count touches a handful
of boundary files instead of the table — cost O(manifest) + O(boundary
bytes).

Exactness rules (never approximate, never wrong):
- merge-on-read tombstones hide rows per KEY, which metadata cannot
  count — any live tombstone falls back to the full logical scan count
  (the caller sees ``fallback`` in the metrics);
- a file with no recorded null count for a predicated column (legacy
  vintage) is demoted to the boundary-read path;
- MIN/MAX over a column are exact from stats alone (SQL MIN/MAX ignore
  nulls, exactly like parquet stats); files lacking the stat are read.

The reference recomputes such counts with full Athena scans
(`/root/reference/src/glue_jobs/orders_etl.py` writes; dashboards
re-aggregate) — here they are metadata reads.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..table.meta import Table
from ..table.scan import (
    _ts_to_micros,
    planned_entries,
    read_entries,
    resolve_schema,
)


def _full_range(e, col: str, lo, hi) -> bool:
    """File PROVABLY lies fully inside [lo, hi] on ``col``: stat range
    contained AND zero nulls recorded (unknown nulls -> not provable)."""
    rng = e.stats.get(col)
    if rng is None:
        return False
    if (e.nulls or {}).get(col) != 0:
        return False
    mn, mx = rng
    try:
        if lo is not None and not (mn >= lo):
            return False
        if hi is not None and not (mx <= hi):
            return False
    except TypeError:
        # stat/predicate type mismatch: not provable — boundary path
        # (same conservative rule as prune_entries._overlaps)
        return False
    return True


def metadata_count(
    spark: SparkSession,
    table: Table,
    conv_id: str | None = None,
    conv_id_range: tuple | None = None,
    ts_range: tuple | None = None,
    eq: dict | None = None,
    snapshot_id: int | None = None,
) -> dict:
    """Exact COUNT(*) under the scan predicates, metadata-first.

    Returns ``{"count", "files_total", "files_pruned", "files_metadata",
    "files_scanned", "fallback"}`` — the file attribution is the point:
    on a well-clustered table, files_scanned is the boundary only."""
    entries = table.entries(snapshot_id)
    metrics = {
        "files_total": len(entries),
        "files_pruned": 0,
        "files_metadata": 0,
        "files_scanned": 0,
        "fallback": None,
    }
    if table.tombstone_entries(snapshot_id):
        # MoR tombstones hide rows per key — not countable from stats
        from ..table.scan import scan

        df = scan(spark, table, snapshot_id=snapshot_id, conv_id=conv_id,
                  conv_id_range=conv_id_range, ts_range=ts_range, eq=eq)
        metrics["fallback"] = "tombstones"
        # attribution stays honest: the fallback scan still prunes
        survivors = planned_entries(table, snapshot_id, conv_id,
                                    conv_id_range, ts_range, eq=eq)
        metrics["files_scanned"] = len(survivors)
        metrics["files_pruned"] = len(entries) - len(survivors)
        metrics["count"] = df.count()
        return metrics

    survivors = planned_entries(table, snapshot_id, conv_id, conv_id_range,
                                ts_range, eq=eq)
    metrics["files_pruned"] = len(entries) - len(survivors)

    preds: list[tuple[str, object, object]] = []  # (col, lo, hi)
    if conv_id is not None:
        preds.append(("conv_id", conv_id, conv_id))
    elif conv_id_range is not None:
        preds.append(("conv_id", conv_id_range[0], conv_id_range[1]))
    if ts_range is not None:
        lo, hi = ts_range
        preds.append(("ts",
                      _ts_to_micros(lo) if lo is not None else None,
                      _ts_to_micros(hi) if hi is not None else None))
    for col, v in (eq or {}).items():
        preds.append((col, v, v))

    count = 0
    boundary = []
    for e in survivors:
        if all(_full_range(e, col, lo, hi) for col, lo, hi in preds):
            count += e.rows
            metrics["files_metadata"] += 1
        else:
            boundary.append(e)
    if boundary:
        from ..table.scan import apply_row_predicates

        schema = resolve_schema(table, snapshot_id)
        df = read_entries(spark, table, boundary, schema, snapshot_id)
        df = apply_row_predicates(df, conv_id, conv_id_range, ts_range, eq)
        count += df.count()
        metrics["files_scanned"] = len(boundary)
    metrics["count"] = count
    return metrics


def metadata_min_max(
    spark: SparkSession,
    table: Table,
    col: str,
    snapshot_id: int | None = None,
) -> dict:
    """Exact table-wide MIN/MAX of a stat-tracked column from manifest
    stats (SQL MIN/MAX ignore nulls, exactly like parquet stats); files
    without the stat (legacy vintage / all-null files are statless and
    contribute nothing... all-null files ARE statless, which is also
    correct) are read. MoR tombstones force the scan fallback."""
    entries = table.entries(snapshot_id)
    metrics = {"files_total": len(entries), "files_scanned": 0,
               "fallback": None}
    if table.tombstone_entries(snapshot_id):
        from ..table.scan import scan

        df = scan(spark, table, snapshot_id=snapshot_id)
        row = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
        metrics.update(fallback="tombstones", files_scanned=len(entries),
                       min=row["mn"], max=row["mx"])
        return metrics
    have = [e for e in entries if col in e.stats]
    missing = [e for e in entries if col not in e.stats and e.rows > 0]
    versions = table.schema_versions()
    if missing and versions:
        # skip vintages whose write schema cannot CONTAIN the column —
        # matched by FIELD ID, not name (a renamed column lives in old
        # vintages under its old name and must still be read): such
        # files contribute only typed NULLs, which MIN/MAX ignore
        from ..table.fieldids import legacy_version_number, version_field_maps

        maps = version_field_maps(versions)
        legacy = legacy_version_number(versions)
        read_ver = table.schema_version_at(snapshot_id) or 1
        fid = maps[read_ver - 1].get(col)
        if fid is not None:
            missing = [
                e for e in missing
                if fid in maps[(e.sv if e.sv is not None else legacy) - 1].values()
            ]
    mn = min((e.stats[col][0] for e in have), default=None)
    mx = max((e.stats[col][1] for e in have), default=None)
    if missing:
        schema = resolve_schema(table, snapshot_id)
        df = read_entries(spark, table, missing, schema, snapshot_id)
        row = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
        vals_mn = [v for v in (mn, _norm_like_stats(row["mn"])) if v is not None]
        vals_mx = [v for v in (mx, _norm_like_stats(row["mx"])) if v is not None]
        mn = min(vals_mn, default=None)
        mx = max(vals_mx, default=None)
        metrics["files_scanned"] = len(missing)
    metrics.update(min=mn, max=mx)
    return metrics


def _norm_like_stats(v):
    """Normalize a scanned value the way manifest stats are stored
    (timestamps -> epoch micros) so min/max comparisons stay typed."""
    from .._footer_stats import norm_stat

    return None if v is None else norm_stat(v)


def retention_delete(
    spark: SparkSession,
    table: Table,
    before_ts,
    target_bytes: int = 128 * 1024 * 1024,
    stat_columns=("conv_id", "ts"),
) -> dict:
    """DELETE WHERE ts < ``before_ts``, classified from manifest stats:
    files whose ENTIRE ts range (with zero recorded ts nulls — a
    NULL-ts row never matches ``ts <``, so it must be kept) lies below
    the cutoff are dropped METADATA-ONLY; only cutoff-BOUNDARY files are
    rewritten; everything newer is untouched. The cold-data retention
    path for an append-mostly transcript table: at 100 TB, expiring a
    month costs O(manifest) + a rewrite of the files straddling the
    boundary — delete_where would SCAN every file to classify it.

    Row semantics are exactly ``delete_where(ts < cutoff)`` (NULL ts
    kept). MoR tombstones are materialized first (same rule as every
    rewrite). One atomic snapshot; conflicts surface as
    CommitConflictError like any rewrite."""
    import uuid
    from time import monotonic

    from .rowlevel import materialize_deletes
    from ..table.writer import rewrite_sizing, write_files

    t0 = monotonic()
    schema = resolve_schema(table)
    sv_plan = table.write_schema_version()  # outputs' write version
    materialize_deletes(spark, table, target_bytes=target_bytes,
                        schema=schema, stat_columns=stat_columns)
    cutoff = _ts_to_micros(before_ts)
    entries = table.entries()
    drop, boundary = [], []
    for e in entries:
        rng = e.stats.get("ts")
        if rng is None:  # stat-less vintage: classify by reading
            boundary.append(e)
        elif rng[1] < cutoff and (e.nulls or {}).get("ts") == 0:
            drop.append(e)  # provably all rows match; NULL-free
        elif rng[0] < cutoff:
            boundary.append(e)  # straddles the cutoff (or has NULLs)
        # else: entirely >= cutoff — untouched
    metrics = {
        "files_total": len(entries),
        "files_dropped_metadata_only": len(drop),
        "files_rewritten": len(boundary),
        "files_untouched": len(entries) - len(drop) - len(boundary),
    }
    if not drop and not boundary:
        metrics.update(committed_snapshot=None,
                       wall_ms=int((monotonic() - t0) * 1000))
        return metrics
    added = []
    if boundary:
        kept = read_entries(spark, table, boundary, schema).where(
            ~F.coalesce(F.col("ts") < F.lit(before_ts), F.lit(False))
        )
        subdir = f"retention-{table.current_snapshot_id():08d}-{uuid.uuid4().hex[:12]}"
        n_out, per_file = rewrite_sizing(boundary, target_bytes)
        added = write_files(spark, table, kept.coalesce(n_out), None, subdir, stat_columns,
                            rows_per_file=per_file)
        for e in added:
            e.sv = sv_plan
    snap = table.commit_rewrite(
        [e.path for e in drop] + [e.path for e in boundary],
        added,
        operation="delete",
        summary={"op": "retention-delete",
                 "before_ts_micros": cutoff,
                 "dropped_files": len(drop),
                 "rewritten_files": len(boundary)},
        expected_tombstones=[],
    )
    metrics.update(committed_snapshot=snap.snapshot_id,
                   added_files=len(added),
                   wall_ms=int((monotonic() - t0) * 1000))
    return metrics
