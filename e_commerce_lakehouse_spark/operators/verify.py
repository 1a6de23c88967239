"""Table doctor: verify metadata ↔ data-file integrity.

The reference has no integrity checker at all — a lost S3 object or a
partial write surfaces as a runtime failure in whatever job reads it
next. Here `verify_table` audits the CURRENT snapshot (or a pinned one)
against the filesystem using footers only (no data pages):

- every manifest entry's file exists, with matching byte size;
- footer row count and min/max stats match the manifest's (a mismatch
  means the manifest lies to the planner — file skipping could silently
  drop rows);
- live merge-on-read tombstone files exist;
- CHECK constraints parse against the current schema (a drifted
  constraint poisons every write);
- orphan files on disk referenced by NO retained snapshot (report-only;
  expire_snapshots GC owns deletion).

Footer re-reads are distributed over executors above the same threshold
stats collection uses; at 100 TB this is an O(files) metadata sweep,
~1k files/s/core, no data pages read.
"""

from __future__ import annotations

import os

from ..schema import TRANSCRIPTS_STAT_COLUMNS
from ..table.meta import Table


def verify_table(
    table: Table,
    snapshot_id: int | None = None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
    spark=None,
    check_blooms: bool = False,
) -> dict:
    """Audit a snapshot's integrity. Returns {"ok": bool, "issues": [...],
    plus per-category counts}; never raises on findings (callers decide)."""
    from ..table.stats import collect_entries

    sid = snapshot_id if snapshot_id is not None else table.current_snapshot_id()
    issues: list[dict] = []
    entries = table.entries(sid)

    missing, size_mismatch = [], []
    present = []
    for e in entries:
        p = os.path.join(table.root, e.path)
        if not os.path.exists(p):
            missing.append(e.path)
            issues.append({"kind": "missing-file", "path": e.path})
        elif os.path.getsize(p) != e.bytes:
            size_mismatch.append(e.path)
            issues.append({"kind": "size-mismatch", "path": e.path,
                           "manifest_bytes": e.bytes, "disk_bytes": os.path.getsize(p)})
        else:
            present.append(e)

    # footer re-read: rows + stats must reproduce the manifest exactly.
    # An unreadable footer (bit rot, partial overwrite preserving length)
    # is a FINDING, not a crash: fall back to per-file reads and report
    # each failure as its own issue (review finding — the file class this
    # audit most needs to flag must not abort it).
    stat_mismatch = []
    unreadable = []
    by_path = {}
    if present:
        try:
            fresh = collect_entries(
                [os.path.join(table.root, e.path) for e in present],
                table.root, tuple(stat_columns), spark=spark,
            )
            by_path = {e.path: e for e in fresh}
        except Exception:
            from ..table.stats import file_entry

            for e in present:
                try:
                    f = file_entry(os.path.join(table.root, e.path), table.root,
                                   tuple(stat_columns))
                    by_path[e.path] = f
                except Exception as exc:
                    unreadable.append(e.path)
                    issues.append({"kind": "unreadable-footer", "path": e.path,
                                   "error": str(exc)[:200]})
        for e in present:
            f = by_path.get(e.path)
            if f is None:
                continue
            if f.rows != e.rows:
                stat_mismatch.append(e.path)
                issues.append({"kind": "rowcount-mismatch", "path": e.path,
                               "manifest_rows": e.rows, "footer_rows": f.rows})
            else:
                for col, rng in e.stats.items():
                    if col in f.stats and list(f.stats[col]) != list(rng):
                        stat_mismatch.append(e.path)
                        issues.append({"kind": "stat-mismatch", "path": e.path,
                                       "column": col, "manifest": rng,
                                       "footer": f.stats[col]})
                        break

    # bloom-index audit (OPT-IN: unlike everything above this reads the
    # indexed column's data pages, one column per bloom-carrying file):
    # every distinct value in the file must probe True — a false negative
    # means point scans silently drop rows — and the recorded ndv must
    # match the file's
    bloom_bad = []
    if check_blooms:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from .._bloom import bloom_contains

        for e in present:
            for col, b in (e.blooms or {}).items():
                try:
                    pf = pq.ParquetFile(os.path.join(table.root, e.path))
                    raw = pc.unique(pf.read(columns=[col]).column(col)).to_pylist()
                except Exception:
                    continue  # missing column: schema evolution, not a bloom fault
                vals = {str(v) for v in raw if v is not None}
                fn = sum(1 for v in vals if not bloom_contains(b, v))
                if fn or b.get("ndv") != len(vals):
                    bloom_bad.append(e.path)
                    issues.append({"kind": "bloom-mismatch", "path": e.path,
                                   "column": col, "false_negatives": fn,
                                   "manifest_ndv": b.get("ndv"),
                                   "file_ndv": len(vals)})

    # live MoR tombstones must exist
    for tpath in table.tombstones(sid):
        if not os.path.exists(os.path.join(table.root, tpath)):
            issues.append({"kind": "missing-tombstone", "path": tpath})

    # constraints must parse against the current schema (spark needed)
    bad_constraints = []
    if spark is not None and table.constraints():
        from ..table.scan import resolve_schema

        schema = resolve_schema(table)
        empty = spark.createDataFrame([], schema)
        from pyspark.sql import functions as F

        for name, pred in table.constraints().items():
            try:
                empty.where(F.expr(pred)).schema
            except Exception as exc:
                bad_constraints.append(name)
                issues.append({"kind": "unresolvable-constraint", "name": name,
                               "predicate": pred, "error": str(exc)[:200]})

    # orphans: on disk, referenced by NO retained snapshot (report-only)
    referenced: set[str] = set()
    for s in table.snapshot_ids():
        snap = table.snapshot(s)
        referenced.update(snap.tombstone_paths)
        for e in table.entries(s):
            referenced.add(e.path)
    orphans = []
    for dirpath, _dirs, files in os.walk(table.data_dir):
        for fn in files:
            rel = os.path.relpath(os.path.join(dirpath, fn), table.root)
            if rel not in referenced:
                orphans.append(rel)

    return {
        "snapshot": sid,
        "ok": not issues,
        "files_checked": len(entries),
        "missing_files": len(missing),
        "size_mismatches": len(size_mismatch),
        "unreadable_footers": len(unreadable),
        "stat_mismatches": len(stat_mismatch),
        "unresolvable_constraints": len(bad_constraints),
        "bloom_mismatches": len(bloom_bad),
        "orphan_files": len(orphans),  # informational: GC's job, not an error
        "issues": issues[:100],
    }
