"""Pure-pyarrow parquet footer stats — IMPORT-LIGHT ON PURPOSE.

This module is imported inside executor-side tasks (compaction's Arrow
wave, distributed stat collection). It must not drag in pyspark: the
package __init__ and this file import only stdlib + pyarrow, so a fresh
Python worker loads it in milliseconds instead of paying the multi-second
pyspark import per worker.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Iterable

import pyarrow.parquet as pq


def norm_stat(v):
    """Normalize a parquet stat value to a JSON total-orderable scalar."""
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # exact integer micros: float total_seconds()*1e6 truncates by 1µs
        # at epoch-scale magnitudes, which could wrongly prune a file whose
        # max stat lands exactly on a query boundary
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def file_stats_dict(
    abs_path: str,
    root: str,
    stat_columns: Iterable[str],
    bloom_spec: dict | None = None,
) -> dict:
    """DataFileEntry-shaped dict from one parquet footer (no data pages).

    ``bloom_spec`` ({col: {"fpp":..., "max_bits":...}}, from
    ``Table.bloom_spec()``) additionally reads EACH declared column's
    data pages (one column, not the file) and attaches a per-file bloom
    over its distinct values under ``"blooms"`` — the opt-in
    point-lookup skipping index (_bloom.py)."""
    pf = pq.ParquetFile(abs_path)
    md = pf.metadata
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    nulls: dict[str, int] = {}
    for col in stat_columns:
        ci = name_to_idx.get(col)
        if ci is None:
            continue
        mins, maxs = [], []
        nc, nc_ok = 0, True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mins, maxs = [], []
                nc_ok = False
                break
            mins.append(norm_stat(st.min))
            maxs.append(norm_stat(st.max))
            if st.null_count is None:
                nc_ok = False
            else:
                nc += int(st.null_count)
        if mins:
            stats[col] = [min(mins), max(maxs)]
        if nc_ok:
            # exact per-file null count: what lets metadata_count prove a
            # file FULLY satisfies a range predicate (min/max ignore
            # nulls, so containment alone cannot)
            nulls[col] = nc
    out = {
        "path": os.path.relpath(abs_path, root),
        "rows": md.num_rows,
        "bytes": os.path.getsize(abs_path),
        "stats": stats,
    }
    if nulls:
        out["nulls"] = nulls
    if bloom_spec:
        import pyarrow.compute as pc

        from ._bloom import build_bloom_from_values

        blooms = {
            col: build_bloom_from_values(
                pc.unique(pf.read(columns=[col]).column(col)).to_pylist(),
                params)
            for col, params in bloom_spec.items()
            if col in name_to_idx
        }
        if blooms:
            out["blooms"] = blooms
    return out
