"""Per-file min/max stats from Parquet footers.

Replaces object-store LIST + full scans (reference enumerates S3 keys and
counts every file: `/root/reference/src/glue_jobs/orders_etl.py:54-78`).
We read ONLY the Parquet footer metadata — no data pages — and aggregate
row-group stats into file-level [min, max] per stat column. These power
file skipping in table/scan.py and touched-file pruning in MERGE.

At cluster scale footer reads are distributed over executors
(``collect_entries`` with a SparkSession); driver-side is fine for small
file counts.
"""

from __future__ import annotations

import os
from typing import Iterable

from .._footer_stats import file_stats_dict
from .meta import DataFileEntry

# distribute footer reads above this many files (driver-side footer reads
# run ~1k files/sec; below that the executor round-trip costs more than it
# saves — at cluster scale manifests hold ~1e5+ entries and distribution wins)
_DISTRIBUTE_THRESHOLD = 512


def file_entry(
    abs_path: str,
    root: str,
    stat_columns: Iterable[str],
    bloom_spec: dict | None = None,
) -> DataFileEntry:
    """Build a DataFileEntry from one file's footer. Freshly collected
    entries are seq-UNSTAMPED (None): the commit that adds them assigns
    their data sequence number; rewrites that must preserve an older seq
    set it explicitly afterwards (from_dict's 0-default is for reading
    pre-seq manifests, not for new files)."""
    e = DataFileEntry.from_dict(
        file_stats_dict(abs_path, root, stat_columns, bloom_spec=bloom_spec)
    )
    e.seq = None
    return e


def collect_entries(
    abs_paths: list[str],
    root: str,
    stat_columns: Iterable[str],
    spark=None,
    bloom_spec: dict | None = None,
) -> list[DataFileEntry]:
    """Footer-stat collection; distributed over executors when the file
    count is large and a SparkSession is provided. ``bloom_spec``
    (Table.bloom_spec()) additionally builds the per-file bloom index —
    one extra column read per declared column, amortized into the same
    (distributed) pass."""
    stat_columns = tuple(stat_columns)
    if spark is not None and len(abs_paths) > _DISTRIBUTE_THRESHOLD:
        sc = spark.sparkContext
        n_slices = min(len(abs_paths), 64)

        def _part(paths):
            # import-light executor path: _footer_stats pulls no pyspark
            from e_commerce_lakehouse_spark._footer_stats import file_stats_dict

            return [
                file_stats_dict(p, root, stat_columns, bloom_spec=bloom_spec)
                for p in paths
            ]

        dicts = sc.parallelize(abs_paths, n_slices).mapPartitions(_part).collect()
        by_path = {}
        for d in dicts:
            e = DataFileEntry.from_dict(d)
            e.seq = None  # fresh collection: stamped at commit (see file_entry)
            by_path[d["path"]] = e
        # preserve caller ordering
        return [by_path[os.path.relpath(p, root)] for p in abs_paths]
    return [file_entry(p, root, stat_columns, bloom_spec=bloom_spec)
            for p in abs_paths]


def list_parquet_files(directory: str) -> list[str]:
    """Deterministically ordered parquet part files under a directory."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(directory):
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith("."):
                out.append(os.path.join(dirpath, fn))
    return sorted(out)
