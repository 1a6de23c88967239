"""Iceberg-style METADATA TABLES: the table's own metadata as queryable
DataFrames (``SELECT * FROM tbl__files WHERE bytes < ...``).

Iceberg exposes ``db.table.files`` / ``.snapshots`` / ``.partitions``;
Delta has ``DESCRIBE DETAIL`` / ``DESCRIBE HISTORY``. The reference has
no equivalent (its only introspection is the Glue console). Here each is
a driver-built DataFrame over manifest/snapshot metadata — O(metadata),
ZERO data-file reads, same planning inputs `--op inspect` prints as
JSON, but composable with SQL (find skewed partitions, bytes per
snapshot, small-file counts before a compact).

Scale note: entries are driver-resident BY DESIGN in this format (the
planner prunes driver-side; rewrite_manifests keeps manifest count
bounded), so a metadata table is a createDataFrame over what the driver
already holds — at 10^12 turns with ~128 MB files that is ~10^6 rows of
a few hundred bytes, well inside driver memory, and it parallelizes to
executors the moment you filter/aggregate it.

``Catalog.attach(..., metadata_views=True)`` registers ``{name}__files``
/ ``{name}__snapshots`` / ``{name}__partitions`` temp views next to each
table's data view (double-underscore: temp-view names cannot carry
Iceberg's dot or Delta's ``$``).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .meta import Table

_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("seq", T.LongType(), True),
        # partition values stringified: one stable schema for every
        # transform mix (day→int, bucket→int, identity→source type)
        T.StructField("partition", T.MapType(T.StringType(), T.StringType()), True),
        # per-column [min, max] as a JSON object — stats columns vary by
        # table, a fixed struct would not
        T.StructField("stats_json", T.StringType(), True),
    ]
)

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("operation", T.StringType(), False),
        T.StructField("timestamp_ms", T.LongType(), False),
        T.StructField("is_current", T.BooleanType(), False),
        T.StructField("orphan", T.BooleanType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), False),
        T.StructField("n_manifests", T.LongType(), False),
        T.StructField("n_removed_files", T.LongType(), False),
        T.StructField("n_tombstones", T.LongType(), False),
        T.StructField("summary_json", T.StringType(), True),
    ]
)

_PARTITIONS_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("min_seq", T.LongType(), True),
        T.StructField("max_seq", T.LongType(), True),
    ]
)


def _part_map(partition: dict | None) -> dict | None:
    if partition is None:
        return None
    return {k: str(v) for k, v in partition.items()}


_REFS_SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("type", T.StringType(), False),  # main | tag
    T.StructField("snapshot_id", T.LongType(), True),
    T.StructField("mutable", T.BooleanType(), False),
])

_MANIFESTS_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("position", T.IntegerType(), False),
    T.StructField("n_entries", T.LongType(), False),
    T.StructField("live_entries", T.LongType(), False),
    T.StructField("rows", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
])

_SCHEMAS_SCHEMA = T.StructType([
    T.StructField("version", T.IntegerType()),
    T.StructField("as_of_snapshot", T.LongType()),
    T.StructField("mapped", T.BooleanType()),
    T.StructField("columns", T.StringType()),
    T.StructField("field_ids", T.StringType()),
    T.StructField("change", T.StringType()),
])


def files_df(spark: SparkSession, table: Table, snapshot_id: int | None = None):
    """One row per LIVE data file of the (pinned or current) snapshot —
    the planner's exact inputs: size/rows for compaction planning, seq
    for tombstone applicability, partition tuple and min/max stats for
    pruning."""
    rows = [
        (
            e.path,
            e.rows,
            e.bytes,
            None if e.seq is None else int(e.seq),
            _part_map(e.partition),
            json.dumps(e.stats, sort_keys=True) if e.stats else None,
        )
        for e in table.entries(snapshot_id)
    ]
    return spark.createDataFrame(rows, _FILES_SCHEMA)


def snapshots_df(spark: SparkSession, table: Table):
    """The retained snapshot log (Iceberg ``.snapshots`` + ``.history``
    in one): chain position, crash orphans (``Table.history``), tags,
    commit shape."""
    rows = []
    for h in table.history():
        s = table.snapshot(h["snapshot_id"])
        rows.append(
            (
                h["snapshot_id"],
                h["parent_id"],
                h["operation"],
                h["timestamp_ms"],
                h["is_current"],
                h["orphan"],
                h["tags"],
                len(s.manifests),
                len(s.removed_files),
                len(s.tombstones),
                json.dumps(h["summary"], sort_keys=True) if h["summary"] else None,
            )
        )
    return spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def partitions_df(spark: SparkSession, table: Table, snapshot_id: int | None = None):
    """Per-partition rollup of the live files (Iceberg ``.partitions``):
    the first thing to read before a maintenance run — small-file counts
    and byte skew per partition, one NULL-partition row for tuple-less
    vintages."""
    agg: dict[str | None, list] = {}
    for e in table.entries(snapshot_id):
        pm = _part_map(e.partition)
        key = json.dumps(pm, sort_keys=True) if pm is not None else None
        cur = agg.setdefault(key, [pm, 0, 0, 0, None, None])
        cur[1] += 1
        cur[2] += e.rows
        cur[3] += e.bytes
        seq = 0 if e.seq is None else int(e.seq)
        cur[4] = seq if cur[4] is None else min(cur[4], seq)
        cur[5] = seq if cur[5] is None else max(cur[5], seq)
    rows = [tuple(v) for _, v in sorted(agg.items(), key=lambda kv: (kv[0] is None, kv[0]))]
    return spark.createDataFrame(rows, _PARTITIONS_SCHEMA)


def schemas_df(spark: SparkSession, table: Table,
               snapshot_id: int | None = None):
    """The schema-version history (Iceberg ``.metadata_log`` analog for
    shapes): one row per recorded version with its column list, field-id
    bindings (rename/widen resolve by these — table/fieldids.py), the
    snapshot it took effect at, and the evolution that created it (from
    that snapshot's summary). Empty for never-evolved tables."""
    from .fieldids import version_field_maps

    versions = table.schema_versions()
    maps = version_field_maps(versions)
    rows = []
    for v, m in zip(versions, maps):
        change = None
        if v["as_of_snapshot"]:
            try:
                change = json.dumps(
                    table.snapshot(v["as_of_snapshot"]).summary, sort_keys=True
                )
            except FileNotFoundError:
                pass  # evolution snapshot expired; the version remains
        rows.append(
            (
                int(v["version"]),
                int(v["as_of_snapshot"]),
                bool(v.get("mapped", False)),
                json.dumps(
                    [f'{f["name"]}:{f["type"]}' for f in v["schema"]["fields"]]
                ),
                json.dumps(m, sort_keys=True),
                change,
            )
        )
    return spark.createDataFrame(rows, _SCHEMAS_SCHEMA)


def refs_df(spark: SparkSession, table: Table,
            snapshot_id: int | None = None):
    """Every named ref (Iceberg ``.refs``): the main pointer and
    immutable tags (GC-pinned)."""
    rows = [("main", "main", table.current_snapshot_id(), True)]
    rows += [(n, "tag", int(s), False) for n, s in sorted(table.tags().items())]
    return spark.createDataFrame(rows, _REFS_SCHEMA)


def manifests_df(spark: SparkSession, table: Table,
                 snapshot_id: int | None = None):
    """Per-manifest rollup for the pinned snapshot (Iceberg
    ``.manifests``): entry counts, how many entries are still LIVE
    (not in the accumulated removed set), and live row/byte totals —
    the signal `--op rewrite-manifests` acts on (a snapshot dragging
    many mostly-dead manifests plans slowly)."""
    snap = table.snapshot(snapshot_id)
    removed = set(snap.removed_files)
    rows = []
    for k, m in enumerate(snap.manifests):
        ents = table.manifest_entries(m)
        live = [e for e in ents if e.path not in removed]
        rows.append((m, k, len(ents), len(live),
                     sum(e.rows for e in live), sum(e.bytes for e in live)))
    return spark.createDataFrame(rows, _MANIFESTS_SCHEMA)


#: view-name suffix -> builder; Catalog.attach and register_metadata_views
#: both iterate this single registry
METADATA_TABLES = {
    "files": files_df,
    "snapshots": snapshots_df,
    "partitions": partitions_df,
    "schemas": schemas_df,
    "refs": refs_df,
    "manifests": manifests_df,
}


def register_metadata_views(
    spark: SparkSession, table: Table, name: str, snapshot_id: int | None = None
) -> list[str]:
    """Register ``{name}__files`` / ``{name}__snapshots`` /
    ``{name}__partitions`` temp views for SQL access. Views are built
    EAGERLY from the requested snapshot (metadata is immutable per
    snapshot, and a lazy view over driver state would silently shift
    under concurrent commits)."""
    out = []
    for suffix, builder in METADATA_TABLES.items():
        df = (
            builder(spark, table)
            if suffix == "snapshots"
            else builder(spark, table, snapshot_id)
        )
        view = f"{name}__{suffix}"
        df.createOrReplaceTempView(view)
        out.append(view)
    return out
