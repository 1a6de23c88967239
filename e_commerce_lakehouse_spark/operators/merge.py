"""Op-5: MERGE INTO — copy-on-write upsert for late-arriving corrections.

Reference analog: Delta MERGE `whenMatchedUpdateAll /
whenNotMatchedInsertAll` keyed on the PK
(`/root/reference/src/glue_jobs/orders_etl.py:179-188`,
`products_etl.py:79-88`, `order_items_etl.py:74-81`). Semantics kept:
every source row ends up in the table (matched keys overwritten, new keys
inserted); source-internal duplicates collapse keep-latest-by-ts with a
DETERMINISTIC tiebreak (the reference's window dedup `orders_etl.py:150-160`
ties nondeterministically — SURVEY.md §2.5 W1).

Physical plan, Spark-first:

1. TOUCHED-FILE PRUNING on the driver: the batch's distinct first-key
   values plan the files through scan's key planner
   (``table.scan.key_planned_entries``: partition, [min, max] and bloom
   pruning). Only files that can hold a source key are rewritten; a
   0.01% correction batch on a 100 TB table rewrites ~0.01% of file
   groups, not the table.
2. REWRITE: anti-join the touched rows against source keys (drops stale
   versions), union the deduped source, write new files: coalesced (no
   exchange) to ⌈touched bytes / target⌉ tasks, rolled by rows.
3. COMMIT one atomic snapshot (removed = touched files, added = new).
"""

from __future__ import annotations

import uuid
from time import monotonic

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS_STAT_COLUMNS
from ..table.meta import Table
from ..table.writer import DEFAULT_TARGET_FILE_BYTES, rewrite_sizing, write_files

DEFAULT_KEYS = ("conv_id", "turn_idx")


def dedup_keep_latest(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    order_col: str = "ts",
) -> DataFrame:
    """Keep the latest row per key — the reference's W1 window dedup
    (`orders_etl.py:150-160`) with a deterministic content-hash tiebreak."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), F.xxhash64(*[F.col(c) for c in df.columns]).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys=DEFAULT_KEYS,
    order_col: str | None = "ts",
) -> DataFrame:
    """Pure dataflow MERGE semantics (whenMatchedUpdateAll +
    whenNotMatchedInsertAll): target rows whose key is absent from source,
    plus all (deduped) source rows. Used standalone as an operator and by
    ``merge_into`` for the touched-file rewrite."""
    if order_col is not None:
        source = dedup_keep_latest(source, keys, order_col)
    return target.join(source.select(*keys).distinct(), list(keys), "left_anti").unionByName(
        source
    )


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    keys=DEFAULT_KEYS,
    order_col: str | None = "ts",
    target_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    schema=None,
    stat_columns=TRANSCRIPTS_STAT_COLUMNS,
) -> dict:
    """Upsert ``source`` into ``table`` (plan: module docstring). The
    driver holds the batch's distinct first-key values while planning,
    as ``scan_semi_join`` holds its build side."""
    base_snapshot = table.current_snapshot_id()
    if base_snapshot is None:
        raise ValueError("cannot merge into an empty table")
    from ..table.scan import resolve_schema

    schema = resolve_schema(table, schema=schema)
    sv_plan = table.write_schema_version()  # outputs' write version
    # apply pending merge-on-read tombstones first: an upsert of a
    # tombstoned key must RESURRECT it — with the tombstone still live,
    # the scan-side anti-join would silently kill the fresh row
    from .rowlevel import materialize_deletes

    materialize_deletes(spark, table, target_bytes=target_bytes, schema=schema,
                        stat_columns=stat_columns)
    t0 = monotonic()
    # align like append_dataframe does (shared helper): a producer not yet
    # updated after add_columns sends the old shape — missing nullable
    # columns fill with NULL instead of failing analysis (review finding)
    from ..table.writer import align_to_schema

    source = align_to_schema(source, schema)
    # keys come from the batch BEFORE dedup (same key set): one small
    # aggregate, not the dedup window's shuffle
    from ..table.scan import distinct_keys, key_planned_entries, read_entries

    source_keys = distinct_keys(source, keys[0])
    if order_col is not None:  # None: caller guarantees unique keys
        source = dedup_keep_latest(source, keys, order_col)
    from .constraints import enforce_constraints

    source = enforce_constraints(source, table, context="merge")  # O(batch), no-op w/o constraints

    entries = table.entries()
    touched_entries = key_planned_entries(table, entries, source_keys, keys[0])
    touched = [e.path for e in touched_entries]
    touched_bytes = sum(e.bytes for e in touched_entries)

    if touched:
        # vintage-aware read: pre-rename files resolve their written
        # column names onto the current schema by field id
        target_df = read_entries(spark, table, touched_entries, schema)
    else:
        target_df = spark.createDataFrame([], schema)
    merged = merge_upsert_dataframes(target_df, source, keys, order_col=None)

    # collision-free output dir (append-{uuid} rule): a concurrent merge
    # planned from the same snapshot must lose at COMMIT time, not by
    # rmtree'ing the winner's committed files (review finding)
    subdir = f"merge-{base_snapshot:08d}-{uuid.uuid4().hex[:12]}"
    n_out, per_file = rewrite_sizing(touched_entries, target_bytes)
    added = write_files(spark, table, merged.coalesce(n_out), None, subdir, stat_columns,
                        rows_per_file=per_file)
    for e in added:  # written under the PLAN-time schema version
        e.sv = sv_plan

    snap = table.commit_rewrite(
        touched,
        added,
        operation="merge",
        summary={"op": "merge", "touched_files": len(touched),
                 "added_files": len(added), "source_keys": len(source_keys),
                 "touched_bytes": touched_bytes},
        # planned right after materialize (empty tombstone list): a
        # concurrent MoR delete must conflict — this rewrite's freshly
        # stamped outputs would be exempt from it (review finding)
        expected_tombstones=[],
    )
    return {
        "base_snapshot": base_snapshot,
        "committed_snapshot": snap.snapshot_id,
        "touched_files": len(touched),
        "total_files": len(entries),
        "added_files": len(added),
        "source_keys": len(source_keys),
        "touched_bytes": touched_bytes,
        "wall_ms": int((monotonic() - t0) * 1000),
    }
