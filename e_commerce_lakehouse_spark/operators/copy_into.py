"""Idempotent batch file ingest — Delta Lake's ``COPY INTO`` re-expressed
over the native table format.

The streaming ingest path (streaming/ingest.py) already gives
exactly-once APPEND via (txn_app, txn_epoch) markers; ``copy_into`` is
its batch cousin for the "a scheduler re-runs the load job" failure mode:
each commit records the SOURCE FILES it loaded in the snapshot summary
(atomic with the commit — no window where rows are visible but the
ledger is not), and a re-run diffs the listing against the union of all
ledgers on the published ancestor chain and loads only genuinely new
files. Reference analog: none (the reference's Glue jobs re-read full
prefixes and rely on MERGE keys, `/root/reference/src/glue_jobs/
orders_etl.py:158-187`); Delta's COPY INTO file-dedup contract is the
public model.

100 TB design notes:
- The ledger lives in snapshot summaries, one list per commit, sized by
  the batch's file count (thousands), never the table's total row count.
  The loaded-set union walk is O(commits) driver-side metadata — the same
  cost class as Delta reading its JSON commit log for COPY INTO dedup.
- Only NEW files are read: the scan's input is the diffed file list, so a
  re-run over a million-file landing prefix with nothing new costs one
  listing and zero data reads.
- Loading is a plain distributed read + append_dataframe (stat-bearing
  immutable files, one O(delta) commit) — no driver-side row handling.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

from ..table.meta import Table
from ..table.writer import append_dataframe

_LEDGER_KEY = "copy-into"


def _canon(path: str) -> str:
    return os.path.abspath(path)


def loaded_files(table: Table) -> set[str]:
    """Union of every copy_into ledger on the published ancestor chain.

    Walks parent pointers from the current head, so a crash orphan (a
    snapshot written but never flipped to by VERSION) never contributes:
    its load was never visible, so its files are still unloaded."""
    out: set[str] = set()
    sid = table.current_snapshot_id()
    while sid is not None:
        snap = table.snapshot(sid)
        ledger = snap.summary.get(_LEDGER_KEY)
        if ledger:
            out.update(ledger.get("files", []))
        sid = snap.parent_id
    return out


def copy_into(
    spark: SparkSession,
    table: Table,
    source: str | list[str],
    source_format: str = "parquet",
    force: bool = False,
    rows_per_file: int = 100_000,
    reader_options: dict | None = None,
) -> dict:
    """Load files matching ``source`` (a glob or explicit list) into
    ``table``, skipping files already loaded by a previous ``copy_into``
    on this table. Returns ``{"files_loaded", "files_skipped", "rows",
    "snapshot_id"}``; a fully-skipped run commits NOTHING (true no-op).

    ``force=True`` reloads everything regardless of the ledger (Delta's
    ``COPY_OPTIONS ('force'='true')``). Files are identified by absolute
    path — a rewritten-in-place file is NOT re-loaded; publish new data
    under new names (immutable-landing contract, same as Delta/Auto
    Loader)."""
    if isinstance(source, str):
        listed = sorted(_canon(p) for p in _glob.glob(source, recursive=True)
                        if os.path.isfile(p))
    else:
        listed = sorted(_canon(p) for p in source)
        missing = [p for p in listed if not os.path.isfile(p)]
        if missing:
            raise FileNotFoundError(f"copy_into sources missing: {missing[:5]}")
    already = set() if force else loaded_files(table)
    new = [p for p in listed if p not in already]
    if not new:
        return {"files_loaded": 0, "files_skipped": len(listed),
                "rows": 0, "snapshot_id": table.current_snapshot_id()}
    reader = spark.read.format(source_format)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    df: DataFrame = reader.load(new)
    snap = append_dataframe(
        spark, table, df, rows_per_file=rows_per_file,
        extra_summary={_LEDGER_KEY: {"files": new}},
    )
    # count from the commit summary, not a second scan
    rows = snap.summary.get("appended-rows", 0)
    return {"files_loaded": len(new), "files_skipped": len(listed) - len(new),
            "rows": rows, "snapshot_id": snap.snapshot_id}
