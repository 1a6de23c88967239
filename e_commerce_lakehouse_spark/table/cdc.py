"""At-least-once incremental consumption of a table (CDC consumer).

The pull side of incremental_scan: a cursor file remembers the last
snapshot a downstream consumer processed; each ``poll`` returns the rows
added since, ``ack`` advances the cursor AFTER the caller has durably
processed the batch — crash between poll and ack re-delivers (classic
at-least-once; transcript consumers re-key on (conv_id, turn_idx)).

Delivery is LOGICAL-change based where the snapshot chain allows it:
walking (cursor, current] and taking only the manifests added by
data-changing operations (append / merge / overwrite) skips compaction
and clustering rewrites entirely — a consumer never re-reads 100 TB
because the table got compacted. If an intermediate snapshot was expired
(the chain is broken), poll degrades to the conservative file-set diff
(incremental_scan), which may re-deliver rewritten rows; the returned
batch records which mode produced it.

The reference's analog is the S3-event → Lambda push pipeline
(/root/reference/src/lambda/file_processor.py) — push on object-created;
here the object-created stream is the snapshot log itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .meta import Table
from .scan import resolve_schema

#: snapshot operations that add MANIFESTS but no logical rows.
#: materialize-deletes rewrites files to APPLY tombstones that were
#: already logical at their delete-mor commit — physical-only, skip.
#: (delete-mor itself adds no manifests, so chain mode naturally
#: delivers zero rows for it; row DELETIONS are not pushed downstream —
#: same at-least-once upsert contract as cow delete, documented.)
_NON_DATA_OPS = {"replace", "rewrite-manifests", "expire", "rollback",
                 "evolve-schema", "materialize-deletes", "delete-mor"}


class IncrementalConsumer:
    """A named, durable cursor over a table's snapshot log."""

    def __init__(self, table: Table, cursor_path: str, schema=None):
        self.table = table
        self.cursor_path = cursor_path
        #: explicit read schema for tables whose shape isn't the default
        #: transcripts contract and that never registered an evolved
        #: schema (resolve_schema would otherwise guess wrong)
        self.schema = schema
        self._pending: int | None = None  # snapshot captured by last poll

    # ---------- cursor ----------

    def position(self) -> int | None:
        """Last acked snapshot id (None = never consumed)."""
        try:
            with open(self.cursor_path) as f:
                return json.load(f)["snapshot_id"]
        except FileNotFoundError:
            return None

    def ack(self) -> int:
        """Durably advance the cursor to the last polled snapshot."""
        if self._pending is None:
            raise RuntimeError("nothing polled to ack")
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_id": self._pending, "table": self.table.root}, f)
        os.replace(tmp, self.cursor_path)
        sid, self._pending = self._pending, None
        return sid

    # ---------- consumption ----------

    def poll(self, spark: SparkSession) -> dict | None:
        """Rows added since the cursor, or None when caught up.

        Returns {"df": DataFrame, "from": sid|None, "to": sid, "mode":
        "initial"|"chain"|"fileset-diff"|"reload"}; call ``ack()`` after
        durably processing ``df``. Modes, best to worst: chain = logical
        changes only; fileset-diff = chain broken, adds rewrites;
        reload = the cursor snapshot itself was expired, full re-read."""
        t = self.table
        current = t.current_snapshot_id()
        if current is None:
            return None
        last = self.position()
        if last is None:
            # initial load: the whole current snapshot
            from .scan import scan

            self._pending = current
            return {"df": scan(spark, t, schema=self.schema), "from": None,
                    "to": current, "mode": "initial"}
        if current == last:
            return None
        if current < last:
            raise ValueError(
                f"cursor at {last} is AHEAD of table ({current}) — wrong "
                f"table or the table was rolled back past the cursor"
            )
        batch = self._chain_batch(spark, last, current)
        if batch is None:  # chain broken by expire: conservative diff
            from .scan import incremental_scan, scan

            try:
                df = incremental_scan(spark, t, last, current, schema=self.schema)
                batch = {"df": df, "mode": "fileset-diff"}
            except FileNotFoundError:
                # the cursor snapshot itself was expired — no diff basis
                # remains; the only at-least-once-safe batch is a full
                # reload (consumers re-key on (conv_id, turn_idx))
                batch = {"df": scan(spark, t, snapshot_id=current,
                                     schema=self.schema), "mode": "reload"}
        batch.update({"from": last, "to": current})
        self._pending = current
        return batch

    def _chain_batch(self, spark: SparkSession, last: int, current: int) -> dict | None:
        """Logical-change batch: union the manifests ADDED by each
        data-changing snapshot in (last, current]. O(delta manifests).
        Returns None if any snapshot in the chain is expired."""
        t = self.table
        new_manifests: list[str] = []
        sid = current
        chain: list[int] = []
        while sid is not None and sid > last:
            try:
                snap = t.snapshot(sid)
            except FileNotFoundError:
                return None
            chain.append(sid)
            sid = snap.parent_id
        if sid != last and last != 0:
            return None  # chain didn't reach the cursor (diverged history)
        # who removed each path within this window? (chain is newest-first;
        # walk oldest-first so the FIRST remover wins)
        remover_op: dict[str, str] = {}
        try:
            for cid in reversed(chain):
                snap = t.snapshot(cid)
                parent_removed = (
                    set(t.snapshot(snap.parent_id).removed_files)
                    if snap.parent_id else set()
                )
                for p in set(snap.removed_files) - parent_removed:
                    remover_op.setdefault(p, snap.operation)
        except FileNotFoundError:
            return None  # a parent (e.g. the cursor snapshot) expired
        for cid in chain:
            snap = t.snapshot(cid)
            if snap.operation in _NON_DATA_OPS:
                continue
            parent_manifests = (
                set(t.snapshot(snap.parent_id).manifests) if snap.parent_id else set()
            )
            new_manifests.extend(m for m in snap.manifests if m not in parent_manifests)
        entries = []
        seen: set[str] = set()
        for m in new_manifests:
            for e in t.manifest_entries(m):
                op = remover_op.get(e.path)
                if op is not None:
                    if op in _NON_DATA_OPS:
                        # A DATA op's file was rewritten away by a SKIPPED
                        # rewrite within this window (append → cluster →
                        # poll): its rows now live only in the skipped
                        # op's output, so dropping the entry would
                        # silently LOSE them (found by the medallion
                        # pipeline test). No per-row lineage exists to
                        # recover just those rows — degrade to the
                        # conservative file-set diff (at-least-once).
                        return None
                    # removed by a later DATA op (e.g. a second MERGE):
                    # its surviving rows ship in that op's own manifests —
                    # skipping here loses nothing
                    continue
                if e.path not in seen:
                    seen.add(e.path)
                    entries.append(e)
        schema = self.schema if self.schema is not None else resolve_schema(t, current)
        if not entries:
            return {"df": spark.createDataFrame([], schema), "mode": "chain"}
        # match scan-at-`current` semantics for merge-on-read deletes: a row
        # appended and then MoR-deleted inside the polled window must NOT be
        # delivered as a live insert (the cow-delete path already excludes
        # it). Seq-aware (read_with_tombstones): an update-mor's post-image
        # rows in this window are exempt from their own tombstone.
        from .scan import read_with_tombstones

        df = read_with_tombstones(spark, t, entries, schema, snapshot_id=current)
        return {"df": df, "mode": "chain"}


#: snapshot operations whose NEW manifests carry logical row additions
_INSERT_OPS = {"append", "merge", "overwrite", "update", "update-mor"}


class ChangeFeedError(RuntimeError):
    """The snapshot chain needed for an exact change feed is broken."""


def _with_change_cols(df: DataFrame, change_type: str, sid: int) -> DataFrame:
    from pyspark.sql import functions as F

    return df.withColumn("_change_type", F.lit(change_type)).withColumn(
        "_commit_sid", F.lit(sid).cast("long")
    )


class ChangeFeedConsumer(IncrementalConsumer):
    """Typed change feed (Delta CDF shape): ``poll_changes`` returns rows
    with ``_change_type`` ('insert' | 'delete') and ``_commit_sid`` (the
    snapshot that produced the change, for replay ordering) — closing the
    documented upsert-only gap: downstream DELETEs now replicate.

    Delivery contract (documented, at-least-once):
    - append / MERGE / UPDATE commits emit their new manifests' rows as
      'insert' (a rewrite's carried-along unchanged rows re-emit — the
      same upsert contract as poll(); consumers re-key).
    - copy-on-write DELETE emits the removed rows (pre-images): rows of
      the files the commit removed, EXCEPT the rows it re-added.
    - merge-on-read DELETE emits the pre-images its tombstone kills: the
      parent snapshot's visible rows semi-joined on the tombstone keys.
    - merge-on-read UPDATE emits post-images as 'insert' (same keys —
      consumers upsert; no delete row, matching Delta's update_postimage
      when pre-images are not requested).
    - physical-only ops (compact / cluster / manifest rewrite /
      materialize-deletes / expire) emit NOTHING.

    An exact feed needs the (cursor, head] snapshot chain intact; if
    expire broke it there is no delete basis left, so ``poll_changes``
    raises ChangeFeedError — callers fall back to ``poll`` (upsert-only)
    or re-sync. Reference analog: the S3-event push pipeline
    (/root/reference/src/lambda/file_processor.py) pushes object-created
    only; the delete feed is what its consumers lacked."""

    def poll_changes(self, spark: SparkSession, exact: bool = False) -> dict | None:
        """``exact=True`` upgrades the feed to a BALANCED delta (delete +
        insert pairs that cancel additively — what incremental aggregate
        maintenance needs):

        - merge / cow-UPDATE / overwrite additionally emit the parent
          snapshot's VISIBLE rows of each removed file as 'delete', so a
          rewrite's carried-along re-inserts cancel instead of
          double-counting;
        - MoR UPDATE additionally emits its tombstone pre-images as
          'delete' (the post-image 'insert' side already flows).

        Exact batches are larger (O(rewritten files) instead of
        O(changed rows)); plain consumers that re-key on upsert should
        keep the default."""
        from pyspark.sql import functions as F

        from .scan import read_entries, read_with_tombstones, scan

        t = self.table
        current = t.current_snapshot_id()
        if current is None:
            return None
        last = self.position()
        if last is None:
            df = _with_change_cols(scan(spark, t, snapshot_id=current,
                                        schema=self.schema), "insert", current)
            self._pending = current
            return {"df": df, "from": None, "to": current, "mode": "initial"}
        if current == last:
            return None
        if current < last:
            raise ValueError(
                f"cursor at {last} is AHEAD of table ({current}) — wrong "
                f"table or the table was rolled back past the cursor"
            )
        # walk the chain newest-first, then process oldest-first
        chain = []
        sid = current
        while sid is not None and sid > last:
            try:
                chain.append(t.snapshot(sid))
            except FileNotFoundError as e:
                raise ChangeFeedError(
                    f"snapshot {sid} expired — no exact change basis between "
                    f"{last} and {current}; fall back to poll() or re-sync"
                ) from e
            sid = chain[-1].parent_id
        if sid != last and last != 0:
            raise ChangeFeedError(
                f"chain from {current} does not reach cursor {last}"
            )
        schema = self.schema if self.schema is not None else resolve_schema(t, current)
        parts = []
        for snap in reversed(chain):
            sid = snap.snapshot_id
            parent = snap.parent_id
            if snap.operation == "rollback":
                # a rollback LOGICALLY removes every row its target lacked;
                # there is no per-row delete basis in the snapshot log, so
                # an exact feed cannot express it — consumers must re-sync
                # (review finding: silently emitting nothing diverged
                # downstream replicas forever)
                raise ChangeFeedError(
                    f"snapshot {sid} is a rollback — no exact change basis; "
                    f"re-sync the consumer (full reload) or use poll()"
                )
            try:
                psnap = t.snapshot(parent) if parent else None
            except FileNotFoundError as e:
                # the cursor snapshot itself (or another parent) was
                # expired mid-walk: honor the documented contract
                # (review finding — a raw FileNotFoundError escaped here)
                raise ChangeFeedError(
                    f"snapshot {parent} expired — no exact change basis "
                    f"between {last} and {current}; fall back to poll() or "
                    f"re-sync"
                ) from e
            parent_manifests = set(psnap.manifests) if psnap else set()
            new_manifests = [m for m in snap.manifests if m not in parent_manifests]
            new_entries = [e for m in new_manifests for e in t.manifest_entries(m)]
            if snap.operation in _INSERT_OPS and new_entries:
                # vintage-aware (rename/widen): read_ver pinned at
                # ``current`` so every batch lands in ONE consumer shape
                df = read_entries(spark, t, new_entries, schema,
                                  snapshot_id=current)
                parts.append(_with_change_cols(df, "insert", sid))
            if exact and snap.operation in ("merge", "update", "overwrite"):
                # balanced delete side: the parent's VISIBLE rows of each
                # newly-removed file (tombstone-aware — a MoR-dead row was
                # never visible, so it must not be "deleted" downstream);
                # carried-along rows cancel against their re-emitted insert
                parent_removed = set(psnap.removed_files) if psnap else set()
                removed_new = set(snap.removed_files) - parent_removed
                if removed_new:
                    try:
                        rm_entries = [e for e in t.entries(parent)
                                      if e.path in removed_new]
                    except FileNotFoundError as e:
                        raise ChangeFeedError(
                            f"snapshot {parent} expired — no pre-image basis "
                            f"for the rewrite at {sid}; re-sync"
                        ) from e
                    pre = read_with_tombstones(
                        spark, t, rm_entries, schema, snapshot_id=parent
                    )
                    parts.append(_with_change_cols(pre, "delete", sid))
            if snap.operation == "delete":
                parent_removed = set(psnap.removed_files) if psnap else set()
                removed_new = set(snap.removed_files) - parent_removed
                if removed_new:
                    try:
                        rm_entries = [e for e in t.entries(parent)
                                      if e.path in removed_new]
                    except FileNotFoundError as e:
                        raise ChangeFeedError(
                            f"snapshot {parent} expired — no pre-image basis "
                            f"for the delete at {sid}; re-sync"
                        ) from e
                    pre = read_entries(spark, t, rm_entries, schema,
                                       snapshot_id=current)
                    if new_entries:
                        post = read_entries(spark, t, new_entries, schema,
                                            snapshot_id=current)
                        pre = pre.exceptAll(post)
                    parts.append(_with_change_cols(pre, "delete", sid))
            if snap.operation == "delete-mor" or (
                exact and snap.operation == "update-mor"
            ):
                prev_paths = {d["path"] for d in psnap.tombstones} if psnap else set()
                new_tombs = [d["path"] for d in snap.tombstones
                             if d["path"] not in prev_paths]
                if new_tombs:
                    keys_df = spark.read.parquet(
                        *[os.path.join(t.root, p) for p in new_tombs]
                    ).dropDuplicates()
                    # pre-images: the parent snapshot's VISIBLE rows for
                    # those keys (seq-aware — never resurrects older
                    # already-dead copies into the feed)
                    try:
                        parent_entries = t.entries(parent)
                    except FileNotFoundError as e:
                        raise ChangeFeedError(
                            f"snapshot {parent} expired — no pre-image basis "
                            f"for the MoR delete at {sid}; re-sync"
                        ) from e
                    pre = read_with_tombstones(
                        spark, t, parent_entries, schema, snapshot_id=parent
                    ).join(F.broadcast(keys_df), on=list(keys_df.columns),
                           how="left_semi")
                    parts.append(_with_change_cols(pre, "delete", sid))
        if not parts:
            empty = _with_change_cols(spark.createDataFrame([], schema), "insert",
                                      current).limit(0)
            self._pending = current
            return {"df": empty, "from": last, "to": current, "mode": "chain-changes"}
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        self._pending = current
        return {"df": df, "from": last, "to": current, "mode": "chain-changes"}
