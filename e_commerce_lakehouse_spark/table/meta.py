"""Iceberg-style table metadata layer, from scratch.

No Delta/Iceberg jars exist in this environment (SURVEY.md §7.1), so the
table format — snapshots, manifests, per-file stats, atomic commit,
snapshot pinning — is implemented here. Data files are plain Parquet,
readable by Spark and by the DuckDB oracle.

Layout:

    <root>/data/...            immutable Parquet data files
    <root>/metadata/
        VERSION                text file: current snapshot id (atomic os.replace)
        snap-<id>.json         snapshot: parent, operation, manifest list,
                               removed-file set, summary
        manifest-<id>-<k>.json list of DataFileEntry dicts

Commits are O(changed files), not O(table): an append or rewrite snapshot
references the parent's manifests plus ONE new manifest for added files
plus a delta set of removed paths. The live file set of a snapshot is
(union of manifest entries) − (accumulated removed set). `rewrite_manifests`
(operators/manifest_rewrite.py) periodically collapses that debt into a
single fresh manifest — that is the op's whole purpose, exactly like
Iceberg's RewriteManifests action.

Scale notes (100 TB / 10^12 turns): manifests are PARQUET by default
(typed columns: path/rows/bytes + stat_min_<col>/stat_max_<col>) — at
~800 k files a JSON manifest costs seconds of driver-side parse per
planning pass, the parquet form tens of ms (measured table in
BENCH/BASELINE.md "Metadata plan time"). JSON manifests remain fully
READABLE (codec dispatch is by file extension), so existing tables keep
working and `SPARK_GRAFT_MANIFEST_CODEC=json` restores the debuggable
form. Stats collection is distributed (table/stats.py reads only
Parquet footers, on executors).

Concurrency: single-writer per table (the reference is single-writer per
dataset too — one Glue job per table, see
`/root/reference/src/step_functions/etl_orchestrator.json:91-115`).
Atomicity comes from writing the snapshot file first and flipping VERSION
with os.replace last; a crash before the flip leaves the old snapshot
current and the new files orphaned (cleaned by expire_snapshots GC).
The single-writer boundary is ENFORCED, not assumed: every commit takes
an O_EXCL lock file (metadata/COMMIT.lock) for its read-parent→flip
critical section, so a second concurrent writer fails fast with
CommitConflictError instead of silently losing the other's snapshot
(optimistic-concurrency shape of Iceberg's commit). A lock older than
``_LOCK_STALE_S`` (crashed holder) is broken and retaken.

Reference analogs: Delta initial write / MERGE sink
(`orders_etl.py:191-194,179-188`), archival lifecycle
(`src/lambda/file_archiver.py:26-64`), retention conf
(`config/aws_config.py:67`).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

_LOCK_STALE_S = 300.0  # a lock this old belongs to a crashed writer

#: manifest serialization for NEW manifests; reads dispatch on extension,
#: so json and parquet manifests coexist within one table (upgrade-safe)
MANIFEST_CODEC = os.environ.get("SPARK_GRAFT_MANIFEST_CODEC", "parquet")


class CommitConflictError(RuntimeError):
    """A commit lost a race with a concurrent writer.

    ``kind`` classifies the conflict so operators can rebase instead of
    failing (Iceberg's commit-retry shape):

    - ``"lock"`` — the commit lock was held past ``lock_wait_s``;
      retrying the SAME commit is safe.
    - ``"stale-inputs"`` — some planned input files are no longer live
      at head (``stale_paths`` lists them); drop the conflicting work
      units and recommit the rest, or re-plan.
    - ``"tombstones"`` — a merge-on-read tombstone landed between plan
      and commit; re-plan from the head (outputs would be wrongly
      exempt from the new tombstone).
    """

    def __init__(self, msg: str, kind: str = "lock",
                 stale_paths: list[str] | None = None):
        super().__init__(msg)
        self.kind = kind
        self.stale_paths = stale_paths or []


@dataclass
class DataFileEntry:
    """One immutable Parquet data file + its pruning stats.

    ``stats`` maps column name -> [min, max]; timestamps are stored as
    epoch microseconds (ints) so comparisons are total-ordered JSON.

    ``seq`` is the file's DATA SEQUENCE NUMBER (Iceberg v2 semantics): a
    merge-on-read tombstone applies to a file iff the tombstone's seq is
    STRICTLY greater — which is what lets a MoR UPDATE commit the
    tombstone and the post-image rows in one snapshot without the
    tombstone killing its own output. ``None`` means "stamp me at commit
    time" (the committing snapshot id); rewrites that carry old rows
    forward (compact, scoped cluster) set it explicitly to the max input
    seq so older tombstones keep applying. Files from pre-seq manifests
    read as 0 (every tombstone applies — the legacy global behavior)."""

    path: str
    rows: int
    bytes: int
    stats: dict[str, list] = field(default_factory=dict)
    seq: int | None = None
    #: hidden-partition tuple {field_name: value} derived by the writer
    #: from the table's partition spec (table/partition.py). None for
    #: files written before/without a spec — the planner keeps those
    #: conservative (never pruned by partition).
    partition: dict | None = None
    #: per-column bloom filters {col: {"m","k","ndv","b64"}} for
    #: point-lookup file skipping (_bloom.py); None for files written
    #: before/without a bloom spec — the planner keeps those
    #: conservative (never pruned by bloom).
    blooms: dict | None = None
    #: per-stat-column NULL counts ({col: n}); None for legacy files.
    #: min/max stats ignore nulls, so exact metadata-only aggregation
    #: (operators/metaagg.py) needs this to classify a file as FULLY
    #: inside a predicate; files without it fall to the boundary-read
    #: path (conservative, never wrong).
    nulls: dict | None = None
    #: SCHEMA VERSION the file's bytes were WRITTEN under (Iceberg binds
    #: columns by field-id in the file footer; plain parquet can't, so the
    #: version number recorded here binds each file's WRITTEN column names
    #: to field ids via the schema-version history — what makes RENAME and
    #: type WIDENING metadata-only, see table/fieldids.py). None = written
    #: before the table ever evolved (or before sv stamping existed):
    #: read under the last derived-era schema, names as-introduced.
    sv: int | None = None

    def to_dict(self) -> dict:
        d = {"path": self.path, "rows": self.rows, "bytes": self.bytes,
             "stats": self.stats, "seq": self.seq if self.seq is not None else 0}
        if self.partition is not None:
            d["partition"] = self.partition
        if self.blooms is not None:
            d["blooms"] = self.blooms
        if self.sv is not None:
            d["sv"] = self.sv
        if self.nulls is not None:
            d["nulls"] = self.nulls
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "DataFileEntry":
        return cls(path=d["path"], rows=d["rows"], bytes=d["bytes"],
                   stats=d.get("stats", {}), seq=d.get("seq", 0),
                   partition=d.get("partition"), blooms=d.get("blooms"),
                   sv=d.get("sv"), nulls=d.get("nulls"))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # append | replace | overwrite | merge | rewrite-manifests | expire
    manifests: list[str]
    removed_files: list[str]
    summary: dict
    timestamp_ms: int
    #: merge-on-read KEY tombstones: ``{"path": <table-relative parquet
    #: whose columns are the delete keys>, "seq": <commit sequence>}``;
    #: scan anti-joins each against data files with seq < tombstone seq
    #: (seq None = legacy entry, applies to every file). Key-based (not
    #: positional), so copy-on-write rewrites never invalidate them.
    #: Cleared only by materialize_deletes / full clustering.
    tombstones: list[dict] = field(default_factory=list)

    @property
    def tombstone_paths(self) -> list[str]:
        return [t["path"] for t in self.tombstones]

    def to_dict(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "operation": self.operation,
            "manifests": self.manifests,
            "removed_files": self.removed_files,
            "summary": self.summary,
            "timestamp_ms": self.timestamp_ms,
            "tombstones": self.tombstones,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Snapshot":
        return cls(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            manifests=d["manifests"],
            removed_files=d.get("removed_files", []),
            summary=d.get("summary", {}),
            timestamp_ms=d.get("timestamp_ms", 0),
            # legacy plain-string tombstones normalize to seq None
            # ("applies to all files" — the pre-seq global behavior)
            tombstones=[
                t if isinstance(t, dict) else {"path": t, "seq": None}
                for t in d.get("tombstones", [])
            ],
        )


class Table:
    """A lakehouse table rooted at a directory."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.data_dir = os.path.join(self.root, "data")
        self.metadata_dir = os.path.join(self.root, "metadata")
        #: seconds a commit will WAIT for a fresh foreign COMMIT.lock
        #: before raising CommitConflictError. 0 (default) = fail fast —
        #: the historical single-writer contract. A positive value turns
        #: lock contention into transparent serialization: appends never
        #: conflict semantically (parent is re-read inside the lock), so
        #: N concurrent appenders with lock_wait_s all land, no caller
        #: retry loop. Rewrite commits still conflict on stale inputs
        #: after the wait (snapshot-isolation guard) — waiting buys them
        #: nothing but a faster re-plan signal.
        self.lock_wait_s: float = 0.0
        # snapshot-id -> entry list. Snapshots are immutable once written,
        # so caching is always sound; bounded to 2 so an 800k-file table
        # holds at most ~2 entry lists in driver memory. Keeps the commit
        # guard's entries(parent) O(1) when the op planned from the same
        # snapshot it commits against (the normal single-writer path).
        self._entries_cache: dict[int, list] = {}

    # ---------- lifecycle ----------

    @classmethod
    def create(cls, root: str) -> "Table":
        t = cls(root)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.metadata_dir, exist_ok=True)
        return t

    @classmethod
    def load(cls, root: str, lock_wait_s: float = 0.0) -> "Table":
        t = cls(root)
        if not os.path.isdir(t.metadata_dir):
            raise FileNotFoundError(f"not a table: {root}")
        t.lock_wait_s = lock_wait_s
        return t

    # ---------- metadata reads ----------

    def _version_path(self) -> str:
        return os.path.join(self.metadata_dir, "VERSION")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._version_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.metadata_dir, f"snap-{sid:08d}.json")

    def snapshot(self, sid: int | None = None) -> Snapshot:
        if sid is None:
            sid = self.current_snapshot_id()
            if sid is None:
                raise ValueError("table has no snapshots")
        with open(self._snap_path(sid)) as f:
            return Snapshot.from_dict(json.load(f))

    def snapshot_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.metadata_dir):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def manifest_entries(self, manifest_path: str) -> list[DataFileEntry]:
        full = os.path.join(self.metadata_dir, manifest_path)
        if manifest_path.endswith(".parquet"):
            return _read_manifest_parquet(full)
        with open(full) as f:
            return [DataFileEntry.from_dict(d) for d in json.load(f)["entries"]]

    def entries(self, snapshot_id: int | None = None) -> list[DataFileEntry]:
        """Live data files of a snapshot: manifest union minus removed set.
        Memoized per snapshot id (immutable once written)."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError("table has no snapshots")
        if sid in self._entries_cache:
            return list(self._entries_cache[sid])
        # resolve via the SAME sid the cache key uses — re-reading VERSION
        # here raced a concurrent commit and could cache the new head's
        # entry list under the old sid (review finding)
        snap = self.snapshot(sid)
        removed = set(snap.removed_files)
        out: list[DataFileEntry] = []
        seen: set[str] = set()
        for m in snap.manifests:
            for e in self.manifest_entries(m):
                if e.path not in removed and e.path not in seen:
                    seen.add(e.path)
                    out.append(e)
        while len(self._entries_cache) >= 2:
            self._entries_cache.pop(next(iter(self._entries_cache)))
        self._entries_cache[sid] = out
        return list(out)

    def file_paths(self, snapshot_id: int | None = None) -> list[str]:
        return [os.path.join(self.root, e.path) for e in self.entries(snapshot_id)]

    # ---------- commits ----------

    def _lock_path(self) -> str:
        return os.path.join(self.metadata_dir, "COMMIT.lock")

    @contextlib.contextmanager
    def _commit_lock(self):
        """O_EXCL lock around the read-parent→flip critical section. The
        parent snapshot id is (re)read INSIDE the lock, so two racing
        writers serialize instead of both building on the same parent and
        one silently clobbering the other's VERSION flip.

        Stale-lock breaking is ATOMIC: the breaker renames the stale lock
        to a unique tombstone first (os.rename — only one racing breaker
        can win; a remove-then-create window would let two writers both
        acquire). Release removes the lock only if it still carries OUR
        token, so a writer whose lock was broken as stale mid-commit
        cannot delete the new holder's lock. Not re-entrant: a second
        acquisition, even through the same handle, is another writer."""
        path = self._lock_path()
        token = f"{os.getpid()}-{time.time_ns()}"
        # lock_wait_s > 0: bounded poll turns contention into transparent
        # serialization (concurrent appends all land — Iceberg's
        # commit-retry shape); 0 keeps the historical fail-fast contract
        deadline = time.monotonic() + max(0.0, self.lock_wait_s)
        broke_stale = False
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    age = time.time() - os.stat(path).st_mtime
                except FileNotFoundError:
                    continue  # holder just released — retry O_EXCL
                if age > _LOCK_STALE_S and not broke_stale:
                    broke_stale = True
                    with contextlib.suppress(FileNotFoundError, OSError):
                        os.rename(path, f"{path}.broken-{token}")
                        os.remove(f"{path}.broken-{token}")
                    continue
                if time.monotonic() < deadline:
                    time.sleep(0.05)
                    continue
                raise CommitConflictError(
                    f"{self.root}: another writer holds COMMIT.lock "
                    f"(age {age:.0f}s); this table is single-writer "
                    f"(set lock_wait_s to serialize instead)",
                    kind="lock",
                ) from None
        try:
            os.write(fd, token.encode())
            os.close(fd)
            yield
        finally:
            try:
                with open(path) as f:
                    still_ours = f.read() == token
            except FileNotFoundError:
                still_ours = False
            if still_ours:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)

    def _write_manifest(self, sid: int, k: int, entries: list[DataFileEntry]) -> str:
        ext = "parquet" if MANIFEST_CODEC == "parquet" else "json"
        name = f"manifest-{sid:08d}-{k:04d}.{ext}"
        tmp = os.path.join(self.metadata_dir, name + ".tmp")
        if ext == "parquet":
            _write_manifest_parquet(tmp, entries)
        else:
            with open(tmp, "w") as f:
                json.dump({"entries": [e.to_dict() for e in entries]}, f)
        os.replace(tmp, os.path.join(self.metadata_dir, name))
        return name

    def _commit(self, snap: Snapshot) -> Snapshot:
        """Write the snapshot file, then flip VERSION to it. A crash
        between the two leaves the snapshot file as a crash orphan: on
        disk, off the published chain, never current."""
        tmp = self._snap_path(snap.snapshot_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap.to_dict(), f)
        os.replace(tmp, self._snap_path(snap.snapshot_id))
        vtmp = self._version_path() + ".tmp"
        with open(vtmp, "w") as f:
            f.write(str(snap.snapshot_id))
        os.replace(vtmp, self._version_path())  # the atomic flip
        return snap

    def _next_id(self) -> int:
        """Max over snapshot FILES, not VERSION, plus one: a crash orphan
        (snapshot written, VERSION never flipped) sits above the head,
        and a later commit must never reuse its id."""
        ids = self.snapshot_ids()
        cur = self.current_snapshot_id()
        floor = cur if cur is not None else 0
        return max([floor, *ids]) + 1

    def commit_append(
        self,
        added: list[DataFileEntry],
        summary: dict | None = None,
    ) -> Snapshot:
        """O(delta) append: parent manifests + one new manifest."""
        with self._commit_lock():
            sid = self._next_id()
            parent = self.current_snapshot_id()
            manifests = list(self.snapshot(parent).manifests) if parent else []
            removed = list(self.snapshot(parent).removed_files) if parent else []
            tombs = list(self.snapshot(parent).tombstones) if parent else []
            _stamp_seq(added, sid, self.schema_version_count())
            manifests.append(self._write_manifest(sid, len(manifests), added))
            snap = Snapshot(sid, parent, "append", manifests, removed,
                            _summarize(added, summary), int(time.time() * 1000),
                            tombstones=tombs)
            return self._commit(snap)

    def commit_rewrite(
        self,
        removed_paths: list[str],
        added: list[DataFileEntry],
        operation: str = "replace",
        summary: dict | None = None,
        clear_tombstones: bool = False,
        expected_tombstones: list[str] | None = None,
    ) -> Snapshot:
        """Copy-on-write commit: drop ``removed_paths``, add ``added``.

        Parent merge-on-read tombstones PROPAGATE (key-based tombstones
        stay valid across rewrites); ``clear_tombstones=True`` is for
        materialize_deletes only — the commit whose rewrite has already
        applied them.

        Used by compaction, clustering, MERGE, DELETE and UPDATE.
        O(changed files).

        SNAPSHOT-ISOLATION GUARD: every removed path must still be LIVE in
        the head snapshot at commit time. If a concurrent writer already
        rewrote one of them (its rows now live in that writer's output),
        tombstoning it again would silently duplicate those rows — the
        classic lost-update. Such a commit raises CommitConflictError;
        the caller re-plans from the new head (the retry wrappers in
        run_maintenance/with_retries do exactly that by re-loading the
        Table). This is Iceberg's validate-no-conflicting-rewrites check
        at file granularity."""
        with self._commit_lock():
            sid = self._next_id()
            parent = self.current_snapshot_id()
            if removed_paths:
                live = {e.path for e in self.entries(parent)} if parent else set()
                stale = sorted(set(removed_paths) - live)
                if stale:
                    raise CommitConflictError(
                        f"rewrite commit conflicts with a concurrent writer: "
                        f"{len(stale)} of its input file(s) are no longer live in "
                        f"head snapshot {parent} (e.g. {stale[:3]}); re-plan from "
                        f"the current head and retry",
                        kind="stale-inputs", stale_paths=stale,
                    )
            manifests = list(self.snapshot(parent).manifests) if parent else []
            removed = list(self.snapshot(parent).removed_files) if parent else []
            head_tombs = list(self.snapshot(parent).tombstones) if parent else []
            if expected_tombstones is not None and sorted(
                t["path"] for t in head_tombs
            ) != sorted(expected_tombstones):
                # a delete-mor landed between this op's scan and its commit.
                # Clearing would silently discard the never-applied tombstone
                # (lost-update); NOT clearing is just as bad when the added
                # files get a fresh seq stamp — they would be exempt from
                # the newer tombstone and resurrect its rows (review
                # finding). Same class as the removed-paths guard: conflict,
                # caller re-plans from the head. Rewrites whose outputs
                # carry a preserved max-input seq (compact, scoped cluster
                # over tombstoned files) pass expected_tombstones=None —
                # their outputs stay subject to any newer tombstone.
                raise CommitConflictError(
                    f"tombstone list changed since this rewrite planned "
                    f"({len(expected_tombstones)} expected vs {len(head_tombs)} at "
                    f"head); re-plan from the current head",
                    kind="tombstones",
                )
            tombs = [] if clear_tombstones else head_tombs
            removed = sorted(set(removed) | set(removed_paths))
            if added:
                _stamp_seq(added, sid, self.schema_version_count())
                manifests.append(self._write_manifest(sid, len(manifests), added))
            snap = Snapshot(sid, parent, operation, manifests, removed,
                            _summarize(added, summary), int(time.time() * 1000),
                            tombstones=tombs)
            return self._commit(snap)

    def commit_manifests(
        self,
        manifests: list[str],
        operation: str,
        summary: dict | None = None,
        removed_files: list[str] | None = None,
        tombstones: list[str] | None = None,
    ) -> Snapshot:
        """Commit a snapshot that references pre-written manifests verbatim
        (used by rewrite_manifests with an empty removed set, and by
        rollback_to, which replays the target's removed set).
        ``tombstones=None`` propagates the parent's merge-on-read
        tombstones; rollback passes the target snapshot's own list."""
        with self._commit_lock():
            sid = self._next_id()
            parent = self.current_snapshot_id()
            if tombstones is None:
                tombstones = list(self.snapshot(parent).tombstones) if parent else []
            snap = Snapshot(sid, parent, operation, manifests,
                            sorted(removed_files or []), summary or {},
                            int(time.time() * 1000), tombstones=list(tombstones))
            return self._commit(snap)

    def commit_tombstones(
        self,
        tombstone_paths: list[str],
        summary: dict | None = None,
    ) -> Snapshot:
        """Merge-on-read DELETE: add key-tombstone files, touch NO data
        files — an O(1-metadata + tombstone-bytes) delete on a 100 TB
        table. Scan anti-joins the accumulated tombstones;
        materialize_deletes later folds them into a copy-on-write rewrite
        and clears the list."""
        with self._commit_lock():
            sid = self._next_id()
            parent = self.current_snapshot_id()
            if parent is None:
                raise ValueError("cannot delete from an empty table")
            psnap = self.snapshot(parent)
            snap = Snapshot(sid, parent, "delete-mor", list(psnap.manifests),
                            list(psnap.removed_files),
                            {"op": "delete-mor", "new_tombstones": len(tombstone_paths),
                             **(summary or {})},
                            int(time.time() * 1000),
                            tombstones=list(psnap.tombstones)
                            + [{"path": p, "seq": sid} for p in tombstone_paths])
            return self._commit(snap)

    def commit_upsert_mor(
        self,
        added: list[DataFileEntry],
        tombstone_paths: list[str],
        summary: dict | None = None,
        expected_tombstones: list[str] | None = None,
    ) -> Snapshot:
        """Merge-on-read UPDATE: ONE snapshot adds the post-image data
        files (seq = this commit) AND the key tombstones (same seq). The
        strict seq comparison (tombstone applies iff tomb.seq > file.seq)
        means the tombstone kills every OLDER copy of the keys but not
        the post-image rows committed alongside it — Iceberg v2's
        sequence-number semantics, the fast path a 100 TB UPDATE needs
        (write cost O(matched rows), no touched-file rewrite)."""
        with self._commit_lock():
            sid = self._next_id()
            parent = self.current_snapshot_id()
            if parent is None:
                raise ValueError("cannot update an empty table")
            psnap = self.snapshot(parent)
            if expected_tombstones is not None and sorted(
                t["path"] for t in psnap.tombstones
            ) != sorted(expected_tombstones):
                # a concurrent MoR delete landed after this update's scan:
                # stamping the post-images with this commit's seq would
                # exempt them from that newer tombstone and resurrect the
                # just-deleted keys (review finding) — conflict instead
                raise CommitConflictError(
                    f"tombstone list changed since this update planned "
                    f"({len(expected_tombstones)} expected vs "
                    f"{len(psnap.tombstones)} at head); re-plan from the head",
                    kind="tombstones",
                )
            _stamp_seq(added, sid, self.schema_version_count())
            manifests = list(psnap.manifests)
            manifests.append(self._write_manifest(sid, len(manifests), added))
            snap = Snapshot(sid, parent, "update-mor", manifests,
                            list(psnap.removed_files),
                            _summarize(added, {"op": "update-mor",
                                               "new_tombstones": len(tombstone_paths),
                                               **(summary or {})}),
                            int(time.time() * 1000),
                            tombstones=list(psnap.tombstones)
                            + [{"path": p, "seq": sid} for p in tombstone_paths])
            return self._commit(snap)

    def tombstones(self, snapshot_id: int | None = None) -> list[str]:
        """Live merge-on-read tombstone file PATHS at a snapshot."""
        return [t["path"] for t in self.tombstone_entries(snapshot_id)]

    def tombstone_entries(self, snapshot_id: int | None = None) -> list[dict]:
        """Live tombstones with their sequence numbers:
        [{"path": ..., "seq": int|None}] (seq None = legacy, global)."""
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return []
        return list(self.snapshot(sid).tombstones)

    def write_manifest_for(self, entries: list[DataFileEntry], k: int = 0) -> str:
        """Pre-write a manifest for the NEXT snapshot id (rewrite_manifests)."""
        return self._write_manifest(self._next_id(), k, entries)

    def history(self) -> list[dict]:
        """The snapshot log, oldest-first — Iceberg's ``table.history``:
        one dict per retained snapshot (id, parent, operation, timestamp,
        summary, current flag, tags pointing at it). O(metadata).

        ``orphan`` marks a snapshot off the published chain: the one way
        to get there is a crash between the snapshot write and the
        VERSION flip, so it was never current (see ``_published_ids``)."""
        current = self.current_snapshot_id()
        chain = self._published_ids()
        tags_by_sid: dict[int, list[str]] = {}
        for name, sid in self.tags().items():
            tags_by_sid.setdefault(sid, []).append(name)
        out = []
        for sid in self.snapshot_ids():
            s = self.snapshot(sid)
            out.append(
                {
                    "snapshot_id": sid,
                    "parent_id": s.parent_id,
                    "operation": s.operation,
                    "timestamp_ms": s.timestamp_ms,
                    "is_current": sid == current,
                    "orphan": sid not in chain,
                    "tags": sorted(tags_by_sid.get(sid, [])),
                    "summary": s.summary,
                }
            )
        return out

    # ---------- named refs (tags) ----------

    def _refs_path(self) -> str:
        return os.path.join(self.metadata_dir, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: {"tag-name": snapshot_id}. Tagged
        snapshots are protected from expire_snapshots until untagged
        (Iceberg tag semantics)."""
        try:
            with open(self._refs_path()) as f:
                return json.load(f)["tags"]
        except FileNotFoundError:
            return {}

    def _write_tags(self, tags: dict[str, int]) -> None:
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"tags": tags}, f)
        os.replace(tmp, self._refs_path())

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: current). Fails on duplicate names —
        a tag is immutable; delete it first to move it. Runs under the
        commit lock: refs.json is read-modify-write, so two unserialized
        taggers would silently lose one tag."""
        with self._commit_lock():
            sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
            self.snapshot(sid)  # validate it exists (FileNotFoundError otherwise)
            tags = self.tags()
            if name in tags:
                raise ValueError(f"tag already exists: {name} -> {tags[name]}")
            tags[name] = sid
            self._write_tags(tags)
            return sid

    def delete_tag(self, name: str) -> int:
        with self._commit_lock():
            tags = self.tags()
            if name not in tags:
                raise KeyError(f"no such tag: {name}")
            sid = tags.pop(name)
            self._write_tags(tags)
            return sid

    def resolve_ref(self, name: str) -> int:
        """Tag name -> snapshot id."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no such tag: {name}")
        return tags[name]

    # ---------- CHECK constraints ----------

    def _constraints_path(self) -> str:
        return os.path.join(self.metadata_dir, "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Table CHECK constraints: {"name": "<SQL predicate>"}. Enforced
        on every write path (append / MERGE / UPDATE / streaming ingest)
        by operators/constraints.py — Delta `ALTER TABLE ADD CONSTRAINT`
        semantics: a row violates iff the predicate evaluates to FALSE
        (NULL passes, SQL CHECK semantics)."""
        try:
            with open(self._constraints_path()) as f:
                return json.load(f)["constraints"]
        except FileNotFoundError:
            return {}

    def _write_constraints(self, constraints: dict[str, str]) -> None:
        tmp = self._constraints_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"constraints": constraints}, f)
        os.replace(tmp, self._constraints_path())

    # ---------- bloom-filter skipping index ----------

    def _bloom_spec_path(self) -> str:
        return os.path.join(self.metadata_dir, "bloom.json")

    def bloom_spec(self) -> dict[str, dict]:
        """Declared bloom-index columns: {col: {"fpp":..., "max_bits":...}}.
        Empty = no bloom index. Consulted by every write path (append /
        rewrite / streaming sink) when footer stats are collected; files
        written BEFORE the declaration simply carry no bloom and stay
        conservative (never bloom-pruned) until a rewrite touches them —
        Delta's bloom-filter-index backfill semantics."""
        try:
            with open(self._bloom_spec_path()) as f:
                return json.load(f)["blooms"]
        except FileNotFoundError:
            return {}

    def set_bloom_columns(
        self,
        columns: list[str],
        fpp: float = 0.01,
        max_bits: int | None = None,
    ) -> None:
        """Declare bloom-index columns (Delta `bloomfilter index` /
        Iceberg puffin analog). ``columns=[]`` drops the index for future
        writes (existing file blooms stay in manifests; they remain
        correct, just unmaintained)."""
        from .._bloom import DEFAULT_MAX_BITS

        spec = {
            c: {"fpp": fpp, "max_bits": max_bits or DEFAULT_MAX_BITS}
            for c in columns
        }
        tmp = self._bloom_spec_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"blooms": spec}, f)
        os.replace(tmp, self._bloom_spec_path())

    # ---------- hidden partitioning ----------

    def partition_spec(self) -> list:
        """The table's hidden-partition spec ([] = unpartitioned). See
        table/partition.py for transforms and pruning semantics."""
        from .partition import read_spec

        return read_spec(self.metadata_dir)

    def set_partition_spec(self, spec: list, data_columns: list[str]) -> None:
        """Declare the INITIAL partition spec (create path). Only while the
        table is empty; use evolve_partition_spec on a table with data."""
        from .partition import read_spec, validate_spec, write_spec

        if read_spec(self.metadata_dir):
            raise ValueError(
                "partition spec already set; use evolve_partition_spec"
            )
        if self.current_snapshot_id() is not None:
            raise ValueError(
                "cannot set a partition spec on a table with committed data; "
                "use evolve_partition_spec (old files stay conservative)"
            )
        validate_spec(spec, data_columns)
        write_spec(self.metadata_dir, spec)

    def evolve_partition_spec(self, new_spec: list, data_columns: list[str]) -> None:
        """Partition evolution (Iceberg-style): future writes lay out under
        ``new_spec``; existing files keep the tuples they were written with.
        Pruning applies the UNION of all specs' fields per entry (an entry
        is pruned by exactly the fields its tuple carries), so both
        vintages keep exact pruning and mixed-vintage tables stay correct
        — a full ``cluster()`` migrates old files to the current layout.

        A field NAME reused across specs must keep an identical
        (source, transform): old tuples are keyed by name, so a silent
        redefinition (bucket[2] -> bucket[4] under one name) would prune
        old files with the wrong transform and lose rows. Changing a
        transform therefore requires a new field name."""
        from .partition import (
            read_spec_history,
            union_fields,
            validate_spec,
            write_spec_history,
        )

        validate_spec(new_spec, data_columns)
        history = read_spec_history(self.metadata_dir)
        if history and history[-1] == list(new_spec):
            return  # idempotent no-op
        union_fields(history + [list(new_spec)])  # raises on name redefinition
        write_spec_history(self.metadata_dir, history + [list(new_spec)])

    def partition_fields_for_pruning(self) -> list:
        """Union of every partition field ever declared (deduped by name,
        consistency-checked) — the field set the scan planner prunes with
        on a mixed-vintage table."""
        from .partition import read_spec_history, union_fields

        return union_fields(read_spec_history(self.metadata_dir))

    # ---------- schema evolution ----------

    def _schema_path(self) -> str:
        return os.path.join(self.metadata_dir, "schema.json")

    def schema_versions(self) -> list[dict]:
        """Schema history: [{"schema": <StructType.jsonValue()>,
        "as_of_snapshot": sid, "version": k}, ...] oldest-first. Empty if
        the table has never evolved (callers fall back to the default
        transcripts schema). Kept pyspark-free: this module returns raw
        JSON; table/scan.py converts to StructType."""
        try:
            with open(self._schema_path()) as f:
                return json.load(f)["versions"]
        except FileNotFoundError:
            return []

    def table_schema_json(self, snapshot_id: int | None = None) -> dict | None:
        """The schema current AT ``snapshot_id`` (default: now): latest
        version whose as_of_snapshot <= sid — so pinned time-travel reads
        see the schema the data had then, Iceberg-style."""
        versions = self.schema_versions()
        if not versions:
            return None
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            sid = 0  # no snapshots yet: the declared (as_of 0) schema applies
        best = None
        for v in versions:
            if v["as_of_snapshot"] <= sid:
                best = v
        return best["schema"] if best else None

    def schema_version_count(self) -> int:
        """Number of recorded schema versions (0 = never evolved)."""
        return len(self.schema_versions())

    def write_schema_version(self) -> int:
        """The version every writer stamps on its files (DataFileEntry.sv)
        when it resolves its write schema, so an evolution committing
        before the writer does cannot relabel them. Never evolved: 1, the
        number the first evolution gives the original shape."""
        return self.schema_version_count() or 1

    def schema_version_at(self, snapshot_id: int | None = None) -> int | None:
        """The schema VERSION NUMBER current at ``snapshot_id`` (default
        now); None if the table never evolved. Same resolution rule as
        table_schema_json (latest version with as_of_snapshot <= sid)."""
        versions = self.schema_versions()
        if not versions:
            return None
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            sid = 0  # no snapshots yet: the declared (as_of 0) version applies
        best = None
        for v in versions:
            if v["as_of_snapshot"] <= sid:
                best = v["version"]
        return best

    def append_schema_version(self, schema_json: dict, as_of_snapshot: int,
                              field_ids: dict | None = None,
                              mapped: bool = False) -> int:
        """Record a new schema version (atomic os.replace). Returns the
        version number. ``field_ids`` ({name: id}, Iceberg-style) binds
        the version's column NAMES to stable field identities — required
        for rename/widen versions; derivable for older add/drop-only
        history (table/fieldids.py). ``mapped=True`` marks a version whose
        reads REQUIRE per-file name/type mapping (rename or widen): the
        scan fast path stays a single plain read until one exists."""
        versions = self.schema_versions()
        rec = {
            "version": len(versions) + 1,
            "as_of_snapshot": as_of_snapshot,
            "schema": schema_json,
        }
        if field_ids is not None:
            rec["field_ids"] = field_ids
        if mapped:
            rec["mapped"] = True
        versions.append(rec)
        tmp = self._schema_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": versions}, f)
        os.replace(tmp, self._schema_path())
        return len(versions)

    # ---------- convenience ----------

    def _published_ids(self) -> set[int]:
        """Ids of PUBLISHED snapshots among the retained set: the current
        head's parent chain, plus every snapshot OLDER than the oldest
        ancestor the walk reaches (pre-gap history pinned by tags or
        ``keep_last``; the chain breaks at expired ancestors). The one
        rule: a snapshot off the chain above its floor is a crash orphan,
        written but never flipped to by VERSION, so never current."""
        chain: set[int] = set()
        sid = self.current_snapshot_id()
        while sid is not None:
            chain.add(sid)
            try:
                sid = self.snapshot(sid).parent_id
            except FileNotFoundError:
                break
        floor = min(chain) if chain else 0
        return chain | {s for s in self.snapshot_ids() if s < floor}

    def snapshot_id_as_of(self, ts_ms: int) -> int:
        """Time travel: the snapshot that was current at wall-clock
        ``ts_ms`` (latest published snapshot with timestamp_ms <= ts_ms)
        — Iceberg's ``FOR SYSTEM_TIME AS OF``. O(snapshots) metadata
        reads, no data. Raises ValueError if the table didn't exist yet
        at that time.

        Only published history qualifies (``_published_ids``): a crash
        orphan was never current at any wall-clock time."""
        chain = self._published_ids()
        best = None
        for sid in self.snapshot_ids():
            if sid not in chain:
                continue  # crash orphan — never current
            snap = self.snapshot(sid)
            if snap.timestamp_ms <= ts_ms and (best is None or sid > best):
                best = sid
        if best is None:
            raise ValueError(
                f"{self.root}: no snapshot at or before ts_ms={ts_ms} "
                f"(earliest is {self.snapshot_ids()[:1]})"
            )
        return best

    def snapshot_diff(self, from_id: int, to_id: int) -> dict:
        """Metadata-only diff between two snapshots: which files were
        added/removed and the row/byte deltas — the observability surface
        for 'what did that maintenance run actually do'. Reads manifests,
        never data (O(manifest), any table size)."""
        a = {e.path: e for e in self.entries(from_id)}
        b = {e.path: e for e in self.entries(to_id)}
        added = sorted(set(b) - set(a))
        removed = sorted(set(a) - set(b))
        return {
            "from": from_id,
            "to": to_id,
            "operation": self.snapshot(to_id).operation,
            "added_files": added,
            "removed_files": removed,
            "rows_delta": sum(b[p].rows for p in added) - sum(a[p].rows for p in removed),
            "bytes_delta": sum(b[p].bytes for p in added) - sum(a[p].bytes for p in removed),
        }

    def relpath(self, abs_path: str) -> str:
        return os.path.relpath(abs_path, self.root)

    def total_bytes(self, snapshot_id: int | None = None) -> int:
        return sum(e.bytes for e in self.entries(snapshot_id))

    def total_rows(self, snapshot_id: int | None = None) -> int:
        return sum(e.rows for e in self.entries(snapshot_id))


_STAT_MIN = "stat_min_"
_NULLC = "nullc_"
_STAT_MAX = "stat_max_"
_PART = "part_"
_BLOOM = "bloom_"
_ENTRY_SCALARS = ("path", "rows", "bytes", "seq", "sv")


def manifest_columns(names, blooms: bool = True) -> list[str]:
    """The parquet-manifest columns that decode into DataFileEntry fields:
    the scalars plus the stat_/nullc_/part_ prefixes (and bloom_ when
    ``blooms``). Selected positively, so a blob column the codec does not
    know — e.g. ndv_/dist_ sketches in manifests from older writers — is
    never read."""
    prefixes = (_STAT_MIN, _STAT_MAX, _NULLC, _PART) + ((_BLOOM,) if blooms else ())
    return [c for c in names if c in _ENTRY_SCALARS or c.startswith(prefixes)]


def _arrow_stat_type(values):
    import pyarrow as pa

    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):  # before int check: bool is an int subclass
            return pa.bool_()
        if isinstance(v, int):
            return pa.int64()
        if isinstance(v, float):
            return pa.float64()
        return pa.string()
    return pa.string()


def _write_manifest_parquet(path: str, entries: list[DataFileEntry]) -> None:
    """Typed columnar manifest: path/rows/bytes + stat_min_<col>/
    stat_max_<col> per stat key (type inferred from the values — ts is
    epoch-micros int64, conv_id string). No per-row parse on read: at
    800 k files this plans in tens of ms vs seconds for JSON."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stat_keys: list[str] = []
    seen: set[str] = set()
    for e in entries:
        for k in e.stats:
            if k not in seen:
                seen.add(k)
                stat_keys.append(k)
    arrays = {
        "path": pa.array([e.path for e in entries], pa.string()),
        "rows": pa.array([e.rows for e in entries], pa.int64()),
        "bytes": pa.array([e.bytes for e in entries], pa.int64()),
        "seq": pa.array([e.seq if e.seq is not None else 0 for e in entries],
                        pa.int64()),
    }
    if any(e.sv is not None for e in entries):
        # nullable on purpose: None = pre-evolution vintage (read path
        # resolves it to the derived-era schema); omitting the column
        # entirely keeps never-evolved tables' manifests byte-stable
        arrays["sv"] = pa.array([e.sv for e in entries], pa.int64())
    null_keys: list[str] = []
    nseen: set[str] = set()
    for e in entries:
        for k in (e.nulls or {}):
            if k not in nseen:
                nseen.add(k)
                null_keys.append(k)
    for k in null_keys:
        arrays[_NULLC + k] = pa.array(
            [(e.nulls or {}).get(k) for e in entries], pa.int64()
        )
    for k in stat_keys:
        mins = [e.stats[k][0] if k in e.stats else None for e in entries]
        maxs = [e.stats[k][1] if k in e.stats else None for e in entries]
        typ = _arrow_stat_type(mins + maxs)
        arrays[_STAT_MIN + k] = pa.array(mins, typ)
        arrays[_STAT_MAX + k] = pa.array(maxs, typ)
    part_keys: list[str] = []
    pseen: set[str] = set()
    for e in entries:
        for k in (e.partition or {}):
            if k not in pseen:
                pseen.add(k)
                part_keys.append(k)
    for k in part_keys:
        vals = [(e.partition or {}).get(k) for e in entries]
        arrays[_PART + k] = pa.array(vals, _arrow_stat_type(vals))
    bloom_keys: list[str] = []
    bseen: set[str] = set()
    for e in entries:
        for k in (e.blooms or {}):
            if k not in bseen:
                bseen.add(k)
                bloom_keys.append(k)
    for k in bloom_keys:
        # compact-JSON bytes per file; the PLANNER never reads these
        # columns for range pruning (scan._arrow_pruned_entries selects
        # stat columns only) — bloom refinement re-reads (path, bloom_<k>)
        # filtered to the min/max survivors
        arrays[_BLOOM + k] = pa.array(
            [
                json.dumps(e.blooms[k], separators=(",", ":")).encode()
                if e.blooms and k in e.blooms
                else None
                for e in entries
            ],
            pa.binary(),
        )
    pq.write_table(pa.table(arrays), path, compression="zstd")


def arrow_manifest_to_entries(t) -> list[DataFileEntry]:
    """Materialize DataFileEntry objects from an (optionally pre-filtered)
    arrow manifest table. Python-object cost is O(rows materialized) — the
    planning fast path (scan.planned_entries) filters vectorized FIRST so
    this loop only ever runs over pruning survivors."""
    stat_keys = [c[len(_STAT_MIN):] for c in t.column_names if c.startswith(_STAT_MIN)]
    part_keys = [c[len(_PART):] for c in t.column_names if c.startswith(_PART)]
    bloom_keys = [c[len(_BLOOM):] for c in t.column_names if c.startswith(_BLOOM)]
    null_keys = [c[len(_NULLC):] for c in t.column_names if c.startswith(_NULLC)]
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    seqs = cols.get("seq")  # pre-seq manifests: default 0 (legacy)
    svs = cols.get("sv")  # pre-evolution manifests: None (legacy vintage)
    out: list[DataFileEntry] = []
    for i in range(t.num_rows):
        stats = {}
        for k in stat_keys:
            mn, mx = cols[_STAT_MIN + k][i], cols[_STAT_MAX + k][i]
            if mn is not None or mx is not None:
                stats[k] = [mn, mx]
        part = None
        for k in part_keys:
            v = cols[_PART + k][i]
            if v is not None:
                part = part or {}
                part[k] = v
        blooms = None
        for k in bloom_keys:
            b = cols[_BLOOM + k][i]
            if b is not None:
                blooms = blooms or {}
                blooms[k] = json.loads(b)
        nulls = None
        for k in null_keys:
            n = cols[_NULLC + k][i]
            if n is not None:
                nulls = nulls or {}
                nulls[k] = int(n)
        out.append(
            DataFileEntry(path=cols["path"][i], rows=cols["rows"][i],
                          bytes=cols["bytes"][i], stats=stats,
                          seq=seqs[i] if seqs is not None else 0,
                          partition=part, blooms=blooms,
                          sv=svs[i] if svs is not None else None,
                          nulls=nulls)
        )
    return out


def _read_manifest_parquet(path: str) -> list[DataFileEntry]:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    return arrow_manifest_to_entries(
        pf.read(columns=manifest_columns(pf.schema_arrow.names)))


def _stamp_seq(added: list[DataFileEntry], sid: int,
               sv: int | None = None) -> None:
    """Give unstamped entries this commit's data sequence number; entries
    carrying an explicit seq (rewrites preserving old rows) keep it.
    ``sv`` (the table's CURRENT schema version at commit) backfills
    entries whose writer didn't stamp their write-schema version — a
    safety net only: every engine writer stamps
    ``Table.write_schema_version()`` from its plan time, which stays
    correct even if an evolution lands between plan and commit."""
    for e in added:
        if e.seq is None:
            e.seq = sid
        if e.sv is None and sv:
            e.sv = sv


def _summarize(added: list[DataFileEntry], extra: dict | None) -> dict:
    s = {
        "added_files": len(added),
        "added_rows": sum(e.rows for e in added),
        "added_bytes": sum(e.bytes for e in added),
    }
    if extra:
        s.update(extra)
    return s
