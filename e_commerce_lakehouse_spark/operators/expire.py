"""Op-4: snapshot expiration + orphan-file GC.

Reference analog: the archival lifecycle (move processed files out of the
live zone, `/root/reference/src/lambda/file_archiver.py:26-64`) and the
disabled Delta retention check
(`retentionDurationCheck.enabled=false`, `config/aws_config.py:67`).

Semantics (Iceberg-style):
- RETAINED snapshots: the current one plus the most recent ``keep_last``
  (and/or anything newer than ``older_than_ms``). Readers may pin any
  retained snapshot id (snapshot isolation).
- EXPIRED snapshot JSON files are deleted; manifests referenced only by
  expired snapshots are deleted.
- ORPHAN GC: any file under data/ referenced by NO retained snapshot is
  deleted — this covers both files only old snapshots referenced and
  debris from crashed writes that never committed (table/meta.py's
  crash-before-flip case).
- ORPHAN GRACE: an UNREFERENCED orphan (on disk, in NO snapshot living
  or expired — crash debris or a concurrent writer's in-flight files)
  younger than ``orphan_grace_ms`` is skipped, Iceberg's
  remove_orphan_files ``older_than``: a concurrent appender writes its
  data files BEFORE taking the commit lock, so a zero-grace GC racing
  that window would delete files the imminent commit references —
  corrupting the table the moment it flips. The commit lock cannot
  protect this window (the files exist before any lock is taken); only
  an age bound can. Files referenced by EXPIRED snapshots and files
  released by a stale-checkpoint prune are exempt — both are governed
  by their own rules (retention / stale_checkpoint_ms), no in-flight
  commit can reference them, and waiting on them would just delay
  reclaim. Pass ``orphan_grace_ms=0`` when the caller KNOWS no writer
  is in flight (tests, single-process reclaim).
"""

from __future__ import annotations

import os

from ..table.meta import Table


#: checkpoints untouched for this long are considered ABANDONED (not a
#: live resume-in-progress): their protection lapses and the checkpoint
#: file itself is pruned, so the orphan outputs it pinned become
#: collectable. Without a bound, a compact/cluster killed once and never
#: resumed pins its outputs (and the _tmp-cluster stage-1 copy) forever —
#: on tmpfs-backed tables that is unreclaimable RAM (round-2 advice).
DEFAULT_STALE_CHECKPOINT_MS = 24 * 3600 * 1000

#: unreferenced on-disk files younger than this survive orphan GC — the
#: in-flight-writer window (see module docstring). 24 h matches the
#: stale-checkpoint bound: both answer "how long can a legitimate write
#: be mid-flight"; a 100 TB append can spend hours writing before its
#: commit, so minutes-scale grace is not enough at target scale.
DEFAULT_ORPHAN_GRACE_MS = 24 * 3600 * 1000


def expire_snapshots(
    table: Table,
    keep_last: int = 2,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    stale_checkpoint_ms: int | None = DEFAULT_STALE_CHECKPOINT_MS,
    orphan_grace_ms: int = DEFAULT_ORPHAN_GRACE_MS,
) -> dict:
    ids = table.snapshot_ids()
    current = table.current_snapshot_id()
    if current is None:
        raise ValueError("empty table")
    retained = set(ids[-max(1, keep_last):]) | {current}
    if older_than_ms is not None:
        for sid in ids:
            if table.snapshot(sid).timestamp_ms >= older_than_ms:
                retained.add(sid)
    # tagged snapshots are pinned until untagged (Iceberg tag semantics)
    retained |= {sid for sid in table.tags().values() if sid in set(ids)}
    expired = [sid for sid in ids if sid not in retained]

    live_rel: set[str] = set()
    live_manifests: set[str] = set()
    for sid in retained:
        snap = table.snapshot(sid)
        live_manifests.update(snap.manifests)
        live_rel.update(snap.tombstone_paths)  # MoR key-tombstone files
        for e in table.entries(sid):
            live_rel.add(e.path)

    # files referenced by LIVE resume checkpoints are protected: a crashed
    # compact/cluster has committed nothing, but its finished groups'
    # outputs (recorded in metadata/*.ckpt.jsonl) are exactly what resume
    # reuses — GC'ing them would let resume commit a snapshot pointing at
    # deleted files (the operators also re-verify on resume, belt+braces).
    # Protection is AGE-BOUNDED: a checkpoint whose file hasn't been
    # touched in stale_checkpoint_ms is an abandoned run, not a pending
    # resume — it is pruned and its outputs fall through to orphan GC
    # (resume after pruning is still correct: the operator re-runs the
    # groups whose outputs vanished — see compact's trust-but-verify).
    import glob
    import time

    from ..checkpoint import Checkpoint

    protected_dirs: set[str] = set()
    stale_checkpoints: list[str] = []
    #: files a just-pruned STALE checkpoint pinned: known-abandoned, so
    #: they bypass the orphan grace (no in-flight commit references them)
    released_by_stale: set[str] = set()
    now_ms = time.time() * 1000
    for ck in glob.glob(os.path.join(table.metadata_dir, "*.ckpt.jsonl")):
        if (
            stale_checkpoint_ms is not None
            and now_ms - os.path.getmtime(ck) * 1000 > stale_checkpoint_ms
        ):
            stale_checkpoints.append(ck)
            for rec in Checkpoint(ck).records():
                for p in rec.get("output_files") or []:
                    released_by_stale.add(p)
                for d in rec.get("outputs") or []:
                    if isinstance(d, dict) and d.get("path"):
                        released_by_stale.add(d["path"])
                td = rec.get("tmp_dir")
                if td:
                    released_by_stale.add(
                        os.path.relpath(td, table.root) + os.sep
                    )
            continue
        for rec in Checkpoint(ck).records():
            for p in rec.get("output_files") or []:
                live_rel.add(p)
            for d in rec.get("outputs") or []:
                if isinstance(d, dict) and d.get("path"):
                    live_rel.add(d["path"])
            td = rec.get("tmp_dir")
            if td:  # sharded cluster's stage-1 copy: GC'ing it forces a
                # full stage-1 redo on resume (correct but wasted work)
                protected_dirs.add(os.path.relpath(td, table.root))

    # files referenced by EXPIRED snapshots: committed debris, deletable
    # under the retention rule with no grace (read BEFORE their snap
    # files are removed below)
    expired_refs: set[str] = set()
    for sid in expired:
        snap = table.snapshot(sid)
        expired_refs.update(snap.tombstone_paths)
        for e in table.entries(sid):
            expired_refs.add(e.path)

    # orphan data files = on disk but in no retained snapshot
    on_disk = []
    skipped_young = 0
    for dirpath, _dirs, files in os.walk(table.data_dir):
        for fn in files:
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, table.root)
            if any(rel.startswith(d + os.sep) for d in protected_dirs):
                continue
            if rel in live_rel:
                continue
            if rel not in expired_refs and rel not in released_by_stale and not any(
                rel.startswith(d) for d in released_by_stale if d.endswith(os.sep)
            ):
                # UNREFERENCED: crash debris or an in-flight writer's
                # files — only deletable past the grace window
                if now_ms - os.path.getmtime(p) * 1000 < orphan_grace_ms:
                    skipped_young += 1
                    continue
            on_disk.append(rel)
    orphans = sorted(set(on_disk) - live_rel)

    # manifests referenced only by expired snapshots
    dead_manifests = set()
    for sid in expired:
        dead_manifests.update(table.snapshot(sid).manifests)
    dead_manifests -= live_manifests

    if not dry_run:
        # the DELETE phase runs under the commit lock: the retained-set
        # computation above is race-safe by design (new commits' files
        # are grace-protected orphans, old snapshots only get less
        # retained), but the deletions themselves must not interleave
        # with a metadata capture like operators/clone.shallow_clone
        # holding the same lock (review finding)
        with table._commit_lock():
            for ck in stale_checkpoints:
                os.remove(ck)
            for rel in orphans:
                os.remove(os.path.join(table.root, rel))
            # remove now-empty data subdirectories
            for dirpath, dirs, files in os.walk(table.data_dir, topdown=False):
                if dirpath != table.data_dir and not os.listdir(dirpath):
                    os.rmdir(dirpath)
            for m in dead_manifests:
                mp = os.path.join(table.metadata_dir, m)
                if os.path.exists(mp):
                    os.remove(mp)
            for sid in expired:
                os.remove(os.path.join(table.metadata_dir,
                                       f"snap-{sid:08d}.json"))
            # expired snapshots must fail reads immediately — drop any
            # memoized entry lists so this instance can't serve a deleted
            # snapshot
            table._entries_cache.clear()

    return {
        "retained_snapshots": sorted(retained),
        "expired_snapshots": expired,
        "deleted_data_files": len(orphans),
        "deleted_manifests": len(dead_manifests),
        "pruned_stale_checkpoints": len(stale_checkpoints),
        "skipped_young_orphans": skipped_young,
        "dry_run": dry_run,
    }
