"""Zero-copy table clone (Delta SHALLOW CLONE / Snowflake zero-copy
analog).

Because data files are IMMUTABLE in this table format (every write path
creates new files; deletes only drop references), a clone can share the
source's data bytes safely: copy the metadata tree (snapshots,
manifests, refs, declared specs) and HARDLINK every referenced data
file into the clone's data dir — O(files) metadata ops, zero bytes
copied, and the two tables diverge independently from that instant:

- writes on either side create new files under their own root;
- copy-on-write deletes/rewrites drop references (the other side's
  hardlink keeps the inode alive);
- snapshot expiration + orphan GC unlink only the caller's own link —
  the inode survives until BOTH tables release it.

What is deliberately NOT cloned: the commit lock, in-flight multi-table
transaction markers (``metadata/txns/`` — a clone is not a participant
of the source's transactions), and resume checkpoints (``*.ckpt.jsonl``
— a clone cannot resume the source's half-done maintenance runs).

Cross-filesystem fallback: when ``os.link`` fails (EXDEV), the file is
byte-copied — same semantics, not zero-copy; reported in the metrics.

Reference analog: none (the reference has one live zone per table;
environment cloning is done by re-running the ETL). This is the
test/dev-branching story a real deployment expects: clone prod, run the
risky migration on the clone, diff, throw it away.
"""

from __future__ import annotations

import os
import shutil

from ..table.meta import Table

#: metadata entries never copied into a clone (see module docstring)
_SKIP_META = ("COMMIT.lock",)
_SKIP_META_DIRS = ("txns",)
_SKIP_META_SUFFIXES = (".ckpt.jsonl", ".tmp")


def shallow_clone(src: Table | str, dst_root: str) -> dict:
    """Clone ``src`` (Table or root path) to ``dst_root`` without
    copying data bytes. The clone carries the full retained snapshot
    history, tags, branches, and every declared spec (schema versions,
    partition spec, blooms, constraints),
    so time travel and maintenance work on it exactly as on the source.

    Returns {"files_linked", "files_copied", "bytes_shared", "root"}.
    Refuses a non-empty destination."""
    t = src if isinstance(src, Table) else Table.load(src)
    if t.branch is not None:
        raise ValueError("clone from a branch handle is not supported; "
                         "clone main (branch pointers come along)")
    if os.path.exists(dst_root) and os.listdir(dst_root):
        raise ValueError(f"clone destination {dst_root!r} is not empty")
    dst = Table.create(dst_root)
    try:
        # the capture runs under the SOURCE's commit lock: no snapshot can
        # land between the metadata copy and the data-link loop, and
        # expire's delete phase (which also takes the lock) cannot GC a
        # file out from under the capture (review finding)
        with t._commit_lock():
            return _capture(t, dst, dst_root)
    except BaseException:
        # never leave a half-built clone: the non-empty guard would
        # otherwise refuse the retry after a mid-build failure
        shutil.rmtree(dst_root, ignore_errors=True)
        raise


def _capture(t: Table, dst: Table, dst_root: str) -> dict:
    # metadata tree: snapshots, manifests, VERSION, refs, specs
    for fn in sorted(os.listdir(t.metadata_dir)):
        src_p = os.path.join(t.metadata_dir, fn)
        if fn in _SKIP_META or fn.endswith(_SKIP_META_SUFFIXES):
            continue
        if os.path.isdir(src_p):
            if fn in _SKIP_META_DIRS:
                continue
            shutil.copytree(src_p, os.path.join(dst.metadata_dir, fn))
            continue
        if fn.startswith("snap-") and fn.endswith(".json"):
            # skip staged snapshots belonging to in-flight MULTI-TABLE
            # transactions (summary carries both 'staged' and 'txn_log'):
            # the clone deliberately drops txns/ markers, so these could
            # never heal or publish there — but once the SOURCE's shared
            # log reads committed, the clone's copy would count as
            # logically published and pin its files forever (ADVICE r5).
            # Plain single-table WAP stages (no txn_log) age out normally
            # and are kept, as before.
            import json as _json

            try:
                with open(src_p) as f:
                    summ = (_json.load(f).get("summary") or {})
                if summ.get("staged") and summ.get("txn_log"):
                    continue
            except (OSError, ValueError):
                pass  # unreadable snapshot file: copy as before
        shutil.copy2(src_p, os.path.join(dst.metadata_dir, fn))

    # every data file (and MoR tombstone file) referenced by ANY retained
    # snapshot — not just the head: the clone keeps the full history
    rel_paths: set[str] = set()
    for sid in t.snapshot_ids():
        snap = t.snapshot(sid)
        rel_paths.update(snap.tombstone_paths)
        for e in t.entries(sid):
            rel_paths.add(e.path)
    linked = copied = shared = copied_bytes = 0
    for rel in sorted(rel_paths):
        s = os.path.join(t.root, rel)
        d = os.path.join(dst.root, rel)
        if not os.path.exists(s):
            raise FileNotFoundError(
                f"clone source is missing referenced file {rel!r} — run "
                f"verify_table on the source (bit-rot / manual deletion)")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.link(s, d)
            linked += 1
            shared += os.path.getsize(s)
        except OSError:
            shutil.copy2(s, d)  # EXDEV etc.: same semantics, real bytes
            copied += 1
            copied_bytes += os.path.getsize(s)
    return {"root": dst_root, "files_linked": linked,
            "files_copied": copied, "bytes_shared": shared,
            "bytes_copied": copied_bytes,
            "snapshots": len(t.snapshot_ids())}
