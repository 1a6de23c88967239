"""Thin spark-submit driver for the lakehouse maintenance engine.

Ships per the north rule as::

    make package
    spark-submit --py-files dist/engine.zip run_maintenance.py \
        --table /path/to/table --op compact --target-mb 128

Replaces the reference's Step Functions orchestration
(`/root/reference/src/step_functions/etl_orchestrator.json`): control flow
is a deterministic driver; resumability comes from the operators' own
file-group checkpoints. Transient failures (executor loss, filesystem
hiccup) additionally RETRY with exponential backoff — the reference's
Retry states (`etl_orchestrator.json:133-159`, IntervalSeconds 30,
BackoffRate 2.0) — and because every maintenance op checkpoints per file
group, a retried stage re-runs only its unfinished groups.
"""

from __future__ import annotations

import argparse
import json
import sys


# the shared retry loop lives in the package (pipeline.with_retries);
# re-exported here for CLI use and existing imports
from e_commerce_lakehouse_spark.pipeline import with_retries  # noqa: E402


def _parse_partition_by(arg: str):
    """Parse ``'day(ts),bucket[16](conv_id)'`` into PartitionFields.
    Derived names embed the bucket width (``conv_id_bucket16``) so
    evolving the width declares a NEW field name — required, since a
    name reused across specs must keep an identical transform."""
    import re as _re

    from e_commerce_lakehouse_spark.table.partition import PartitionField

    spec = []
    for term in arg.split(","):
        m = _re.match(r"^\s*(identity|day|bucket\[(\d+)\])\((\w+)\)\s*$", term)
        if not m:
            raise SystemExit(f"bad --partition-by term: {term!r}")
        transform, width, src = m.group(1), m.group(2), m.group(3)
        suffix = f"bucket{width}" if width else transform
        spec.append(PartitionField(f"{src}_{suffix}", src, transform))
    if not spec:
        raise SystemExit("--partition-by is required for this op")
    return spec


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="lakehouse table maintenance")
    p.add_argument("--table", required=True, help="table root directory")
    p.add_argument(
        "--op",
        required=True,
        choices=[
            "create", "compact", "cluster", "merge", "rewrite-manifests",
            "expire", "ingest", "ingest-append", "inspect", "diff", "rollback",
            "add-columns", "drop-columns", "rename-column",
            "widen-column", "tag", "untag", "analyze",
            "consume", "history", "delete", "update",
            "add-constraint", "drop-constraint", "constraints",
            "materialize-deletes", "skipping-report", "verify", "pipeline",
            "consume-changes", "register", "unregister", "catalog-sql",
            "evolve-partition", "create-branch", "delete-branch",
            "branches", "fast-forward", "replicate", "set-bloom",
            "retention", "count", "depth-report", "semi-scan",
            "txn-heal", "txn-vacuum", "txn-ingest", "clone",
        ],
    )
    p.add_argument("--target-mb", type=int, default=128, help="target data-file MB")
    p.add_argument("--partial-commits", type=int, default=None,
                   help="compact: enable partial-progress commits, capped at "
                        "this many snapshots per run (Iceberg "
                        "partial-progress.enabled/max-commits)")
    p.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    p.add_argument("--key-cols", default=None,
                   help="cluster: comma-separated 1-2 key columns "
                        "(default: the built-in (conv_id, ts) pair)")
    p.add_argument("--shards", type=int, default=1, help="cluster: resumable shard count")
    p.add_argument("--source", help="merge: corrections parquet path; ingest: landing dir")
    p.add_argument("--checkpoint", help="checkpoint path (ops) / dir (ingest)")
    p.add_argument("--ingest-format", default="parquet", choices=["parquet", "csv"],
                   help="ingest-append: landing-file format")
    p.add_argument("--keep-last", type=int, default=2, help="expire: snapshots to retain")
    p.add_argument("--before-ts", default=None,
                   help="retention: ISO timestamp; DELETE rows with ts < this")
    p.add_argument("--ts-range", default=None, metavar="LO/HI",
                   help="count: ISO-8601 interval LO/HI (either side blank = "
                        "open; '/' because ISO timestamps contain ':')")
    p.add_argument("--orphan-grace-ms", type=int, default=None,
                   help="expire: age an UNREFERENCED on-disk file must reach "
                        "before orphan GC may delete it (default 24h — the "
                        "in-flight-writer window; 0 = collect immediately)")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--n-turns", type=int, default=100_000, help="create: synthetic turns")
    p.add_argument("--partition-by", default=None,
                   help="create/evolve-partition: hidden-partition "
                        "transforms, e.g. 'day(ts),bucket[16](conv_id)' "
                        "(field names are derived: ts_day, conv_id_bucket16)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--retries", type=int, default=3,
                   help="attempts per stage with exponential backoff (checkpoint-resumed)")
    p.add_argument("--retry-backoff", type=float, default=2.0,
                   help="initial backoff seconds (doubles per attempt)")
    p.add_argument("--dest", default=None,
                   help="clone: destination root for the zero-copy clone")
    p.add_argument("--txn-dir", default=None,
                   help="txn-vacuum: the shared transaction-log directory")
    p.add_argument("--snapshot", type=int, default=None,
                   help="inspect: pin a snapshot id; diff: the FROM snapshot; "
                        "rollback: the snapshot to restore")
    p.add_argument("--columns", default=None,
                   help="add-columns: name:type[,name:type...]; "
                        "drop-columns: name[,name...]; "
                        "rename-column: old:new; widen-column: name:type")
    p.add_argument("--tag-name", default=None, help="tag/untag: the ref name")
    p.add_argument("--to-snapshot", type=int, default=None, help="diff: the TO snapshot")
    p.add_argument("--predicate", default=None,
                   help="delete/update: SQL WHERE predicate; "
                        "add-constraint: the CHECK predicate")
    p.add_argument("--constraint-name", default=None,
                   help="add-constraint/drop-constraint: the constraint name")
    p.add_argument("--order-preserving", action="store_true",
                   help="compact: pack consecutive key ranges (use on clustered tables)")
    p.add_argument("--check-blooms", action="store_true",
                   help="verify: audit bloom indexes for false negatives "
                        "(reads the indexed column's data pages)")
    p.add_argument("--incremental", action="store_true",
                   help="cluster: rewrite only files appended/rewritten since "
                        "the last cluster commit (liquid-style; seq-selected)")
    p.add_argument("--mode", default="copy-on-write",
                   choices=["copy-on-write", "merge-on-read"],
                   help="delete: cow rewrites touched files; mor writes key tombstones only")
    p.add_argument("--conv-id-range", default=None, metavar="LO:HI",
                   help="compact/cluster: scope the rewrite to files whose conv_id "
                        "stats overlap [LO, HI] (either side empty = unbounded)")
    p.add_argument("--keys", default=None,
                   help="semi-scan: comma-separated build-side key values "
                        "(ints auto-cast when every value is numeric)")
    p.add_argument("--keys-file", default=None,
                   help="semi-scan: parquet file of build-side keys (its "
                        "--key-cols column; for key sets too large for "
                        "--keys)")
    p.add_argument("--eq", default=None, metavar="COL=VALUE",
                   help="skipping-report: generic point predicate on any "
                        "stat-tracked (and bloom-indexed) column; integer "
                        "values auto-cast")
    p.add_argument("--set", default=None, dest="set_exprs",
                   help="update: semicolon-separated col=SQL-expr assignments")
    p.add_argument("--stages", default="compact,cluster,rewrite-manifests,expire",
                   help="pipeline: comma-separated stage list")
    p.add_argument("--bloom-columns", default=None,
                   help="set-bloom: comma-separated columns to bloom-index "
                        "(empty string drops the index for future writes)")
    p.add_argument("--bloom-fpp", type=float, default=0.01,
                   help="set-bloom: target false-positive probability")
    p.add_argument("--tables", default=None,
                   help="pipeline: comma-separated EXTRA table roots to fan out "
                        "with --table in parallel (per-branch catch)")
    p.add_argument("--catalog", default=None,
                   help="register/unregister/catalog-sql: catalog JSON path")
    p.add_argument("--name", default=None,
                   help="register/unregister: catalog table name")
    p.add_argument("--query", default=None,
                   help="catalog-sql: SQL to run after attaching the catalog")
    p.add_argument("--branch", default=None,
                   help="run the op against this branch's head instead of "
                        "main (create-branch/delete-branch/fast-forward: "
                        "the branch name itself)")
    args = p.parse_args(argv)

    from e_commerce_lakehouse_spark.operators import (
        cluster, compact, expire_snapshots, merge_into, rewrite_manifests,
    )
    from e_commerce_lakehouse_spark.session import get_spark
    from e_commerce_lakehouse_spark.table.meta import Table

    target_bytes = args.target_mb << 20
    result: dict

    if args.op in ("register", "unregister"):  # metadata-only
        from e_commerce_lakehouse_spark.catalog import Catalog

        if not (args.catalog and args.name):
            p.error(f"--op {args.op} requires --catalog and --name")
        cat = Catalog(args.catalog)
        if args.op == "register":
            result = {"registered": args.name,
                      **cat.register(args.name, args.table,
                                     snapshot_id=args.snapshot,
                                     ref=args.tag_name)}
        else:
            result = {"unregistered": args.name, **cat.unregister(args.name)}
    elif args.op in ("create-branch", "delete-branch", "branches",
                     "fast-forward"):  # metadata-only branch management
        t = Table.load(args.table)  # branch ops act on main's view
        if args.op == "branches":
            result = {"branches": t.branches(),
                      "main": t.current_snapshot_id()}
        elif not args.branch:
            p.error(f"--op {args.op} requires --branch")
        elif args.op == "create-branch":
            bt = t.create_branch(args.branch, snapshot_id=args.snapshot)
            result = {"branch": args.branch, "head": bt.current_snapshot_id()}
        elif args.op == "delete-branch":
            result = {"deleted": args.branch, "was_at": t.delete_branch(args.branch)}
        else:
            result = {"fast_forwarded_to": t.fast_forward(args.branch),
                      "branch": args.branch}
    elif args.op == "expire":  # metadata-only: no Spark session needed
        kw = ({"orphan_grace_ms": args.orphan_grace_ms}
              if args.orphan_grace_ms is not None else {})
        result = expire_snapshots(Table.load(args.table, branch=args.branch), keep_last=args.keep_last,
                                  dry_run=args.dry_run, **kw)
    elif args.op == "rewrite-manifests":
        result = rewrite_manifests(Table.load(args.table, branch=args.branch))
    elif args.op == "history":  # metadata-only
        result = {"history": Table.load(args.table, branch=args.branch).history()}
    elif args.op in ("tag", "untag"):  # metadata-only
        if not args.tag_name:
            p.error(f"--op {args.op} requires --tag-name")
        t = Table.load(args.table, branch=args.branch)
        if args.op == "tag":
            sid = t.create_tag(args.tag_name, snapshot_id=args.snapshot)
            result = {"tag": args.tag_name, "snapshot": sid, "tags": t.tags()}
        else:
            sid = t.delete_tag(args.tag_name)
            result = {"untagged": args.tag_name, "was": sid, "tags": t.tags()}
    elif args.op in ("add-columns", "drop-columns"):  # metadata-only
        from e_commerce_lakehouse_spark.operators.schema_evolution import (
            add_columns, drop_columns,
        )

        if not args.columns:
            p.error(f"--op {args.op} requires --columns")
        if args.op == "add-columns":
            fields = []
            for spec in args.columns.split(","):
                name, _, type_str = spec.partition(":")
                if not type_str:
                    p.error(f"--columns for add-columns is name:type[,...]; got {spec!r}")
                fields.append((name.strip(), type_str.strip()))
            result = add_columns(Table.load(args.table, branch=args.branch), fields)
        else:
            result = drop_columns(
                Table.load(args.table, branch=args.branch), [c.strip() for c in args.columns.split(",")]
            )
    elif args.op == "retention":
        import datetime as dt

        from e_commerce_lakehouse_spark.operators.metaagg import retention_delete
        from e_commerce_lakehouse_spark.session import get_spark

        if not args.before_ts:
            p.error("--op retention requires --before-ts")
        spark = get_spark(app_name="retention")
        result = with_retries(
            lambda: retention_delete(
                spark, Table.load(args.table, branch=args.branch),
                dt.datetime.fromisoformat(args.before_ts),
                target_bytes=args.target_mb * 1024 * 1024,
            ),
            attempts=args.retries, backoff_s=args.retry_backoff,
        )
    elif args.op == "count":
        import datetime as dt

        from e_commerce_lakehouse_spark.operators.metaagg import metadata_count
        from e_commerce_lakehouse_spark.session import get_spark

        ts_range = None
        if args.ts_range:
            lo, _, hi = args.ts_range.partition("/")
            ts_range = (dt.datetime.fromisoformat(lo) if lo else None,
                        dt.datetime.fromisoformat(hi) if hi else None)
        eq = None
        if args.eq:
            c, _, v = args.eq.partition("=")
            # same auto-cast rule as skipping-report (--eq help text)
            eq = {c: int(v) if v.lstrip("-").isdigit() else v}
        spark = get_spark(app_name="count")
        result = metadata_count(
            spark, Table.load(args.table, branch=args.branch),
            ts_range=ts_range, eq=eq, snapshot_id=args.snapshot,
        )
    elif args.op == "clone":  # zero-copy shallow clone (metadata-only)
        from e_commerce_lakehouse_spark.operators.clone import shallow_clone

        if not args.dest:
            p.error("--op clone requires --dest <new table root>")
        # --branch surfaces shallow_clone's own clear refusal instead of
        # silently cloning main (review finding)
        result = shallow_clone(Table.load(args.table, branch=args.branch),
                               args.dest)
    elif args.op == "txn-heal":  # finish/clean multi-table transactions
        from e_commerce_lakehouse_spark.table.txn import heal_table_txns

        result = heal_table_txns(Table.load(args.table))
    elif args.op == "txn-vacuum":  # GC decided txn logs (see table/txn.py)
        from e_commerce_lakehouse_spark.table.txn import vacuum_txn_logs

        if not args.txn_dir:
            p.error("--op txn-vacuum requires --txn-dir")
        result = vacuum_txn_logs(args.txn_dir)
    elif args.op == "depth-report":  # metadata-only clustering audit
        from e_commerce_lakehouse_spark.operators.analyze import (
            clustering_depth_report,
        )

        if not args.columns:
            p.error("--op depth-report requires --columns <one key column>")
        key = args.columns.split(",")[0].strip()
        t = Table.load(args.table, branch=args.branch)
        result = clustering_depth_report(t, key, snapshot_id=args.snapshot)
    elif args.op == "rename-column":  # metadata-only (field-id binding)
        from e_commerce_lakehouse_spark.operators.schema_evolution import (
            rename_column,
        )

        if not args.columns or ":" not in args.columns:
            p.error("--op rename-column requires --columns old:new")
        old_name, _, new_name = args.columns.partition(":")
        result = rename_column(Table.load(args.table, branch=args.branch),
                               old_name.strip(), new_name.strip())
    elif args.op == "widen-column":  # metadata-only (lossless cast on read)
        from e_commerce_lakehouse_spark.operators.schema_evolution import (
            widen_column,
        )

        if not args.columns or ":" not in args.columns:
            p.error("--op widen-column requires --columns name:type")
        name, _, type_str = args.columns.partition(":")
        result = widen_column(Table.load(args.table, branch=args.branch),
                              name.strip(), type_str.strip())
    elif args.op == "drop-constraint":  # metadata-only
        from e_commerce_lakehouse_spark.operators.constraints import drop_constraint

        if not args.constraint_name:
            p.error("--op drop-constraint requires --constraint-name")
        result = drop_constraint(Table.load(args.table, branch=args.branch), args.constraint_name)
    elif args.op == "constraints":  # metadata-only
        result = {"constraints": Table.load(args.table, branch=args.branch).constraints()}
    elif args.op == "set-bloom":  # metadata-only
        if args.bloom_columns is None:
            p.error("--op set-bloom requires --bloom-columns (may be empty to drop)")
        t = Table.load(args.table, branch=args.branch)
        t.set_bloom_columns(
            [c for c in args.bloom_columns.split(",") if c], fpp=args.bloom_fpp
        )
        result = {"blooms": t.bloom_spec()}
    elif args.op == "skipping-report":  # metadata-only planning probe
        from e_commerce_lakehouse_spark.table.scan import prune_entries

        t = Table.load(args.table, branch=args.branch)
        conv_range = None
        if args.conv_id_range:
            lo, _, hi = args.conv_id_range.partition(":")
            conv_range = (lo or None, hi or None)
        eq = None
        if args.eq:
            col, _, val = args.eq.partition("=")
            eq = {col: int(val) if val.lstrip("-").isdigit() else val}
        entries = t.entries(args.snapshot)
        kept = prune_entries(entries, conv_id_range=conv_range, eq=eq)
        # attribution: how much skipping came from [min,max] stats alone
        # vs the bloom membership refinement on top
        import dataclasses as _dc

        stats_only = prune_entries(
            [_dc.replace(e, blooms=None) for e in entries],
            conv_id_range=conv_range, eq=eq,
        )
        result = {
            "snapshot": args.snapshot or t.current_snapshot_id(),
            "conv_id_range": conv_range,
            "eq": eq,
            "total_files": len(entries),
            "files_kept_by_stats": len(stats_only),
            "files_bloom_refined_away": len(stats_only) - len(kept),
            "files_scanned": len(kept),
            "files_skipped": len(entries) - len(kept),
            "bytes_scanned": sum(e.bytes for e in kept),
            "bytes_skipped": sum(e.bytes for e in entries) - sum(e.bytes for e in kept),
            "rows_scanned_upper_bound": sum(e.rows for e in kept),
            "skip_ratio": round(1 - len(kept) / max(1, len(entries)), 4),
        }
    elif args.op == "semi-scan":  # join-driven dynamic file pruning
        from e_commerce_lakehouse_spark.session import get_spark
        from e_commerce_lakehouse_spark.table.scan import scan_semi_join

        if not args.key_cols or not (args.keys or args.keys_file):
            p.error("--op semi-scan requires --key-cols COL and "
                    "--keys v1,v2,... (or --keys-file keys.parquet)")
        key_col = args.key_cols.split(",")[0].strip()
        t = Table.load(args.table, branch=args.branch)
        spark = get_spark(app_name="semi-scan")
        if args.keys_file:
            keys_in = spark.read.parquet(args.keys_file)
        else:
            # type --keys by the COLUMN's schema type, not by how the
            # values look: '007' on a string column must stay '007'
            # (int-cast would probe the wrong bucket/bloom — review
            # finding); int columns cast strictly
            from e_commerce_lakehouse_spark.table.scan import resolve_schema

            fld = next((f for f in resolve_schema(t).fields
                        if f.name == key_col), None)
            integral = fld is not None and fld.dataType.simpleString() in (
                "bigint", "int", "smallint", "tinyint")
            raw = [v for v in args.keys.split(",") if v != ""]
            keys_in = [int(v) for v in raw] if integral else raw
        m_ = {}
        df = scan_semi_join(spark, t, keys_in, key_col=key_col,
                            snapshot_id=args.snapshot, metrics=m_)
        result = {
            "snapshot": args.snapshot or t.current_snapshot_id(),
            "key_col": key_col,
            "n_rows": df.count(),
            **m_,
            "files_skipped": m_["files_total"] - m_["files_kept"],
        }
    elif args.op == "rollback":  # metadata-only: no Spark session needed
        from e_commerce_lakehouse_spark.operators.rollback import rollback_to

        if args.snapshot is None:
            p.error("--op rollback requires --snapshot (the id to restore)")
        result = rollback_to(Table.load(args.table, branch=args.branch), args.snapshot)
    elif args.op == "diff":  # metadata-only
        t = Table.load(args.table, branch=args.branch)
        to_id = args.to_snapshot if args.to_snapshot is not None else t.current_snapshot_id()
        from_id = args.snapshot if args.snapshot is not None else t.snapshot(to_id).parent_id
        if from_id is None:
            p.error("--op diff needs --snapshot (no parent to diff against)")
        result = t.snapshot_diff(from_id, to_id)
        result["added_files"] = len(result["added_files"])
        result["removed_files"] = len(result["removed_files"])
    else:
        spark = get_spark(app_name=f"maintenance-{args.op}")
        conv_range = None
        if args.conv_id_range:
            lo, _, hi = args.conv_id_range.partition(":")
            conv_range = (lo or None, hi or None)
        if args.op == "create":
            from e_commerce_lakehouse_spark.synth import transcripts_df
            from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

            spec = _parse_partition_by(args.partition_by) if args.partition_by else None
            df = transcripts_df(spark, args.n_turns, seed=args.seed)
            t = create_transcripts_table(spark, args.table, df,
                                         partition_spec=spec)
            result = {"snapshot": t.current_snapshot_id(), "rows": t.total_rows(),
                      "files": len(t.entries()),
                      "partition_spec": [f.to_dict() for f in (spec or [])]}
        elif args.op == "evolve-partition":
            t = Table.load(args.table, branch=args.branch)
            spec = _parse_partition_by(args.partition_by or "")
            from e_commerce_lakehouse_spark.table.scan import resolve_schema

            cols = [f.name for f in resolve_schema(t).fields]
            t.evolve_partition_spec(spec, cols)
            result = {"partition_spec": [f.to_dict() for f in t.partition_spec()],
                      "pruning_fields": [f.to_dict()
                                         for f in t.partition_fields_for_pruning()]}
        elif args.op == "compact":
            result = with_retries(
                lambda: compact(spark, Table.load(args.table, branch=args.branch), target_bytes=target_bytes,
                                checkpoint_path=args.checkpoint,
                                order_preserving=args.order_preserving,
                                conv_id_range=conv_range,
                                partial_progress=args.partial_commits is not None,
                                partial_max_commits=args.partial_commits or 10),
                attempts=args.retries, backoff_s=args.retry_backoff)
        elif args.op == "cluster":
            result = with_retries(
                lambda: cluster(spark, Table.load(args.table, branch=args.branch), curve=args.curve,
                                target_bytes=target_bytes, shards=args.shards,
                                checkpoint_path=args.checkpoint,
                                conv_id_range=conv_range,
                                incremental=args.incremental,
                                key_cols=([c.strip() for c in
                                           args.key_cols.split(",")
                                           if c.strip()]
                                          if args.key_cols else None)),
                attempts=args.retries, backoff_s=args.retry_backoff)
        elif args.op == "merge":
            if not args.source:
                p.error("--op merge requires --source")
            src = spark.read.parquet(args.source)
            result = with_retries(
                lambda: merge_into(spark, Table.load(args.table, branch=args.branch), src,
                                   target_bytes=target_bytes),
                attempts=args.retries, backoff_s=args.retry_backoff)
        elif args.op == "txn-ingest":
            # the reference's Parallel multi-table ETL fan-out, ATOMIC:
            # one batch per table, all heads flip together or not at all
            from e_commerce_lakehouse_spark.table.txn import (
                MultiTableTransaction,
            )

            if not (args.tables and args.source and args.txn_dir):
                p.error("--op txn-ingest requires --tables root2[,root3...], "
                        "--source src1,src2[,...] (one per table incl. "
                        "--table), and --txn-dir")
            roots = [args.table] + [r for r in args.tables.split(",") if r]
            srcs = [c for c in args.source.split(",") if c]
            if len(roots) != len(srcs):
                p.error(f"--tables/--source mismatch: {len(roots)} tables "
                        f"vs {len(srcs)} sources")
            txn = MultiTableTransaction(args.txn_dir)
            try:
                for i, (root, src) in enumerate(zip(roots, srcs)):
                    # --branch applies to --table (stage_append then
                    # surfaces its clear branch refusal); extras are main
                    t = Table.load(root, lock_wait_s=10.0,
                                   branch=args.branch if i == 0 else None)
                    df = (spark.read.option("header", True).csv(src)
                          if args.ingest_format == "csv"
                          else spark.read.parquet(src))
                    txn.stage_append(spark, t, df)
                result = txn.commit()
            except BaseException:
                # a staging failure must not leave pending markers pinned
                # for the whole stale window (review finding)
                import contextlib as _ctx

                with _ctx.suppress(Exception):
                    txn.abort()
                raise
        elif args.op == "ingest-append":
            from e_commerce_lakehouse_spark.streaming.ingest import ingest_append_stream

            if not (args.source and args.checkpoint):
                p.error("--op ingest-append requires --source and --checkpoint")
            t = Table.load(args.table, branch=args.branch)
            result = ingest_append_stream(
                spark, t, args.source, args.checkpoint,
                source_format=args.ingest_format,
            )
        elif args.op == "replicate":
            # incremental table->table replication entirely through the
            # native streaming surfaces: source offsets = snapshot ids,
            # sink commits one atomic append per epoch with txn markers.
            # Resumable via --checkpoint; re-runs ship only the delta.
            from e_commerce_lakehouse_spark.streaming.table_sink import (
                LakehouseSinkDataSource,
            )
            from e_commerce_lakehouse_spark.streaming.table_source import (
                LakehouseStreamDataSource,
            )

            if not (args.source and args.checkpoint):
                p.error("--op replicate requires --source (target table "
                        "root) and --checkpoint")
            target_root = args.source
            if not _is_table(target_root):
                Table.create(target_root)
            try:
                spark.dataSource.register(LakehouseStreamDataSource)
                spark.dataSource.register(LakehouseSinkDataSource)
            except Exception:
                pass  # already registered in this session
            q = (
                spark.readStream.format("lakehouse_stream").load(args.table)
                .writeStream.format("lakehouse_sink")
                .option("path", target_root)
                .trigger(availableNow=True)
                .option("checkpointLocation", args.checkpoint)
                .start()
            )
            q.awaitTermination()
            tgt = Table.load(target_root)
            result = {"target": target_root,
                      "target_snapshot": tgt.current_snapshot_id()}
        elif args.op == "ingest":
            from e_commerce_lakehouse_spark.streaming.ingest import ingest_available_now

            if not (args.source and args.checkpoint):
                p.error("--op ingest requires --source and --checkpoint")
            t = Table.load(args.table, branch=args.branch) if _is_table(args.table) else Table.create(args.table)
            result = ingest_available_now(spark, t, args.source, args.checkpoint)
        elif args.op == "consume":
            from e_commerce_lakehouse_spark.table.cdc import IncrementalConsumer

            if not args.checkpoint:
                p.error("--op consume requires --checkpoint (the cursor file)")
            consumer = IncrementalConsumer(Table.load(args.table, branch=args.branch), args.checkpoint)
            batch = consumer.poll(spark)
            if batch is None:
                result = {"caught_up": True, "cursor": consumer.position()}
            else:
                n = batch["df"].count()  # a real consumer processes here
                consumer.ack()
                result = {"rows": n, "mode": batch["mode"],
                          "from": batch["from"], "to": batch["to"]}
        elif args.op in ("delete", "update"):
            from e_commerce_lakehouse_spark.operators.rowlevel import (
                delete_where, update_where,
            )

            if not args.predicate:
                p.error(f"--op {args.op} requires --predicate")
            if args.op == "delete":
                result = with_retries(
                    lambda: delete_where(spark, Table.load(args.table, branch=args.branch), args.predicate,
                                         target_bytes=target_bytes, mode=args.mode),
                    attempts=args.retries, backoff_s=args.retry_backoff)
            else:
                if not args.set_exprs:
                    p.error("--op update requires --set col=expr[;col=expr...]")
                assignments = {}
                for part in args.set_exprs.split(";"):
                    if "=" not in part:
                        p.error(f"--set entry missing '=': {part!r}")
                    k, v = part.split("=", 1)
                    assignments[k.strip()] = v.strip()
                result = with_retries(
                    lambda: update_where(spark, Table.load(args.table, branch=args.branch), args.predicate,
                                         assignments, target_bytes=target_bytes),
                    attempts=args.retries, backoff_s=args.retry_backoff)
        elif args.op == "pipeline":
            from e_commerce_lakehouse_spark.pipeline import (
                run_pipeline, run_pipeline_many,
            )

            stages = tuple(x.strip() for x in args.stages.split(",") if x.strip())
            if args.tables:
                roots = [args.table] + [
                    x.strip() for x in args.tables.split(",") if x.strip()
                ]
                result = run_pipeline_many(
                    spark, roots, stages=stages, target_bytes=target_bytes,
                    curve=args.curve, keep_last=args.keep_last,
                    retries=args.retries, backoff_s=args.retry_backoff,
                )
            else:
                result = run_pipeline(
                    spark, args.table, stages=stages,
                    target_bytes=target_bytes, curve=args.curve,
                    keep_last=args.keep_last, checkpoint_path=args.checkpoint,
                    retries=args.retries, backoff_s=args.retry_backoff,
                )
        elif args.op == "consume-changes":
            from e_commerce_lakehouse_spark.table.cdc import ChangeFeedConsumer

            if not args.checkpoint:
                p.error("--op consume-changes requires --checkpoint (the cursor file)")
            consumer = ChangeFeedConsumer(Table.load(args.table, branch=args.branch), args.checkpoint)
            batch = consumer.poll_changes(spark)
            if batch is None:
                result = {"caught_up": True, "cursor": consumer.position()}
            else:
                from pyspark.sql import functions as F

                counts = {
                    r["_change_type"]: r["n"]
                    for r in batch["df"].groupBy("_change_type")
                    .agg(F.count("*").alias("n")).collect()
                }  # a real consumer applies the batch here
                consumer.ack()
                result = {"changes": counts, "mode": batch["mode"],
                          "from": batch["from"], "to": batch["to"]}
        elif args.op == "catalog-sql":
            from e_commerce_lakehouse_spark.catalog import Catalog

            if not (args.catalog and args.query):
                p.error("--op catalog-sql requires --catalog and --query")
            cat = Catalog(args.catalog)
            attached = cat.attach(spark, metadata_views=True)
            rows = [r.asDict() for r in spark.sql(args.query).collect()]
            result = {"attached": attached, "rows": rows[:1000],
                      "row_count": len(rows)}
        elif args.op == "verify":
            from e_commerce_lakehouse_spark.operators.verify import verify_table

            result = verify_table(Table.load(args.table, branch=args.branch), snapshot_id=args.snapshot,
                                  spark=spark, check_blooms=args.check_blooms)
        elif args.op == "materialize-deletes":
            from e_commerce_lakehouse_spark.operators.rowlevel import materialize_deletes

            result = with_retries(
                lambda: materialize_deletes(spark, Table.load(args.table, branch=args.branch),
                                            target_bytes=target_bytes),
                attempts=args.retries, backoff_s=args.retry_backoff)
        elif args.op == "add-constraint":
            from e_commerce_lakehouse_spark.operators.constraints import add_constraint

            if not (args.constraint_name and args.predicate):
                p.error("--op add-constraint requires --constraint-name and --predicate")
            result = add_constraint(spark, Table.load(args.table, branch=args.branch),
                                    args.constraint_name, args.predicate)
        elif args.op == "analyze":
            from e_commerce_lakehouse_spark.operators import analyze

            cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
            result = analyze(spark, Table.load(args.table, branch=args.branch), columns=cols)
        elif args.op == "inspect":
            t = Table.load(args.table, branch=args.branch)
            snap = t.snapshot(args.snapshot)
            result = {
                "snapshots": t.snapshot_ids(),
                "current": t.current_snapshot_id(),
                "operation": snap.operation,
                "files": len(t.entries(args.snapshot)),
                "rows": t.total_rows(args.snapshot),
                "bytes": t.total_bytes(args.snapshot),
                "manifests": len(snap.manifests),
                "tombstones": len(snap.removed_files),
                "mor_tombstone_files": len(snap.tombstones),
                "partition_spec": [f.to_dict() for f in t.partition_spec()],
                "constraints": t.constraints(),
            }
        else:  # pragma: no cover
            raise AssertionError(args.op)

    print(json.dumps(result, default=str))
    return 0


def _is_table(root: str) -> bool:
    import os

    return os.path.isdir(os.path.join(root, "metadata"))


if __name__ == "__main__":
    sys.exit(main())
