"""Snapshot-pinned, stat-pruned table scans.

The reference relies on Delta + Catalyst partition pruning
(`/root/reference/src/glue_jobs/orders_etl.py:191-194`). Our manifest
stores per-file min/max, so we prune the FILE LIST in Python before
``spark.read.parquet`` even sees it — file-level skipping Catalyst cannot
do on plain parquet paths (SURVEY.md §4). Predicates are additionally
passed as DataFrame filters so Catalyst still performs row-group pushdown
inside surviving files.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTS_SCHEMA
from .meta import DataFileEntry, Table


def _ts_to_micros(v) -> int:
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        # exact integer micros (see _footer_stats.norm_stat): float
        # total_seconds() can truncate 1µs at epoch-scale magnitudes
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    return int(v)


def _bloom_probe_value(v) -> str | None:
    """Canonical bloom probe string, or None when probing is UNSAFE.
    Blooms are built over str(value) of the column's Python values
    (_footer_stats): exact only for str and int. A float/Decimal/bool
    probe (e.g. 123.0 for an int column) would canonicalize differently
    and FALSE-NEGATIVE — those skip the bloom (stats still prune)."""
    if type(v) in (str, int):
        return str(v)
    return None


def _overlaps(stats: dict, col: str, lo, hi) -> bool:
    """Conservative interval overlap; missing stats -> keep the file."""
    rng = stats.get(col)
    if rng is None:
        return True
    mn, mx = rng
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


def prune_entries(
    entries: list[DataFileEntry],
    conv_id: str | None = None,
    conv_id_range: tuple[str | None, str | None] | None = None,
    ts_range: tuple | None = None,
    eq: dict | None = None,
) -> list[DataFileEntry]:
    """``eq`` adds GENERIC point predicates ({col: value}, str/int
    columns): each prunes by the col's [min, max] stat range and — when
    the file carries a bloom for that col — by set membership. Values
    probe the bloom as str(value), matching the write side."""
    if conv_id is not None:
        conv_id_range = (conv_id, conv_id)
    points = dict(eq or {})
    if conv_id_range is not None and conv_id_range[0] is not None \
            and conv_id_range[0] == conv_id_range[1]:
        points["conv_id"] = conv_id_range[0]
    out = []
    for e in entries:
        keep = True
        if conv_id_range is not None:
            keep = _overlaps(e.stats, "conv_id", conv_id_range[0], conv_id_range[1])
        for col, v in (points.items() if keep else ()):
            # skip the range re-check ONLY when conv_id_range already did
            # it above; conv_id arriving purely via eq= still needs stats
            # (review finding)
            if col != "conv_id" or conv_id_range is None:
                try:
                    keep = _overlaps(e.stats, col, v, v)
                except TypeError:
                    keep = True  # stat/value type mismatch: conservative
            probe = _bloom_probe_value(v)
            if keep and probe is not None and e.blooms and col in e.blooms:
                # membership refinement (bloom index, _bloom.py): min/max
                # says the key is in the file's RANGE; the bloom says
                # whether it is plausibly in the file's SET. False =
                # definitely absent.
                from .._bloom import bloom_contains

                keep = bloom_contains(e.blooms[col], probe)
            if not keep:
                break
        if keep and ts_range is not None:
            lo = _ts_to_micros(ts_range[0]) if ts_range[0] is not None else None
            hi = _ts_to_micros(ts_range[1]) if ts_range[1] is not None else None
            keep = _overlaps(e.stats, "ts", lo, hi)
        if keep:
            out.append(e)
    return out


def _arrow_pruned_entries(
    manifest_path: str, conv_id_range, ts_range, eq: dict | None = None
) -> list[DataFileEntry]:
    """Vectorized manifest pruning: evaluate the stat-range predicates on
    the parquet manifest's typed columns (pyarrow.compute) and materialize
    Python entries ONLY for survivors. At 800k files this plans a point
    scan in ~0.3 s where materialize-then-prune costs 6-7 s either codec
    (numbers: BENCH/BASELINE.md 'Metadata plan time'). Missing stats are
    conservative (kept), matching _overlaps."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .meta import arrow_manifest_to_entries, manifest_columns

    # per-file blobs are NEVER read here — range pruning needs stats only;
    # point-lookup bloom refinement re-reads (path, bloom_<col>) filtered
    # to the survivors (_bloom_refine_arrow), so the planning scan stays
    # O(stat columns) however large the bloom index is
    t = pq.read_table(
        manifest_path,
        columns=manifest_columns(pq.read_schema(manifest_path).names,
                                 blooms=False),
    )
    cols = set(t.column_names)

    def _range_mask(col: str, lo, hi):
        m = None
        if lo is not None and f"stat_max_{col}" in cols:
            keep = pc.fill_null(pc.greater_equal(t.column(f"stat_max_{col}"), lo), True)
            m = keep
        if hi is not None and f"stat_min_{col}" in cols:
            keep = pc.fill_null(pc.less_equal(t.column(f"stat_min_{col}"), hi), True)
            m = keep if m is None else pc.and_(m, keep)
        return m

    mask = None
    if conv_id_range is not None:
        mask = _range_mask("conv_id", conv_id_range[0], conv_id_range[1])
    for col, v in (eq or {}).items():
        try:
            m2 = _range_mask(col, v, v)
        except Exception:  # stat/value type mismatch: conservative
            m2 = None
        if m2 is not None:
            mask = m2 if mask is None else pc.and_(mask, m2)
    if ts_range is not None:
        lo = _ts_to_micros(ts_range[0]) if ts_range[0] is not None else None
        hi = _ts_to_micros(ts_range[1]) if ts_range[1] is not None else None
        m2 = _range_mask("ts", lo, hi)
        if m2 is not None:
            mask = m2 if mask is None else pc.and_(mask, m2)
    if mask is not None:
        t = t.filter(mask)
    return arrow_manifest_to_entries(t)


def _bloom_refine_arrow(
    manifest_path: str,
    entries: list[DataFileEntry],
    col: str,
    value: str,
) -> list[DataFileEntry]:
    """Drop min/max survivors whose bloom says ``value`` is DEFINITELY
    absent. Reads only (path, bloom_<col>) rows matching the survivor
    paths — parquet row-group pruning on the path predicate keeps this
    O(survivor row groups), not O(manifest); files without a bloom
    (pre-declaration vintage) are conservatively kept."""
    if not entries:
        return entries
    import json as _json

    import pyarrow.parquet as pq

    from .._bloom import bloom_contains
    from .meta import _BLOOM

    bcol = _BLOOM + col
    if bcol not in pq.read_schema(manifest_path).names:
        return entries
    paths = [e.path for e in entries]
    t = pq.read_table(
        manifest_path, columns=["path", bcol], filters=[("path", "in", paths)]
    )
    blob_by_path = dict(zip(t.column("path").to_pylist(), t.column(bcol).to_pylist()))
    out = []
    for e in entries:
        blob = blob_by_path.get(e.path)
        if blob is None or bloom_contains(_json.loads(blob), value):
            out.append(e)
    return out


def planned_entries(
    table: Table,
    snapshot_id: int | None = None,
    conv_id: str | None = None,
    conv_id_range: tuple | None = None,
    ts_range: tuple | None = None,
    eq: dict | None = None,
) -> list[DataFileEntry]:
    """Plan a (possibly predicate-pruned) scan: the live file set of a
    snapshot restricted to files whose stat ranges overlap the predicates.
    Parquet manifests are filtered vectorized BEFORE any Python entry
    object exists; JSON manifests fall back to materialize-then-prune.
    Semantics identical to prune_entries(table.entries(sid), ...)."""
    if conv_id is not None:
        conv_id_range = (conv_id, conv_id)
    if conv_id_range is not None:
        for v in conv_id_range:
            # fail here with a clear message instead of deep inside the
            # arrow kernel (string stats vs non-string predicate)
            if v is not None and not isinstance(v, str):
                raise TypeError(
                    f"conv_id predicates must be strings (schema: conv_id string), got {type(v).__name__}: {v!r}"
                )
    snap = table.snapshot(snapshot_id)
    removed = set(snap.removed_files)
    out: list[DataFileEntry] = []
    seen: set[str] = set()
    import os

    points = dict(eq or {})
    if conv_id_range is not None and conv_id_range[0] is not None \
            and conv_id_range[0] == conv_id_range[1]:
        points["conv_id"] = conv_id_range[0]
    any_pred = conv_id_range is not None or ts_range is not None or bool(eq)
    for m in snap.manifests:
        if m.endswith(".parquet") and any_pred:
            full = os.path.join(table.metadata_dir, m)
            ents = _arrow_pruned_entries(full, conv_id_range, ts_range, eq=eq)
            for col, v in points.items():
                probe = _bloom_probe_value(v)
                if probe is not None:
                    ents = _bloom_refine_arrow(full, ents, col, probe)
        else:
            ents = prune_entries(
                table.manifest_entries(m), conv_id_range=conv_id_range,
                ts_range=ts_range, eq=eq,
            )
        for e in ents:
            if e.path not in removed and e.path not in seen:
                seen.add(e.path)
                out.append(e)
    # hidden-partition pruning (EXACT, unlike the conservative stat
    # ranges): derive partition predicates from the column predicates via
    # the table's spec — a conv_id point keeps one bucket, a ts range
    # keeps the overlapping days. Files without partition metadata
    # (pre-spec vintage, rewrite outputs) are kept.
    if conv_id_range is not None or ts_range is not None:
        # union of all specs' fields: after partition evolution, each
        # entry prunes by exactly the fields its own tuple carries
        spec = table.partition_fields_for_pruning()
        if spec:
            from .partition import prune_by_partition

            point = None
            if conv_id_range is not None and conv_id_range[0] is not None \
                    and conv_id_range[0] == conv_id_range[1]:
                point = conv_id_range[0]
            out = prune_by_partition(out, spec, conv_id=point, ts_range=ts_range)
    return out


def resolve_schema(table: Table, snapshot_id: int | None = None, schema=None):
    """Effective read schema: explicit arg > the table's evolved schema
    current at the pinned snapshot (meta.table_schema_json) > the default
    transcripts schema. Spark's read-with-schema fills columns missing
    from older files with NULL and projects away dropped ones, so
    evolution needs no data rewrite."""
    if schema is not None:
        return schema
    sj = table.table_schema_json(snapshot_id)
    if sj is not None:
        from pyspark.sql import types as T

        return T.StructType.fromJson(sj)
    return TRANSCRIPTS_SCHEMA


def tombstone_classes(
    entries: list[DataFileEntry], tomb_entries: list[dict]
) -> dict[tuple, list[DataFileEntry]]:
    """Group data files by WHICH tombstones apply to them (Iceberg v2
    sequence semantics): tombstone t applies to file f iff t.seq is None
    (legacy global) or t.seq > f.seq. Files committed alongside or after
    a tombstone (MoR UPDATE post-images, later appends via MERGE) are
    exempt; older copies of the same keys are not. The number of classes
    is bounded by the number of live tombstone COMMITS — small, because
    materialize_deletes / full clustering clears the list."""
    classes: dict[tuple, list[DataFileEntry]] = {}
    for e in entries:
        ap = tuple(sorted(
            t["path"] for t in tomb_entries
            if t.get("seq") is None or t["seq"] > (e.seq or 0)
        ))
        classes.setdefault(ap, []).append(e)
    return classes


def read_entries(
    spark: SparkSession,
    table: Table,
    entries: list[DataFileEntry],
    schema,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read data files resolving each file's WRITTEN column names and
    types onto ``schema`` (the shape current at ``snapshot_id``).

    Fast path — no rename/widen anywhere in the table's history — is the
    plain single ``spark.read.schema(schema).parquet(paths)`` (one scan
    relation, unchanged plans). Once a mapped evolution exists, entries
    are grouped by their write-schema version (DataFileEntry.sv): each
    group is read under its own written schema, then SELECTed onto the
    target by FIELD ID (table/fieldids.py) — rename resolves to
    col(written).alias(current), widen to a lossless cast, a field the
    vintage predates to typed NULL — and the groups union by name. The
    group count is bounded by the number of schema versions (a handful),
    not files, so the plan stays a union of a few scan relations."""
    import os

    if not entries:
        return spark.createDataFrame([], schema)
    versions = table.schema_versions()
    from .fieldids import (
        legacy_version_number,
        mapping_required,
        version_field_maps,
    )

    if not mapping_required(versions):
        return spark.read.schema(schema).parquet(
            *[os.path.join(table.root, e.path) for e in entries]
        )
    from pyspark.sql import types as T

    maps = version_field_maps(versions)
    read_ver = table.schema_version_at(snapshot_id)
    if read_ver is None:  # pinned before the first evolution commit
        read_ver = 1
    rmap = maps[read_ver - 1]
    legacy = legacy_version_number(versions)
    groups: dict[int, list[DataFileEntry]] = {}
    for e in entries:
        groups.setdefault(e.sv if e.sv is not None else legacy, []).append(e)
    parts = []
    for wv in sorted(groups):
        ents = groups[wv]
        wschema = T.StructType.fromJson(versions[wv - 1]["schema"])
        wmap = maps[wv - 1]
        by_id = {i: n for n, i in wmap.items()}
        d = spark.read.schema(wschema).parquet(
            *[os.path.join(table.root, e.path) for e in ents]
        )
        exprs = []
        for f in schema.fields:
            wname = by_id.get(rmap.get(f.name))
            if wname is not None:
                exprs.append(F.col(wname).cast(f.dataType).alias(f.name))
            else:  # field added after this vintage was written
                exprs.append(F.lit(None).cast(f.dataType).alias(f.name))
        parts.append(d.select(*exprs))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def read_with_tombstones(
    spark: SparkSession,
    table: Table,
    entries: list[DataFileEntry],
    schema,
    snapshot_id: int | None = None,
    tomb_entries: list[dict] | None = None,
) -> DataFrame:
    """Read ``entries`` with the snapshot's merge-on-read tombstones
    applied seq-aware: one anti-join per applicability class (almost
    always exactly one class), unioned. The tombstone side is
    delete-batch-sized; Spark/AQE broadcasts it — the table side never
    shuffles for this."""
    import os

    if tomb_entries is None:
        tomb_entries = table.tombstone_entries(snapshot_id)
    if not entries:
        return spark.createDataFrame([], schema)
    if not tomb_entries:
        return read_entries(spark, table, entries, schema, snapshot_id)
    parts = []
    classes = tombstone_classes(entries, tomb_entries)
    for ap in sorted(classes):
        ents = classes[ap]
        d = read_entries(spark, table, ents, schema, snapshot_id)
        if ap:
            tomb_df = spark.read.parquet(
                *[os.path.join(table.root, p) for p in ap]
            ).dropDuplicates()
            d = d.join(tomb_df, on=list(tomb_df.columns), how="left_anti")
        parts.append(d)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def apply_row_predicates(df, conv_id=None, conv_id_range=None,
                         ts_range=None, eq=None):
    """The ONE place scan predicates become row filters — shared by
    scan() and metadata_count's boundary reads so their semantics can
    never drift (review finding)."""
    if conv_id is not None:
        df = df.where(F.col("conv_id") == conv_id)
    elif conv_id_range is not None:
        lo, hi = conv_id_range
        if lo is not None:
            df = df.where(F.col("conv_id") >= lo)
        if hi is not None:
            df = df.where(F.col("conv_id") <= hi)
    if ts_range is not None:
        lo, hi = ts_range
        if lo is not None:
            df = df.where(F.col("ts") >= lo)
        if hi is not None:
            df = df.where(F.col("ts") <= hi)
    for col, v in (eq or {}).items():
        df = df.where(F.col(col) == v)
    return df


def scan(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
    conv_id: str | None = None,
    conv_id_range: tuple | None = None,
    ts_range: tuple | None = None,
    columns: list[str] | None = None,
    schema=None,
    as_of_ts_ms: int | None = None,
    ref: str | None = None,
    eq: dict | None = None,
) -> DataFrame:
    """Read a pinned snapshot with manifest-level file skipping.

    ``as_of_ts_ms`` time-travels to the snapshot current at that
    wall-clock time; ``ref`` pins a named tag — each is mutually
    exclusive with ``snapshot_id``.
    ``eq`` ({col: value}) adds generic point predicates on any
    stat-tracked (and optionally bloom-indexed) column — file skipping
    plus the row filter, like ``conv_id=`` but for arbitrary columns.
    ``schema=None`` resolves the table's schema as of the pinned snapshot
    (see resolve_schema). Returns an empty typed DataFrame when
    everything prunes away."""
    if sum(x is not None for x in (snapshot_id, as_of_ts_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ts_ms / ref")
    if as_of_ts_ms is not None:
        snapshot_id = table.snapshot_id_as_of(as_of_ts_ms)
    if ref is not None:
        snapshot_id = table.resolve_ref(ref)
    schema = resolve_schema(table, snapshot_id, schema)
    entries = planned_entries(table, snapshot_id, conv_id, conv_id_range,
                              ts_range, eq=eq)
    # merge-on-read tombstones are applied seq-aware inside the read (see
    # read_with_tombstones); applied before the column projection so key
    # columns need not be selected
    df = read_with_tombstones(spark, table, entries, schema, snapshot_id)
    # re-apply predicates row-level (files are supersets of the predicate)
    df = apply_row_predicates(df, conv_id, conv_id_range, ts_range, eq)
    if columns:
        df = df.select(*columns)
    return df


#: bloom refinement probes at most this many in-range keys per file —
#: beyond it the range check alone decides (probe cost would exceed the
#: read it might save)
_BLOOM_PROBE_CAP = 2048
#: key sets up to this size filter rows via an isin literal; larger sets
#: become a broadcast left-semi join (an isin list that size bloats the
#: plan and recompiles per file)
_SEMI_ISIN_MAX = 1000


def distinct_keys(df: DataFrame, key_col: str, limit: int | None = None) -> list:
    """The sorted distinct non-null values of ``df[key_col]``, collected
    to the driver (at most ``limit``) for ``key_planned_entries``.
    Timestamps come back UTC-aware: ``collect()`` yields naive LOCAL
    time, which the planner's micros conversion would read as UTC."""
    from pyspark.sql.types import TimestampType

    k = F.col(key_col)
    kdf = df.select(k).where(k.isNotNull()).distinct()
    if limit is not None:
        kdf = kdf.limit(limit)
    vals = [r[0] for r in kdf.collect()]
    if isinstance(df.schema[key_col].dataType, TimestampType):
        vals = [v.astimezone(_dt.timezone.utc) for v in vals]
    return sorted(vals)


def key_planned_entries(
    table: Table,
    entries: list[DataFileEntry],
    keys: list,
    key_col: str,
) -> list[DataFileEntry]:
    """The ``entries`` that can hold one of ``keys`` (sorted, distinct,
    non-null values of ``key_col``): the driver-side file planner of
    ``scan_semi_join``, MERGE INTO and tombstone materialization, O(F log K).
    Prunes by the key set's partition transform values, then bisects the
    keys against each file's [min, max] in their native type (timestamps
    as epoch micros, the manifest's stat form), then drops a file whose
    bloom misses every in-range key (at most ``_BLOOM_PROBE_CAP``). A file
    without stats, or whose stats do not order against the keys, is kept."""
    import bisect

    rkeys = keys  # range-compare form
    if keys and isinstance(keys[0], _dt.datetime):
        rkeys = [_ts_to_micros(v) for v in keys]  # order-preserving
    for f in table.partition_fields_for_pruning() or []:
        if f.source != key_col:
            continue
        from .partition import apply_transform

        try:
            # identity partition values round-trip through the hive path
            # as raw STRINGS (partition_from_path) while apply_transform
            # returns the key's native type — compare canonical strings
            # there, native values (int bucket/day) otherwise (a native
            # compare made an int identity key prune every file)
            if f.transform == "identity":
                allowed = {str(apply_transform(f, k)) for k in keys}
                matches = lambda pv: str(pv) in allowed  # noqa: E731
            else:
                allowed = {apply_transform(f, k) for k in keys}
                matches = lambda pv: pv in allowed  # noqa: E731
        except Exception:
            continue  # transform/key type mismatch: no pruning from f
        entries = [
            e for e in entries
            if not getattr(e, "partition", None)
            or f.name not in e.partition
            or e.partition[f.name] is None
            or matches(e.partition[f.name])
        ]
    survivors: list[DataFileEntry] = []
    for e in entries:
        rng = e.stats.get(key_col) if e.stats else None
        if rng is None:
            lo, hi = 0, len(keys)  # no stats: every key is plausibly in-range
        else:
            try:
                lo = bisect.bisect_left(rkeys, rng[0])
                hi = bisect.bisect_right(rkeys, rng[1])
            except TypeError:
                survivors.append(e)  # stat/key type mismatch: conservative
                continue
            if lo >= hi:
                continue
        # bloom-set refinement runs with OR without stats (matching
        # prune_entries' point-lookup path — a stats-less file with a
        # bloom is still provably skippable)
        if e.blooms and key_col in e.blooms and hi - lo <= _BLOOM_PROBE_CAP:
            from .._bloom import bloom_contains

            probes = [_bloom_probe_value(v) for v in keys[lo:hi]]
            if all(p is not None for p in probes) and not any(
                bloom_contains(e.blooms[key_col], p) for p in probes
            ):
                continue  # in range, provably absent from the file's SET
        survivors.append(e)
    return survivors


def scan_semi_join(
    spark: SparkSession,
    table: Table,
    keys,
    key_col: str = "conv_id",
    snapshot_id: int | None = None,
    schema=None,
    columns: list[str] | None = None,
    max_keys: int = 100_000,
    metrics: dict | None = None,
    on_overflow: str = "raise",
) -> DataFrame:
    """Join-driven dynamic file pruning (Delta dynamic file pruning /
    Iceberg runtime-filter analog): restrict a scan to the files that can
    contain at least one of a selective equi-join's build-side keys.

    ``keys`` is the BUILD side: a single- or named-column DataFrame (its
    ``key_col``), or a plain iterable of values. Distinct non-null keys
    are collected to the driver, BOUNDED by ``max_keys`` — past that the
    join is not selective enough for file skipping to pay and the caller
    should scan + shuffle-join instead (ValueError says so). The sorted
    keys plan the files through ``key_planned_entries`` — partition,
    [min, max] and bloom pruning, the same planner MERGE INTO and
    tombstone materialization use. Survivors are read
    through the normal MoR-tombstone path, then row-filtered by set
    membership (isin for small sets, broadcast left-semi above
    ``_SEMI_ISIN_MAX``), so the result EQUALS full-scan ∘ semi-join.

    At 100 TB this is the difference between reading the table and
    reading the handful of files a dimension-side predicate touches —
    the manifest work is metadata-only on the driver. ``metrics`` (a
    dict, optional) receives files_total / files_kept / n_keys for
    observability and tests (an empty build side short-circuits
    planning and reports 0/0/0). ``on_overflow`` decides what happens
    past ``max_keys``: ``"raise"`` (default) or ``"scan"`` — fall back
    to full scan + shuffle semi-join, i.e. graceful degradation when
    the build side turns out not to be selective (files_kept ==
    files_total in metrics, n_keys = -1 for 'unbounded')."""
    if on_overflow not in ("raise", "scan"):
        raise ValueError(f"on_overflow must be 'raise' or 'scan', got {on_overflow!r}")
    build_df = None
    if isinstance(keys, DataFrame):
        kdf = keys.select(key_col) if key_col in keys.columns else keys
        if len(kdf.columns) != 1:
            raise ValueError(
                f"keys DataFrame must have a {key_col!r} column or exactly one column"
            )
        build_df = kdf.toDF(key_col).where(F.col(key_col).isNotNull())
        vals = distinct_keys(build_df, key_col, limit=max_keys + 1)
    else:
        vals = list({v for v in keys if v is not None})
    schema = resolve_schema(table, snapshot_id, schema)
    if len(vals) > max_keys:
        if on_overflow == "raise":
            raise ValueError(
                f"scan_semi_join collected > max_keys ({max_keys}) build-side keys; "
                "a join this wide should scan + shuffle-join instead "
                "(or raise max_keys / pass on_overflow='scan')"
            )
        # graceful fallback: no file skipping, plain distributed semi-join
        entries = planned_entries(table, snapshot_id)
        if metrics is not None:
            metrics.update(
                files_total=len(entries), files_kept=len(entries), n_keys=-1
            )
        df = read_with_tombstones(spark, table, entries, schema, snapshot_id)
        if build_df is None:
            build_df = spark.createDataFrame([(v,) for v in vals], [key_col])
        df = df.join(build_df.distinct(), key_col, "left_semi")
        return df.select(*columns) if columns else df
    if not vals:
        if metrics is not None:
            metrics.update(files_total=0, files_kept=0, n_keys=0)
        return spark.createDataFrame([], schema)
    try:
        svals = sorted(vals)
    except TypeError as exc:  # mixed-type build side: no safe order
        raise TypeError(f"build-side keys are not mutually orderable: {exc}")

    entries = planned_entries(table, snapshot_id)
    survivors = key_planned_entries(table, entries, svals, key_col)
    if metrics is not None:
        metrics.update(
            files_total=len(entries), files_kept=len(survivors), n_keys=len(vals)
        )

    df = read_with_tombstones(spark, table, survivors, schema, snapshot_id)
    if len(vals) <= _SEMI_ISIN_MAX:
        df = df.where(F.col(key_col).isin(vals))
    else:
        bkeys = spark.createDataFrame([(v,) for v in vals], [key_col])
        df = df.join(F.broadcast(bkeys), key_col, "left_semi")
    if columns:
        df = df.select(*columns)
    return df


def incremental_scan(
    spark: SparkSession,
    table: Table,
    from_id: int,
    to_id: int | None = None,
    schema=None,
) -> DataFrame:
    """CDC-style incremental read: the rows in files ADDED between two
    snapshots (exclusive of from_id, inclusive of to_id) — the input a
    downstream consumer needs to catch up from from_id without re-reading
    the table. Planning is O(manifest) metadata only.

    Append snapshots yield exactly the appended rows. Copy-on-write
    rewrites (compact/cluster/merge) add whole rewritten files, so their
    rows appear even where values are unchanged — same contract as
    Iceberg's incremental append scan, which refuses rewrites; we surface
    them instead, conservatively, because a transcript consumer must
    re-key on (conv_id, turn_idx) anyway."""
    import os

    to_id = to_id if to_id is not None else table.current_snapshot_id()
    schema = resolve_schema(table, to_id, schema)
    if to_id <= from_id:
        raise ValueError(f"to_id ({to_id}) must be > from_id ({from_id})")
    before = {e.path for e in table.entries(from_id)}
    added = [e for e in table.entries(to_id) if e.path not in before]
    # apply to_id's live MoR tombstones (seq-aware): a row appended and
    # then MoR-deleted inside the window must not be delivered as a live
    # insert — the chain-mode consumer already guarantees this and this
    # is its fallback path (review finding)
    return read_with_tombstones(spark, table, added, schema, snapshot_id=to_id)
