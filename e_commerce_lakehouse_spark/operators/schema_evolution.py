"""Schema evolution: add/drop/RENAME/WIDEN as metadata-only commits.

Iceberg evolves schemas by field-id without rewriting data; the same
semantics here, on plain name-addressed parquet, via the table's own
records instead of footer ids (table/fieldids.py): ADD a nullable column
(old files simply lack it — read-with-schema and compact's arrow align
both fill nulls), DROP a non-core column (files keep the bytes; readers
project through the current schema; bytes age out via compaction),
RENAME a non-core column (same field id, new name — every file's
write-schema version, DataFileEntry.sv, binds its written names back to
ids, and scan.read_entries resolves each vintage onto the current name),
and WIDEN a non-core column's type losslessly (int->bigint,
float->double; old vintages cast on read, new files write wide).

The reference has no schema evolution at all: a schema change means
editing the Glue job and reprocessing
(/root/reference/src/glue_jobs/orders_etl.py:81-83 re-infers per run).

Each evolution is: (1) a metadata-only snapshot (operation
"evolve-schema", same manifests + removed set as the parent, so history
stays linear and pinned reads work), then (2) a schema version recording
that snapshot id. Pinned reads at snapshot S resolve the schema that was
current AT S (meta.table_schema_json), so time travel sees old shapes.
"""

from __future__ import annotations

from pyspark.sql import types as T

from ..table.meta import Table

#: the primary key + stat-bearing columns the table format itself needs;
#: dropping them would break MERGE keys and manifest pruning
CORE_COLUMNS = ("conv_id", "turn_idx", "ts")

#: column types addable by name (arrow-alignable in compact's rewrite)
_ALLOWED_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


def current_schema(table: Table, snapshot_id: int | None = None) -> T.StructType:
    """The StructType current at ``snapshot_id`` (default now); tables
    that never evolved use the default transcripts schema."""
    from ..table.scan import resolve_schema

    return resolve_schema(table, snapshot_id)


def _commit_evolution(table: Table, new_schema: T.StructType, change: dict,
                      field_ids: dict | None = None,
                      mapped: bool = False) -> dict:
    if table.branch is not None:
        # schema versions resolve by `as_of_snapshot <= sid`, and ids are
        # table-global: a branch-committed version would become visible
        # to MAIN the moment main's head id passes it (a dropped column
        # silently hidden from main reads). Evolution is main-line only.
        raise ValueError(
            "schema evolution on a branch is not supported (schema "
            "versions are resolved by snapshot id table-wide); evolve on "
            "main, before or after fast_forward"
        )
    from ..table.fieldids import version_field_maps

    if not table.schema_versions():
        # first evolution: pin the ORIGINAL shape as version 1 so pinned
        # pre-evolution reads resolve explicitly instead of by fallback
        table.append_schema_version(
            current_schema(table).jsonValue(), as_of_snapshot=0
        )
    if field_ids is None:
        # derive: existing names keep their ids, fresh names get fresh
        # ids (add case). Fresh ids come from next_field_id over the
        # WHOLE version history, never max(prev)+1 — a dropped column's
        # id must stay burned like its name, or a later add would bind
        # old files' bytes of the dropped column to the new field
        # (review finding: silent cross-column corruption)
        from ..table.fieldids import next_field_id

        prev = version_field_maps(table.schema_versions())[-1]
        nxt = next_field_id(table.schema_versions())
        field_ids = {}
        for f in new_schema.fields:
            if f.name in prev:
                field_ids[f.name] = prev[f.name]
            else:
                field_ids[f.name] = nxt
                nxt += 1
    cur = table.snapshot()
    snap = table.commit_manifests(
        list(cur.manifests),
        operation="evolve-schema",
        summary=change,
        removed_files=list(cur.removed_files),
    )
    version = table.append_schema_version(new_schema.jsonValue(), snap.snapshot_id,
                                          field_ids=field_ids, mapped=mapped)
    return {
        "snapshot": snap.snapshot_id,
        "schema_version": version,
        "columns": [f.name for f in new_schema.fields],
        **change,
    }


def add_columns(table: Table, fields: list[tuple[str, str]]) -> dict:
    """Add nullable columns: ``fields`` = [(name, type_str), ...] with
    type_str in {string,int,bigint,float,double,boolean,timestamp,date,
    binary}. Existing rows read as NULL; no data file is touched."""
    schema = current_schema(table)
    existing = {f.name for f in schema.fields}
    # names from ANY prior schema version are burned: data files written
    # before a drop still carry the old column's bytes, and by-name
    # parquet resolution would silently RESURRECT those values into the
    # re-added column (the hazard Iceberg avoids with field-ids)
    ever_used = set(existing)
    for v in table.schema_versions():
        ever_used.update(f["name"] for f in v["schema"]["fields"])
    new_fields = list(schema.fields)
    for name, type_str in fields:
        if name in existing:
            raise ValueError(f"column already exists: {name}")
        if name in ever_used:
            raise ValueError(
                f"column name {name!r} was used by an earlier schema version; "
                f"old data files may still carry its values and by-name reads "
                f"would resurrect them — pick a fresh name"
            )
        if type_str not in _ALLOWED_TYPES:
            raise ValueError(
                f"unsupported type {type_str!r} for {name}; "
                f"allowed: {sorted(_ALLOWED_TYPES)}"
            )
        # added columns MUST be nullable: files written before the
        # evolution have no values for them
        new_fields.append(T.StructField(name, _ALLOWED_TYPES[type_str], True))
        existing.add(name)
    return _commit_evolution(
        table, T.StructType(new_fields), {"added": [f"{n}:{t}" for n, t in fields]}
    )


def drop_columns(table: Table, names: list[str]) -> dict:
    """Drop non-core columns. Metadata-only: readers project through the
    new schema immediately; the bytes in existing files age out as
    compaction rewrites them."""
    import re

    schema = current_schema(table)
    existing = {f.name for f in schema.fields}
    constraints = table.constraints()
    for name in names:
        if name in CORE_COLUMNS:
            raise ValueError(
                f"cannot drop core column {name} (primary key / stats: "
                f"{CORE_COLUMNS})"
            )
        if name not in existing:
            raise ValueError(f"no such column: {name}")
        # a CHECK constraint referencing the column would poison EVERY
        # future write (enforce fails to resolve); refuse up front.
        # Identifier-token match — conservatively flags the name even
        # inside a string literal (err on the safe side).
        offenders = [
            c for c, pred in constraints.items()
            if re.search(rf"\b{re.escape(name)}\b", pred, re.IGNORECASE)
        ]
        if offenders:
            raise ValueError(
                f"cannot drop column {name!r}: referenced by CHECK "
                f"constraint(s) {sorted(offenders)}; drop the constraint(s) first"
            )
    keep = [f for f in schema.fields if f.name not in set(names)]
    return _commit_evolution(table, T.StructType(keep), {"dropped": list(names)})


def _require_main(table: Table) -> None:
    """Refuse branch evolution BEFORE any metadata write: rename/widen
    pin version 1 up front, and a refused branch op must not leave that
    side effect behind (review finding) — _commit_evolution re-checks
    for the add/drop paths."""
    if table.branch is not None:
        raise ValueError(
            "schema evolution on a branch is not supported (schema "
            "versions are resolved by snapshot id table-wide); evolve on "
            "main, before or after fast_forward"
        )


def _constraint_offenders(table: Table, name: str) -> list[str]:
    import re

    return [
        c for c, pred in table.constraints().items()
        if re.search(rf"\b{re.escape(name)}\b", pred, re.IGNORECASE)
    ]


def rename_column(table: Table, old: str, new: str) -> dict:
    """Rename a non-core column — metadata-only, Iceberg-style.

    The new version keeps the column's FIELD ID (table/fieldids.py) under
    the new name; no data file is touched. Reads resolve each file's
    written name by its write-schema version (DataFileEntry.sv +
    scan.read_entries), so old files surface their bytes under the new
    name and pinned pre-rename reads still show the old one.

    Refused for: core columns (MERGE keys / stats / cluster keys bind to
    them), names already used by ANY schema version (same burn rule as
    add_columns — by-name artifacts like per-file stats must stay
    unambiguous forever), columns referenced by CHECK constraints,
    partition-spec sources, or bloom-spec columns (those specs address
    columns by name; rewrite them first)."""
    _require_main(table)
    schema = current_schema(table)
    existing = {f.name for f in schema.fields}
    if old in CORE_COLUMNS:
        raise ValueError(f"cannot rename core column {old} ({CORE_COLUMNS})")
    if old not in existing:
        raise ValueError(f"no such column: {old}")
    if new in existing:
        raise ValueError(f"column already exists: {new}")
    ever_used = set(existing)
    for v in table.schema_versions():
        ever_used.update(f["name"] for f in v["schema"]["fields"])
    if new in ever_used:
        raise ValueError(
            f"column name {new!r} was used by an earlier schema version; "
            f"per-file stats and legacy reads bind by name — pick a fresh name"
        )
    offenders = _constraint_offenders(table, old)
    if offenders:
        raise ValueError(
            f"cannot rename column {old!r}: referenced by CHECK "
            f"constraint(s) {sorted(offenders)}; drop/re-add the constraint(s)"
        )
    part_sources = [f["source"] if isinstance(f, dict) else f.source
                    for f in table.partition_spec()]
    if old in part_sources:
        raise ValueError(
            f"cannot rename column {old!r}: it is a partition-spec source; "
            f"re-declare the spec first"
        )
    if old in table.bloom_spec():
        raise ValueError(
            f"cannot rename column {old!r}: it has a bloom-index spec; "
            f"re-declare the spec first"
        )
    from ..table.fieldids import version_field_maps

    if not table.schema_versions():
        table.append_schema_version(schema.jsonValue(), as_of_snapshot=0)
    prev = version_field_maps(table.schema_versions())[-1]
    field_ids = {(new if n == old else n): i for n, i in prev.items()}
    new_fields = [
        T.StructField(new, f.dataType, f.nullable) if f.name == old else f
        for f in schema.fields
    ]
    return _commit_evolution(
        table, T.StructType(new_fields), {"renamed": f"{old}->{new}"},
        field_ids=field_ids, mapped=True,
    )


#: lossless widenings (Iceberg's allowed type promotions on plain parquet)
_WIDENINGS = {("int", "bigint"), ("float", "double")}


def widen_column(table: Table, name: str, to_type: str) -> dict:
    """Widen a non-core column's type in place (int->bigint or
    float->double) — metadata-only. Old files keep their narrow bytes;
    reads cast each vintage losslessly onto the current type
    (scan.read_entries); new files are written wide."""
    _require_main(table)
    schema = current_schema(table)
    by_name = {f.name: f for f in schema.fields}
    if name in CORE_COLUMNS:
        raise ValueError(f"cannot widen core column {name} ({CORE_COLUMNS})")
    if name not in by_name:
        raise ValueError(f"no such column: {name}")
    from_type = by_name[name].dataType.simpleString()
    if (from_type, to_type) not in _WIDENINGS:
        raise ValueError(
            f"unsupported widening {from_type}->{to_type} for {name!r}; "
            f"allowed: {sorted(_WIDENINGS)}"
        )
    from ..table.fieldids import version_field_maps

    if not table.schema_versions():
        table.append_schema_version(schema.jsonValue(), as_of_snapshot=0)
    prev = version_field_maps(table.schema_versions())[-1]
    new_fields = [
        T.StructField(name, _ALLOWED_TYPES[to_type], f.nullable)
        if f.name == name else f
        for f in schema.fields
    ]
    return _commit_evolution(
        table, T.StructType(new_fields),
        {"widened": f"{name}:{from_type}->{to_type}"},
        field_ids=dict(prev), mapped=True,
    )
