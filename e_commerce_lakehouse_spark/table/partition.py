"""Hidden partitioning: Iceberg-style partition TRANSFORMS.

The reference stores its tables partitioned — orders/order_items by
(year, month), products by department (`orders_etl.py:191-194`,
`products_etl.py:91-94`) — and relies on Delta + Catalyst partition
pruning. For transcripts the analogous layout is ``day(ts)`` (time-series
archival, expire-by-day) and ``bucket(conv_id, N)`` (co-locate a
conversation's turns). Iceberg's insight, kept here: the partition value
is a FUNCTION of row columns, declared once in table metadata, so writers
never hand-maintain year/month columns and queries never filter on them —
the scan planner derives partition predicates from ordinary column
predicates and prunes EXACTLY (a partition tuple is a fact about every
row in the file, unlike min/max stats which are conservative).

Transforms (all deterministic, evaluable both as a Spark Column for the
write path and on a Python literal for the pruning path):

- ``identity``   — the column value itself
- ``day``        — epoch days of a timestamp (UTC)
- ``bucket[N]``  — ``int(md5(value)[:8], 16) % N``; md5, not xxhash64,
  because the planner must bucket PREDICATE LITERALS driver-side without
  a Spark job, and hashlib.md5 == F.md5 bit-for-bit (same choice the
  deterministic-sampling ops made, queries.py q51)

Spec shape (JSON, metadata/PARTITION_SPEC.json)::

    [{"name": "ts_day", "source": "ts", "transform": "day"},
     {"name": "conv_bucket", "source": "conv_id", "transform": "bucket[16]"}]
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import re
from dataclasses import dataclass

_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_EPOCH = _dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class PartitionField:
    name: str  # partition column name (must not collide with data columns)
    source: str  # source data column
    transform: str  # identity | day | bucket[N]

    def to_dict(self) -> dict:
        return {"name": self.name, "source": self.source, "transform": self.transform}

    @classmethod
    def from_dict(cls, d: dict) -> "PartitionField":
        return cls(name=d["name"], source=d["source"], transform=d["transform"])


def validate_spec(spec: list[PartitionField], data_columns: list[str]) -> None:
    names = [f.name for f in spec]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate partition field names: {names}")
    for f in spec:
        if f.name in data_columns:
            raise ValueError(
                f"partition field {f.name!r} collides with a data column; "
                "hidden partition columns are derived, not stored"
            )
        if f.source not in data_columns:
            raise ValueError(f"partition source column not in schema: {f.source!r}")
        if f.transform not in ("identity", "day") and not _BUCKET_RE.match(f.transform):
            raise ValueError(f"unknown partition transform: {f.transform!r}")


def spark_partition_column(field: PartitionField):
    """The transform as a Spark Column over the source column (write path)."""
    from pyspark.sql import functions as F

    src = F.col(field.source)
    if field.transform == "identity":
        return src
    if field.transform == "day":
        return F.floor(F.unix_micros(src.cast("timestamp")) / _US_PER_DAY).cast("long")
    m = _BUCKET_RE.match(field.transform)
    if m:
        n = int(m.group(1))
        return (
            F.conv(F.substring(F.md5(src.cast("string")), 1, 8), 16, 10)
            .cast("long") % n
        )
    raise ValueError(f"unknown partition transform: {field.transform!r}")


def apply_transform(field: PartitionField, value):
    """The transform on a Python literal (pruning path). Timestamps accept
    datetime or epoch-micros int — the same convention as file stats."""
    if value is None:
        return None
    if isinstance(value, _dt.datetime) and value.tzinfo is not None:
        value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if field.transform == "identity":
        return value
    if field.transform == "day":
        if isinstance(value, _dt.datetime):
            micros = (value - _EPOCH) // _dt.timedelta(microseconds=1)
        else:
            micros = int(value)
        return micros // _US_PER_DAY
    m = _BUCKET_RE.match(field.transform)
    if m:
        n = int(m.group(1))
        return int(hashlib.md5(str(value).encode()).hexdigest()[:8], 16) % n
    raise ValueError(f"unknown partition transform: {field.transform!r}")


def spec_path(metadata_dir: str) -> str:
    return os.path.join(metadata_dir, "PARTITION_SPEC.json")


def read_spec_history(metadata_dir: str) -> list[list[PartitionField]]:
    """All specs the table has ever written under, oldest first. The file
    is either a plain list (v1: single spec) or ``{"specs": [[...], ...]}``
    after partition evolution."""
    path = spec_path(metadata_dir)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        raw = json.load(f)
    if isinstance(raw, dict):
        return [[PartitionField.from_dict(d) for d in s] for s in raw["specs"]]
    return [[PartitionField.from_dict(d) for d in raw]] if raw else []


def read_spec(metadata_dir: str) -> list[PartitionField]:
    """The CURRENT spec (what writers use). [] = unpartitioned."""
    hist = read_spec_history(metadata_dir)
    return hist[-1] if hist else []


def write_spec_history(metadata_dir: str, specs: list[list[PartitionField]]) -> None:
    tmp = spec_path(metadata_dir) + ".tmp"
    if len(specs) == 1:  # keep the v1 single-spec shape when unevolved
        payload = [p.to_dict() for p in specs[0]]
    else:
        payload = {"specs": [[p.to_dict() for p in s] for s in specs]}
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, spec_path(metadata_dir))


def write_spec(metadata_dir: str, spec: list[PartitionField]) -> None:
    write_spec_history(metadata_dir, [spec])


def union_fields(history: list[list[PartitionField]]) -> list[PartitionField]:
    """Every field ever declared, deduped by name, oldest first. Evolution
    REQUIRES a reused name to keep an identical (source, transform) — so a
    field def is unambiguous table-wide and pruning may apply any field an
    entry's tuple carries, whatever spec wrote it."""
    out: dict[str, PartitionField] = {}
    for spec in history:
        for f in spec:
            prev = out.get(f.name)
            if prev is not None and prev != f:
                raise ValueError(
                    f"partition field {f.name!r} redefined across specs: "
                    f"{prev.transform}({prev.source}) vs {f.transform}({f.source})"
                )
            out.setdefault(f.name, f)
    return list(out.values())


def partition_from_path(rel_path: str, spec: list[PartitionField]) -> dict | None:
    """Parse hive-style ``name=value`` dir segments out of a data-file
    path. Values are typed by the transform (day/bucket → int). Returns
    None when the path carries no partition dirs (pre-spec files)."""
    segs = dict(
        s.split("=", 1) for s in rel_path.split("/") if "=" in s and not s.endswith(".parquet")
    )
    out = {}
    for f in spec:
        if f.name not in segs:
            return None
        raw = segs[f.name]
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[f.name] = None
        elif f.transform == "identity":
            out[f.name] = raw
        else:
            out[f.name] = int(raw)
    return out


def prune_by_partition(
    entries,
    spec: list[PartitionField],
    conv_id: str | None = None,
    ts_range: tuple | None = None,
):
    """EXACT partition pruning from ordinary column predicates.

    - a point predicate on a ``bucket[N]`` source keeps only that bucket
    - a ts range keeps only the overlapping ``day`` partitions
    - identity fields prune on point predicates of their source

    Entries with no partition metadata (written before the spec, or by a
    non-partitioned writer) are KEPT — pruning must stay conservative for
    mixed-vintage tables. Range predicates on bucketed sources cannot
    prune (hash destroys order) — same rule as Iceberg."""
    if not spec:
        return list(entries)
    keep = []
    for e in entries:
        part = getattr(e, "partition", None)
        if not part:
            keep.append(e)
            continue
        alive = True
        for f in spec:
            if f.name not in part or part[f.name] is None:
                continue
            v = part[f.name]
            if conv_id is not None and f.source == "conv_id":
                if v != apply_transform(f, conv_id):
                    alive = False
                    break
            if ts_range is not None and f.source == "ts" and f.transform == "day":
                lo, hi = ts_range
                d_lo = apply_transform(f, lo) if lo is not None else None
                d_hi = apply_transform(f, hi) if hi is not None else None
                if (d_lo is not None and v < d_lo) or (d_hi is not None and v > d_hi):
                    alive = False
                    break
        if alive:
            keep.append(e)
    return keep
