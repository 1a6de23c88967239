"""Parquet manifest codec: round-trip fidelity + mixed-codec tables.

The 100 TB metadata question (VERDICT r2 'what's missing' #2): JSON
manifests cost seconds of driver-side parse per planning pass at ~800k
files. New manifests are typed parquet; reads dispatch on extension so a
table whose history spans both codecs keeps planning correctly.
Plan-time numbers: BENCH/BASELINE.md 'Metadata plan time'.
"""

from __future__ import annotations

import pytest

from e_commerce_lakehouse_spark.table import meta as M
from e_commerce_lakehouse_spark.table.meta import DataFileEntry, Table


def _entries(n=5):
    out = []
    for i in range(n):
        stats = {
            "conv_id": [f"conv-{i:04d}", f"conv-{i + 7:04d}"],
            "turn_idx": [0, 10 + i],
            "ts": [1_700_000_000_000_000 + i, 1_700_000_500_000_000 + i],
        }
        if i == 3:
            stats = {}  # a file with NO stats must round-trip too
        out.append(DataFileEntry(path=f"data/f{i}.parquet", rows=100 + i,
                                 bytes=10_000 + i, stats=stats))
    return out


def _roundtrip(tmp_path, codec):
    old = M.MANIFEST_CODEC
    M.MANIFEST_CODEC = codec
    try:
        t = Table.create(str(tmp_path / f"tbl-{codec}"))
        name = t._write_manifest(1, 0, _entries())
        assert name.endswith("." + ("parquet" if codec == "parquet" else "json"))
        return t.manifest_entries(name)
    finally:
        M.MANIFEST_CODEC = old


@pytest.mark.parametrize("codec", ["parquet", "json"])
def test_manifest_roundtrip_identical(tmp_path, codec):
    orig = _entries()
    got = _roundtrip(tmp_path, codec)
    assert len(got) == len(orig)
    for a, b in zip(got, orig):
        assert a.path == b.path and a.rows == b.rows and a.bytes == b.bytes
        assert {k: list(v) for k, v in a.stats.items()} == {
            k: list(v) for k, v in b.stats.items()
        }
        # typed fidelity: ts stays int (epoch micros), conv_id stays str
        if a.stats:
            assert isinstance(a.stats["ts"][0], int)
            assert isinstance(a.stats["conv_id"][0], str)
            assert isinstance(a.stats["turn_idx"][1], int)


def test_mixed_codec_table_plans_correctly(tmp_path):
    """A table with one JSON and one parquet manifest (codec upgraded
    mid-history) must union entries across both."""
    t = Table.create(str(tmp_path / "tbl-mixed"))
    old = M.MANIFEST_CODEC
    try:
        M.MANIFEST_CODEC = "json"
        t.commit_append(_entries(3))
        M.MANIFEST_CODEC = "parquet"
        extra = [DataFileEntry(path="data/px.parquet", rows=7, bytes=70,
                               stats={"conv_id": ["a", "z"]})]
        t.commit_append(extra)
    finally:
        M.MANIFEST_CODEC = old
    snap = t.snapshot()
    exts = {m.rsplit(".", 1)[1] for m in snap.manifests}
    assert exts == {"json", "parquet"}
    entries = t.entries()
    assert len(entries) == 4
    assert {e.path for e in entries} == {f"data/f{i}.parquet" for i in range(3)} | {
        "data/px.parquet"
    }


def test_legacy_sketch_columns_never_read(tmp_path, monkeypatch):
    """Manifests written before the sketch columns were retired still
    carry per-file ndv_<col>/dist_<col> JSON blobs. Decoding and planning
    must return exactly what the same manifest gives without them, and a
    point lookup must never ask parquet for one of those columns."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from e_commerce_lakehouse_spark._bloom import DEFAULT_MAX_BITS, build_bloom_from_values
    from e_commerce_lakehouse_spark.table.scan import planned_entries

    entries = _entries()
    bloom = {"fpp": 0.01, "max_bits": DEFAULT_MAX_BITS}
    for i, e in enumerate(entries):
        if e.stats:
            e.blooms = {"conv_id": build_bloom_from_values(
                [f"conv-{j:04d}" for j in range(i, i + 8)], bloom)}
    t = Table.create(str(tmp_path / "tbl-legacy"))
    t.commit_append(entries)
    (name,) = t.snapshot().manifests
    assert name.endswith(".parquet")

    def _view(tbl):
        return (
            [(e.path, e.rows, e.stats, e.blooms) for e in tbl.manifest_entries(name)],
            [(e.path, e.stats) for e in planned_entries(tbl, conv_id="conv-0005")],
            [e.path for e in planned_entries(tbl, conv_id_range=("conv-0002", "conv-0004"))],
        )

    want = _view(Table.load(t.root))
    assert want[1], "precondition: the point lookup keeps some files"

    full = f"{t.metadata_dir}/{name}"
    m = pq.read_table(full)
    blob = pa.array([json.dumps({"k": 64, "mins": [1, 2]}).encode()] * m.num_rows,
                    pa.binary())
    m = m.append_column("ndv_conv_id", blob).append_column(
        "dist_turn_idx", pa.array([b'{"hist":{"lo":0,"hi":1}}'] * m.num_rows, pa.binary()))
    pq.write_table(m, full)

    requested = []
    real_read_table, real_pf_read = pq.read_table, pq.ParquetFile.read

    def read_table(*a, columns=None, **kw):
        requested.append(columns)
        return real_read_table(*a, columns=columns, **kw)

    def pf_read(self, columns=None, **kw):
        requested.append(columns)
        return real_pf_read(self, columns=columns, **kw)

    monkeypatch.setattr(pq, "read_table", read_table)
    monkeypatch.setattr(pq.ParquetFile, "read", pf_read)
    assert _view(Table.load(t.root)) == want
    assert requested and all(cols is not None for cols in requested)
    assert not [c for cols in requested for c in cols
                if c.startswith(("ndv_", "dist_"))]
