"""Hypothesis property tests for the pure (no-Spark) planning/parsing
helpers — fast, exhaustive-ish coverage of the driver-side logic whose
bugs would silently corrupt plans rather than crash."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from e_commerce_lakehouse_spark.plans.binpack import plan_bin_packing
from e_commerce_lakehouse_spark.sources.readers import _col_index
from e_commerce_lakehouse_spark.table.meta import DataFileEntry

# ----------------------------------------------------------------- binpack

entries_st = st.lists(
    st.builds(
        DataFileEntry,
        path=st.uuids().map(lambda u: f"data/{u}.parquet"),
        rows=st.integers(1, 10_000),
        bytes=st.integers(1, 1 << 28),
    ),
    max_size=60,
    unique_by=lambda e: e.path,
)


@settings(max_examples=200, deadline=None)
@given(entries=entries_st, target=st.integers(1 << 10, 1 << 27))
def test_binpack_partition_of_inputs(entries, target):
    groups, kept = plan_bin_packing(entries, target)
    grouped = [e.path for g in groups for e in g.entries]
    # every input lands in exactly one group or is kept — never both/lost
    assert sorted(grouped + [e.path for e in kept]) == sorted(e.path for e in entries)
    for g in groups:
        assert len(g.entries) >= 2  # lone-file bins are pointless rewrites
        # FFD invariant: groups never exceed target unless a single file does
        assert g.bytes <= target or len(g.entries) == 1
    # healthy files are never rewritten
    threshold = int(target * 0.75)
    for g in groups:
        for e in g.entries:
            assert e.bytes < threshold


entries_stats_st = st.lists(
    st.builds(
        DataFileEntry,
        path=st.uuids().map(lambda u: f"data/{u}.parquet"),
        rows=st.integers(1, 10_000),
        bytes=st.integers(1, 1 << 28),
        stats=st.one_of(
            st.just({}),
            st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)).map(
                lambda t: {"conv_id": [f"conv-{min(t):012d}", f"conv-{max(t):012d}"]}
            ),
        ),
    ),
    max_size=60,
    unique_by=lambda e: e.path,
)


@settings(max_examples=200, deadline=None)
@given(entries=entries_stats_st, target=st.integers(1 << 10, 1 << 27))
def test_binpack_ordered_partition_and_locality(entries, target):
    from e_commerce_lakehouse_spark.plans.binpack import plan_bin_packing_ordered

    groups, kept = plan_bin_packing_ordered(entries, target)
    grouped = [e.path for g in groups for e in g.entries]
    # partition invariant: every input in exactly one group or kept
    assert sorted(grouped + [e.path for e in kept]) == sorted(e.path for e in entries)
    threshold = int(target * 0.75)
    for g in groups:
        assert len(g.entries) >= 2
        assert g.bytes <= target or len(g.entries) == 1
        for e in g.entries:
            assert e.bytes < threshold
        # locality invariant: files WITH stats inside a group appear in
        # non-decreasing conv_id-min order (consecutive-range packing)
        mins = [e.stats["conv_id"][0] for e in g.entries if e.stats.get("conv_id")]
        assert mins == sorted(mins)


# ------------------------------------------------------------- xlsx helper


@settings(max_examples=200, deadline=None)
@given(col=st.integers(0, 16_000), row=st.integers(1, 1_000_000))
def test_col_index_roundtrip(col, row):
    # rebuild an A1-style ref from a 0-based column index, then parse it
    letters = ""
    c = col + 1
    while c:
        c, rem = divmod(c - 1, 26)
        letters = chr(ord("A") + rem) + letters
    assert _col_index(f"{letters}{row}") == col


# ------------------------------------------------------------ driver heap


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def _heap_bytes(spec: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    return int(spec[:-1]) * units[spec[-1].lower()]


def test_default_driver_heap_fits_host_memory(monkeypatch):
    from e_commerce_lakehouse_spark.session import driver_memory

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = _heap_bytes(driver_memory())
    # the JVM must be able to reserve the heap with room left for the
    # Python workers: at most half of MemTotal, never above the 16g cap
    assert 0 < heap <= _mem_total_bytes() // 2
    assert heap <= 16 << 30


def test_driver_heap_env_override(monkeypatch):
    from e_commerce_lakehouse_spark.session import driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
