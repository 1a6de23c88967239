"""Space-filling-curve cluster keys: Z-order and Hilbert.

The reference has no clustering operator (its layout is static
partitionBy(year,month), `/root/reference/src/glue_jobs/orders_etl.py:193`);
the north rule adds Z-order/Hilbert clustering on (conv_id, ts).

Two implementations, per the UDF guidance (SURVEY.md §2.9):

- **Z-order**: one Spark SQL expression — the classic 5-step
  bit-spreading ("Morton code") over two named dimension columns, parsed
  once and run inside whole-stage codegen; no Python in the hot path.
- **Hilbert**: genuinely iterative (31 rotation rounds), implemented as a
  numpy-vectorized ``pandas_udf`` over Arrow batches — never per-row
  Python.

The dimensions are SQL text too (``str31_sql``, ``scale31_sql``): a key
costs a few py4j calls however deep its expression, where a Column tree
costs one per node. Both curves take two 31-bit inputs and emit a 62-bit
non-negative int64 key, so nothing ever touches the sign bit. ``*_py``
twins are tiny pure-Python oracles: ``str31_py`` also projects the
driver-side bounds, the rest are used by the tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MASK31 = (1 << 31) - 1

# bit-spreading masks: interleave zeros between the 32 input bits
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_sql(c: str) -> str:
    for shift, mask in _SPREAD:
        c = f"(({c} | shiftleft({c}, {shift})) & {mask})"
    return c


def zorder_key_sql(x: str, y: str) -> str:
    """Morton interleave of two SQL int expressions in [0, 2^31) — pass
    column names: each is repeated 32 times in the text."""
    return f"({_spread_sql(x)} | shiftleft({_spread_sql(y)}, 1))"


def str31_sql(col: str, skip_prefix_len: int = 0) -> str:
    """Monotone 31-bit projection of a string column: the 4 bytes after a
    known common prefix, big-endian (what Iceberg's z-order does with
    truncated value bytes), NUL-padded (``ascii('')`` is 0). Order-preserving
    (non-strict), so files sorted by the derived key have NARROW min/max on
    the original string column — that is what makes manifest-stat pruning
    fire. NULL stays NULL."""
    b = [f"(ascii(substr({col}, {skip_prefix_len + 1 + i}, 1)) & 255)" for i in range(4)]
    v = f"((CAST({b[0]} AS BIGINT) * 256 + {b[1]}) * 256 + {b[2]}) * 256 + {b[3]}"
    return f"(shiftright({v}, 1) & {MASK31})"


def str31_py(s: str, skip_prefix_len: int = 0) -> int:
    """Pure-Python twin of ``str31_sql`` — used driver-side to project the
    table-wide min/max strings so the dimension can be min-max scaled to
    the FULL 31-bit domain (otherwise e.g. all-digit suffixes occupy a
    narrow ASCII sliver and the interleave degenerates to single-dimension
    ordering)."""
    tail = s[skip_prefix_len : skip_prefix_len + 4]
    tail = tail + "\x00" * (4 - len(tail))
    v = 0
    for ch in tail:
        v = v * 256 + (ord(ch) & 0xFF)
    return (v >> 1) & MASK31


def scale31_sql(expr: str, lo: float, hi: float) -> str:
    """Min-max scale a numeric SQL expression into [0, 2^31-1], clamped;
    NULL maps to 0."""
    rng = max(1.0, float(hi) - float(lo))
    scaled = f"CAST((CAST({expr} AS DOUBLE) - {float(lo)!r}D) * {MASK31 / rng!r}D AS BIGINT)"
    return f"least(greatest({scaled}, 0), {MASK31})"


# ---------------- Hilbert (vectorized Arrow UDF) ----------------


def _hilbert_np(x, y, order: int):
    """numpy xy2d: whole-array bit rotation, no per-row Python."""
    import numpy as np

    x = x.astype(np.uint64).copy()
    y = y.astype(np.uint64).copy()
    d = np.zeros_like(x)
    s = np.uint64(1) << np.uint64(order - 1)
    one = np.uint64(1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.uint64)
        ry = ((y & s) > 0).astype(np.uint64)
        d += s * s * ((np.uint64(3) * rx) ^ ry)
        # rotate quadrant: when ry==0 → optional reflect (rx==1), then swap
        refl = (ry == 0) & (rx == one)
        sm1 = s - one
        x_r = np.where(refl, sm1 - x, x)
        y_r = np.where(refl, sm1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y_r, x_r), np.where(swap, x_r, y_r)
        s >>= one
    return d.astype(np.int64)


def hilbert_key_udf(order: int = 31):
    """pandas_udf (x:int64, y:int64) -> int64 Hilbert distance."""

    @F.pandas_udf(T.LongType())
    def _hilbert(x: pd.Series, y: pd.Series) -> pd.Series:
        vals = _hilbert_np(x.to_numpy(), y.to_numpy(), order)
        return pd.Series(vals)

    return _hilbert


# ---------------- pure-Python oracles (tests only) ----------------


def zorder_key_py(x: int, y: int) -> int:
    z = 0
    for i in range(31):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def hilbert_key_py(x: int, y: int, order: int = 31) -> int:
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d
