"""Relational (TPC-H-shaped) differential fuzz gate — third corpus,
covering the ETL validation / bucketing / date-part queries over orders.

A seeded adversarial 7-table schema runs every relational-only pair on
Spark AND DuckDB under the driver's value-hash protocol. Planted
shapes: orphan foreign keys and NULL join keys (join/semi/anti paths),
NULL group keys (ROLLUP/CUBE/GROUPING SETS null-vs-subtotal
collision), validation-boundary prices (exactly 150000, exactly 50000,
zero, negative, NULL), price TIES inside ranking windows, duplicate
full rows (set ops), whitespace/case-mangled and empty-after-trim
customer names, single-token / trailing-space / NULL / duplicate part
names, discount 0 and 1, shipdates exactly at q01's 1998-09-02 cutoff,
leap day, empty dims (a region with no nations), and single-row /
constant-valued groups.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location(
    "check_oracles", REPO / "tools" / "check_oracles.py"
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)

FUZZ_QUERIES = [
    "q05_validation_filter",
    "q06_invalid_complement",
    "q07_value_buckets",
    "q11_date_parts",
]

TABLES = "region nation customer supplier part orders lineitem".split()

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", None]
STATUSES = ["O", "F", "P", None]
SEGMENTS = ["BUILDING", "MACHINERY", None]
ADJ = ["red", "bed", "blue", "blu", "old", "cold", "zzzzzz"]
NOUN = ["bolt", "ring", "gear"]


def _corpus(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)

    region = pa.table(
        {
            "r_regionkey": pa.array([0, 1, 2], pa.int32()),
            "r_name": pa.array(["ASIA", "EUROPE", "EMPTYREG"], pa.string()),
        }
    )
    # nation 4: NULL regionkey; nation 5: dangling regionkey
    nation = pa.table(
        {
            "n_nationkey": pa.array([0, 1, 2, 3, 4, 5], pa.int32()),
            "n_name": pa.array(
                ["CHINA", "JAPAN", "FRANCE", "GERMANY", "NOWHERE", None],
                pa.string(),
            ),
            "n_regionkey": pa.array([0, 0, 1, 1, None, 99], pa.int32()),
        }
    )

    c_keys, c_names, c_nats, c_bals, c_segs = [], [], [], [], []
    for k in range(1, 41):
        c_keys.append(k)
        if k == 1:
            c_names.append("   ")  # empty after trim (q12 drops it)
        elif k == 2:
            c_names.append(None)
        elif k == 3:
            c_names.append("  MiXeD cAsE name  ")
        else:
            c_names.append(f"Customer#{k:09d}")
        c_nats.append(
            None if k % 13 == 0 else (99 if k % 17 == 0 else k % 6)
        )
        c_bals.append(round(rng.uniform(-999, 9999), 2))
        c_segs.append(rng.choice(SEGMENTS))
    customer = pa.table(
        {
            "c_custkey": pa.array(c_keys, pa.int64()),
            "c_name": pa.array(c_names, pa.string()),
            "c_nationkey": pa.array(c_nats, pa.int32()),
            "c_acctbal": pa.array(c_bals, pa.float64()),
            "c_mktsegment": pa.array(c_segs, pa.string()),
        }
    )

    supplier = pa.table(
        {
            "s_suppkey": pa.array(list(range(1, 11)), pa.int64()),
            "s_name": pa.array([f"Supplier#{k}" for k in range(1, 11)], pa.string()),
            "s_nationkey": pa.array(
                [0, 0, 1, 2, 3, 4, 5, None, 99, 1], pa.int32()
            ),
            "s_acctbal": pa.array(
                [round(rng.uniform(-99, 999), 2) for _ in range(10)], pa.float64()
            ),
        }
    )

    p_keys, p_names, p_brands, p_types, p_sizes, p_prices = [], [], [], [], [], []
    for k in range(1, 31):
        p_keys.append(k)
        if k == 1:
            p_names.append("solo")  # single token: block == whole name
        elif k == 2:
            p_names.append("red bolt ")  # trailing space: '' block
        elif k == 3:
            p_names.append(None)
        else:
            p_names.append(f"{rng.choice(ADJ)} {rng.choice(NOUN)}")
        p_brands.append(None if k % 11 == 0 else f"Brand#{k % 5}")
        p_types.append(f"TYPE{k % 3}")
        p_sizes.append(None if k == 7 else k % 50)
        p_prices.append(None if k == 9 else round(rng.uniform(1, 2000), 2))
    part = pa.table(
        {
            "p_partkey": pa.array(p_keys, pa.int64()),
            "p_name": pa.array(p_names, pa.string()),
            "p_brand": pa.array(p_brands, pa.string()),
            "p_type": pa.array(p_types, pa.string()),
            "p_size": pa.array(p_sizes, pa.int32()),
            "p_retailprice": pa.array(p_prices, pa.float64()),
        }
    )

    o_rows = []  # (key, custkey, status, price, date, priority)
    d0 = dt.datetime(1995, 1, 15)
    for k in range(1, 181):
        key = k * 97 if k % 40 == 0 else k  # some keys divisible by 97 (q85)
        custkey = None if k % 23 == 0 else (999 if k % 19 == 0 else (k % 40) + 1)
        price = round(rng.uniform(100, 220000), 2)
        if k % 29 == 0:
            price = 150000.0  # validation boundary (<=)
        elif k % 31 == 0:
            price = 50000.0  # bucket boundary
        elif k % 37 == 0:
            price = rng.choice([0.0, -5.0, None])
        elif k % 41 == 0:
            price = 123456.78  # planted TIES for the ranking windows
        date = d0 + dt.timedelta(days=rng.randrange(0, 500))
        if k % 43 == 0:
            date = None
        elif k == 50:
            date = dt.datetime(1996, 2, 29)  # leap day
        o_rows.append(
            (key, custkey, rng.choice(STATUSES), price, date, rng.choice(PRIORITIES))
        )
    o_rows.append(o_rows[0])  # duplicate full row (set ops)
    o_rows.append(o_rows[1])
    o_rows.append((-3, 5, "O", 500.0, d0, "1-URGENT"))  # negative key (invalid)
    o_rows.append((None, 5, "O", 600.0, d0, "2-HIGH"))  # NULL key (invalid)
    orders = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in o_rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in o_rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in o_rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in o_rows], pa.float64()),
            "o_orderdate": pa.array([r[4] for r in o_rows], pa.timestamp("us")),
            "o_orderpriority": pa.array([r[5] for r in o_rows], pa.string()),
        }
    )

    l_rows = []
    ship0 = dt.datetime(1995, 6, 1)
    existing_keys = [r[0] for r in o_rows if r[0] is not None and r[0] > 0]
    for i in range(420):
        okey = 100000 + i if i % 53 == 0 else rng.choice(existing_keys)  # some dangling
        qty = float(rng.randrange(0, 51))  # integral (q115 contract), incl 0
        price = round(rng.uniform(1, 90000), 2)
        disc = rng.choice([0.0, 0.05, 0.1, 1.0])  # incl 0 and 1
        ship = ship0 + dt.timedelta(days=rng.randrange(0, 1400))
        if i % 97 == 0:
            ship = dt.datetime(1998, 9, 2)  # exactly at q01's cutoff
        rf = rng.choice(["A", "N", "R", None])
        if i < 2:
            rf = "Z"  # near-singleton stats group: 0/0 NaN path
        l_rows.append(
            (okey, (i % 30) + 1, (i % 10) + 1, i % 7, qty, price, disc,
             round(rng.uniform(0, 0.08), 2), rf, rng.choice(["O", "F"]), ship)
        )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in l_rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in l_rows], pa.int64()),
            "l_suppkey": pa.array([r[2] for r in l_rows], pa.int64()),
            "l_linenumber": pa.array([r[3] for r in l_rows], pa.int32()),
            "l_quantity": pa.array([r[4] for r in l_rows], pa.float64()),
            "l_extendedprice": pa.array([r[5] for r in l_rows], pa.float64()),
            "l_discount": pa.array([r[6] for r in l_rows], pa.float64()),
            "l_tax": pa.array([r[7] for r in l_rows], pa.float64()),
            "l_returnflag": pa.array([r[8] for r in l_rows], pa.string()),
            "l_linestatus": pa.array([r[9] for r in l_rows], pa.string()),
            "l_shipdate": pa.array([r[10] for r in l_rows], pa.timestamp("us")),
        }
    )

    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


@pytest.fixture(scope="module", params=[23, 67])
def fuzz_rel_dir(request, tmp_path_factory):
    # two corpus draws (see events gate)
    d = tmp_path_factory.mktemp(f"fuzz_rel_sf{request.param}")
    for name, tb in _corpus(seed=request.param).items():
        pq.write_table(tb, d / f"{name}.parquet")
    return str(d)


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_spark_matches_duckdb_on_fuzz_relational(spark, fuzz_rel_dir, name):
    import duckdb

    import e_commerce_lakehouse_spark.oracles as O
    import e_commerce_lakehouse_spark.queries as Q

    sdf = Q.ALL[name](spark, fuzz_rel_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{fuzz_rel_dir}/{t}.parquet'"
        )
    tb = con.execute(O.ALL[name]).arrow()
    d_cols = tb.schema.names
    cols_py = [tb.column(i).to_pylist() for i in range(tb.num_columns)]
    d_rows = list(zip(*cols_py)) if cols_py else []

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount {len(s_rows)} vs {len(d_rows)}"
    hs = check_oracles.value_hash(s_rows, s_cols)
    hd = check_oracles.value_hash(d_rows, d_cols)
    if hs != hd:
        order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        sl = sorted("|".join(check_oracles.norm_cell(r[i]) for i in order) for r in s_rows)
        dl = sorted("|".join(check_oracles.norm_cell(r[i]) for i in order) for r in d_rows)
        diff = [(a, b) for a, b in zip(sl, dl) if a != b][:4]
        pytest.fail(f"{name}: value-hash mismatch; first diffs: {diff}")
