"""Differential fuzz gate: a RANDOMIZED (seeded) documents corpus runs
through every documents-only query on Spark AND its DuckDB oracle twin,
compared with the driver's own value-hash protocol (Arrow fetch, 9-dp
float normalization). The sf fixtures prove the pair agrees on ONE
input; this proves it on an adversarial one — planted exact/near
duplicates, case/punct twins, repeated-word spam, PII spans, empty and
single-word texts, doubled internal whitespace, huge doc ids, and NULL
langs — the inputs most likely to expose a Spark/DuckDB semantic
divergence (regex splitting, NULL handling, rounding, tie-breaks).
"""

from __future__ import annotations

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

# documents-only queries (no other tables, no table-build lifecycle)
FUZZ_QUERIES = [
    "q84_kmv_distinct_sketch",
]

VOCAB = [
    "table", "row", "scan", "merge", "batch", "window", "spark", "data",
    "column", "join", "small", "fast", "slow", "filter", "value", "part",
    "hash", "agg", "key", "query", "line", "order", "big", "the", "a",
    "customer", "supplier", "region", "nation", "event",
]


def _fuzz_corpus(seed: int) -> list[tuple]:
    rng = random.Random(seed)
    rows: list[tuple] = []
    langs = ["en", "zh", "es", "de", "fr"]
    texts: list[str] = []

    def sentence(lo=8, hi=25):
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))

    for i in range(60):  # normal docs
        texts.append(sentence())
    for i in range(8):  # exact duplicates of earlier docs
        texts.append(texts[rng.randrange(len(texts))])
    for i in range(6):  # near-duplicates: one word mutated
        w = texts[rng.randrange(60)].split()
        w[rng.randrange(len(w))] = rng.choice(VOCAB)
        texts.append(" ".join(w))
    for i in range(4):  # case/punct twins (q70's family)
        texts.append("  " + texts[rng.randrange(60)].upper() + " !!  ")
    for i in range(4):  # repeated-word spam (repetition gate)
        texts.append((rng.choice(VOCAB) + " ") * rng.randint(30, 60))
    texts.append("mail bob@example.com or 10.0.0.1 call +1 555-123-0199 ok")
    texts.append(sentence() + " ping carol@test.org done")
    texts.append("")  # empty text
    texts.append("")
    texts.append("solo")  # single word
    texts.append("word")
    texts.append("double  space   run " + sentence(4, 8))  # whitespace runs
    texts.append(sentence(4, 8) + " tab\tinside here")

    for i, text in enumerate(texts):
        doc_id = 10**14 + i if i % 37 == 5 else i  # a few huge ids
        lang = None if i % 41 == 7 else rng.choice(langs)
        source = f"src{rng.randrange(10) if rng.random() < 0.8 else rng.randrange(3)}"
        rows.append((doc_id, text, lang, source, len(text)))
    return rows


@pytest.fixture(scope="module", params=[7, 71])
def fuzz_dir(request, tmp_path_factory):
    # two corpus draws (see events gate): identical planted adversaries,
    # different random interleavings
    d = tmp_path_factory.mktemp(f"fuzz_sf{request.param}")
    rows = _fuzz_corpus(seed=request.param)
    tb = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tb, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_spark_matches_duckdb_on_fuzz_corpus(spark, fuzz_dir, name):
    import duckdb

    import e_commerce_lakehouse_spark.oracles as O
    import e_commerce_lakehouse_spark.queries as Q

    sdf = Q.ALL[name](spark, fuzz_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{fuzz_dir}/documents.parquet'"
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
        diff = [(a, b) for a, b in zip(sl, dl) if a != b][:3]
        pytest.fail(f"{name}: value-hash mismatch; first diffs: {diff}")
