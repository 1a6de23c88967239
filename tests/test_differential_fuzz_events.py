"""Events-shaped differential fuzz gate — the companion of
test_differential_fuzz.py for the transcript ops and the salted
aggregation.

A seeded adversarial events log runs through every events-only BATCH
query on Spark AND its DuckDB oracle, compared with the driver's
value-hash protocol. The corpus plants exactly the shapes most likely
to split the two engines: duplicate (user, ts) bursts (tiebreak
torture for every window), consecutive duplicate states (SCD2
collapse), session gaps at exactly/just-over the 1800 s boundary,
events exactly AT q119's cutoff timestamp, users with only purchases
(NULL point-in-time state), single-event users, NULL event_type /
value / props / user_id, huge ids, and a full missing day (date-spine
gap).

Contract pinned by construction (documented in the queries): event
timestamps are non-null (event-time NOT NULL), and non-null props
JSON always carries a numeric "k" (q14's extraction contract).
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

# events-only queries that read the parquet directly (no table-build /
# streaming lifecycle, which have their own gates)
FUZZ_QUERIES = [
    "q36_skew_salted_agg",
    # transcript ops: all read the events parquet through the same
    # deterministic projection
    "q175_transcript_audit",
    "q178_context_budget",
    "q179_response_latency",
    "q180_conversation_dedup",
    "q181_tool_usage_profile",
    "q182_prefix_templates",
    "q183_turn_position_profile",
    "q184_agent_loop_runs",
    "q185_tool_bigrams",
    "q186_conversation_cost",
    "q187_boilerplate_turns",
    "q188_context_pack_examples",
    "q204_preference_pairs",
    "q206_truncation_audit",
    "q207_grounding_audit",
    "q208_sft_examples",
    "q210_preference_pipeline",
    "q211_cache_economics",
    "q214_turn_windows",
    "q215_window_dedup",
]

TYPES = ["view", "click", "purchase", "signup", "error"]
CUTOFF = dt.datetime(2024, 1, 29, 0, 0, 0)  # q119's boundary


def _fuzz_events(seed: int) -> list[tuple]:
    rng = random.Random(seed)
    rows: list[tuple] = []
    eid = [0]

    def add(user, ts, etype, value=None, props=None):
        eid[0] += 1
        if value is None and rng.random() < 0.8:
            value = round(rng.uniform(0, 500), 2)
        if props is None and rng.random() < 0.7:
            props = '{"k": %d, "z": "%s"}' % (rng.randrange(0, 999), etype)
        rows.append((eid[0], ts, user, etype, value, props))

    t0 = dt.datetime(2024, 1, 2, 9, 0, 0)

    # u0 (id 0, %7==0): mixed events across the cutoff -> q119 affected key
    for i in range(20):
        add(0, t0 + dt.timedelta(days=i * 2, minutes=rng.randrange(600)),
            rng.choice(TYPES))
    # u7 (%7==0): pre-cutoff only -> in the %7 cohort but NOT in the batch
    for i in range(6):
        add(7, t0 + dt.timedelta(days=i, hours=1), rng.choice(TYPES))
    # u1: single event
    add(1, t0 + dt.timedelta(days=3), "signup")
    # u2: only purchases -> q114 probes with NO dim rows (NULL state)
    for i in range(4):
        add(2, t0 + dt.timedelta(days=5 + i), "purchase")
    # u3: duplicate-timestamp bursts — three types AT THE SAME ts
    for burst in range(4):
        ts = t0 + dt.timedelta(days=8, hours=burst)
        for etype in rng.sample(TYPES, 3):
            add(3, ts, etype)
    # u4: consecutive duplicate states (SCD2 collapse runs)
    for i, etype in enumerate(["view"] * 4 + ["click"] * 3 + ["view"] * 2):
        add(4, t0 + dt.timedelta(days=10, minutes=10 * i), etype)
    # u5: session gaps exactly at / just over 1800 s
    base = t0 + dt.timedelta(days=12)
    add(5, base, "view")
    add(5, base + dt.timedelta(seconds=1800), "click")   # same session (> strict)
    add(5, base + dt.timedelta(seconds=3601), "view")    # new session
    add(5, base + dt.timedelta(seconds=3601), "purchase")  # dup ts across gap edge
    # u6: NULL event_type / value / props
    add(6, t0 + dt.timedelta(days=14), None, value=None, props=None)
    add(6, t0 + dt.timedelta(days=14, minutes=1), "view", value=None)
    add(6, t0 + dt.timedelta(days=14, minutes=2), None)
    rows.append((eid[0] + 1, t0 + dt.timedelta(days=14, minutes=3), 6, "click",
                 float("0.125"), None))
    eid[0] += 1
    # u8: events exactly AT and just after the q119 cutoff
    add(8, CUTOFF, "view")
    add(8, CUTOFF + dt.timedelta(microseconds=1), "click")
    add(8, CUTOFF + dt.timedelta(hours=1), "purchase")
    # u14 (%7==0): post-cutoff only — brand-new key arriving in the batch
    add(14, CUTOFF + dt.timedelta(hours=2), "signup")
    add(14, CUTOFF + dt.timedelta(hours=3), "view")
    # funnel-complete and funnel-broken users
    for i, etype in enumerate(["signup", "view", "click", "purchase"]):
        add(9, t0 + dt.timedelta(days=16, minutes=i), etype)
    for i, etype in enumerate(["signup", "click", "view"]):  # click before view
        add(10, t0 + dt.timedelta(days=16, minutes=i), etype)
    # NULL user_id and a huge user_id
    rows.append((eid[0] + 1, t0 + dt.timedelta(days=18), None, "view", 1.0,
                 '{"k": 1}'))
    eid[0] += 1
    add(10**14, t0 + dt.timedelta(days=18, hours=1), "purchase")
    # background noise, skipping day 20 entirely (date-spine gap)
    for i in range(120):
        day = rng.randrange(0, 26)
        if day == 20:
            continue
        add(rng.randrange(9, 13),
            t0 + dt.timedelta(days=day, seconds=rng.randrange(86400)),
            rng.choice(TYPES))
    return rows


# two corpus draws: the planted adversaries are identical, but the
# random interleavings (burst placement, noise users, value draws)
# differ — a tiebreak or boundary defect that survives one draw by
# luck gets a second chance to split the engines
@pytest.fixture(scope="module", params=[11, 83])
def fuzz_events_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"fuzz_events_sf{request.param}")
    rows = _fuzz_events(seed=request.param)
    tb = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tb, d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_spark_matches_duckdb_on_fuzz_events(spark, fuzz_events_dir, name):
    import duckdb

    import e_commerce_lakehouse_spark.oracles as O
    import e_commerce_lakehouse_spark.queries as Q

    sdf = Q.ALL[name](spark, fuzz_events_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{fuzz_events_dir}/events.parquet'"
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
