"""Unit invariants for preference-pair construction (q204) and the
transcript training-data ops: pairs are deterministic with chosen !=
rejected, the score column is evaluated against the RESPONSE row, and
the audit/windowing ops match their closed forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.transcripts import preference_pairs


def _tr(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_preference_pairs_deterministic_chosen_rejected(spark):
    # prompt P answered in three conversations with response lengths
    # 3, 5, 1 -> chosen = len-5 response, rejected = len-1 response
    rows = [
        ("c1", 0, "user", "P"), ("c1", 1, "assistant", "abc"),
        ("c2", 0, "user", "P"), ("c2", 1, "assistant", "abcde"),
        ("c3", 0, "user", "P"), ("c3", 1, "assistant", "a"),
        # singleton prompt group: must emit nothing
        ("c4", 0, "user", "Q"), ("c4", 1, "assistant", "zz"),
    ]
    out = preference_pairs(_tr(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["prompt"] == "P"
    assert r["n_candidates"] == 3
    assert (r["chosen_conv"], r["chosen_score"]) == ("c2", 5)
    assert (r["rejected_conv"], r["rejected_score"]) == ("c3", 1)
    assert r["margin"] == 4
    assert r["chosen_turn"] == 1 and r["rejected_turn"] == 1


def test_preference_pairs_tie_breaks_and_distinct_rows(spark):
    # all responses the same length: chosen = first (conv_id, turn_idx)
    # ascending, rejected = last — never the same row
    rows = [
        ("a", 0, "user", "P"), ("a", 1, "assistant", "xx"),
        ("b", 0, "user", "P"), ("b", 1, "assistant", "yy"),
    ]
    out = preference_pairs(_tr(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["chosen_conv"] == "a" and r["rejected_conv"] == "b"
    assert r["margin"] == 0


def test_preference_pairs_requires_adjacent_assistant(spark):
    # user turn followed by a tool turn: not a response pair
    rows = [
        ("c1", 0, "user", "P"), ("c1", 1, "tool", "abc"),
        ("c1", 2, "user", "P"), ("c1", 3, "assistant", "abcd"),
        ("c2", 0, "user", "P"), ("c2", 1, "assistant", "ab"),
    ]
    out = preference_pairs(_tr(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["n_candidates"] == 2
    assert out[0]["chosen_score"] == 4 and out[0]["rejected_score"] == 2


def test_preference_pairs_custom_score_sees_response_row(spark):
    # score = numeric payload parsed from the RESPONSE text; shorter
    # text wins, so a length proxy (or evaluating against the prompt
    # row) would pick the wrong winner
    rows = [
        ("c1", 0, "user", "P"), ("c1", 1, "assistant", "1"),
        ("c2", 0, "user", "P"), ("c2", 1, "assistant", "7"),
    ]
    out = preference_pairs(
        _tr(spark, rows), score=F.col("text").cast("long")
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["chosen_conv"] == "c2" and r["chosen_score"] == 7
    assert r["rejected_conv"] == "c1" and r["rejected_score"] == 1


def test_truncation_audit_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import truncation_audit

    rows = [
        ("c1", 0, "user", "x" * 50),
        ("c1", 1, "assistant", "x" * 60),
        ("c1", 2, "user", "x" * 70),
        # single turn larger than the whole budget: zero kept everywhere
        ("c2", 0, "user", "x" * 200),
    ]
    out = {
        r["conv_id"]: r
        for r in truncation_audit(_tr(spark, rows), budget_chars=120).collect()
    }
    c1 = out["c1"]
    # fwd cums 50,110,180 -> head keeps 2 turns / 110 chars
    assert (c1["head_turns"], c1["head_chars"]) == (2, 110)
    # rev cums 70,130,180 -> tail keeps 1 turn / 70 chars
    assert (c1["tail_turns"], c1["tail_chars"]) == (1, 70)
    # half-budget 60: fwd<=60 keeps turn0 only, rev<=60 keeps none
    assert (c1["middrop_turns"], c1["middrop_chars"]) == (1, 50)
    assert (c1["n_turns"], c1["total_chars"]) == (3, 180)
    c2 = out["c2"]
    assert c2["head_turns"] == c2["tail_turns"] == c2["middrop_turns"] == 0
    assert c2["total_chars"] == 200


def test_grounding_audit_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import grounding_audit

    rows = [
        ("c1", 0, "system", "s"),
        ("c1", 1, "tool", "t"),
        ("c1", 2, "assistant", "a"),   # tool at idx1 within [-2,-1]: grounded
        ("c1", 3, "user", "u"),
        ("c1", 4, "assistant", "a"),   # lookback idx2,3: no tool
        # conversation with no assistant turns: ppm must be NULL
        ("c2", 0, "system", "s"),
        ("c2", 1, "user", "u"),
    ]
    out = {
        r["conv_id"]: r
        for r in grounding_audit(_tr(spark, rows), lookback_turns=2).collect()
    }
    c1 = out["c1"]
    assert (c1["n_assistant"], c1["n_grounded"]) == (2, 1)
    assert c1["grounded_ppm"] == 500_000
    assert c1["n_tool"] == 1
    c2 = out["c2"]
    assert c2["n_assistant"] == 0 and c2["grounded_ppm"] is None


def test_sft_examples_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import sft_examples

    rows = [
        ("c1", 0, "system", "x" * 40),
        ("c1", 1, "user", "x" * 30),
        ("c1", 2, "assistant", "x" * 20),  # ctx_start 70: window fits both priors
        ("c1", 3, "user", "x" * 90),
        ("c1", 4, "assistant", "x" * 10),  # ctx_start 180: only turn3 (90) fits
        # assistant with NO prior turns: empty context, first_ctx = self
        ("c2", 0, "assistant", "x" * 5),
    ]
    out = {
        (r["conv_id"], r["target_turn_idx"]): r
        for r in sft_examples(_tr(spark, rows), budget_chars=120).collect()
    }
    assert len(out) == 3
    a = out[("c1", 2)]
    assert (a["n_ctx_turns"], a["ctx_chars"], a["first_ctx_turn"]) == (2, 70, 0)
    assert a["target_chars"] == 20
    b = out[("c1", 4)]
    # target ctx_start 180, window [60, 180]: turn2 (70) and turn3 (90)
    # qualify; turns 0/1 (ctx_start 0/40) fall outside the budget
    assert (b["n_ctx_turns"], b["ctx_chars"], b["first_ctx_turn"]) == (2, 110, 2)
    c = out[("c2", 0)]
    assert (c["n_ctx_turns"], c["ctx_chars"], c["first_ctx_turn"]) == (0, 0, 0)


def test_sft_examples_no_future_turn_leak_on_ctx_start_ties(spark):
    # review finding: a zero-length turn makes its SUCCESSOR a ctx_start
    # peer; the exporter must not count the future turn as context
    from e_commerce_lakehouse_spark.operators.transcripts import sft_examples

    rows = [
        ("c1", 0, "system", "x" * 10),
        ("c1", 1, "user", ""),             # zero-length: turns 1,2,3 tie at 10
        ("c1", 2, "assistant", ""),        # target; turn 3 is a FUTURE peer
        ("c1", 3, "user", "x" * 50),
    ]
    out = {
        r["target_turn_idx"]: r
        for r in sft_examples(_tr(spark, rows), budget_chars=120).collect()
    }
    a = out[2]
    # context = turns 0 and 1 only (10 chars); turn 3's 50 chars must NOT leak
    assert (a["n_ctx_turns"], a["ctx_chars"], a["first_ctx_turn"]) == (2, 10, 0)


def test_preference_pairs_rejects_min_candidates_below_two(spark):
    rows = [("c1", 0, "user", "P"), ("c1", 1, "assistant", "a")]
    with pytest.raises(ValueError, match="min_candidates"):
        preference_pairs(_tr(spark, rows), min_candidates=1)


def test_new_transcript_ops_single_exchange_plans(spark):
    """The docstrings' one-conv_id-shuffle claims, pinned on the physical
    plan: truncation_audit, grounding_audit and sft_examples each carry
    exactly ONE hashpartitioning exchange — sft's (conv_id, ctx_start)
    peer window is satisfied by the conv_id distribution (clustering
    subset), so it must NOT introduce a second shuffle."""
    from e_commerce_lakehouse_spark.operators.transcripts import (
        grounding_audit,
        sft_examples,
        truncation_audit,
    )

    rows = [("c1", 0, "user", "ab"), ("c1", 1, "assistant", "cd")]
    tr = _tr(spark, rows)
    from e_commerce_lakehouse_spark.operators.transcripts import (
        cache_economics,
    )

    for op in (
        lambda d: truncation_audit(d, 100),
        lambda d: grounding_audit(d, 2),
        lambda d: sft_examples(d, 100),
        cache_economics,
    ):
        plan = op(tr)._jdf.queryExecution().executedPlan().toString()
        n = plan.count("Exchange hashpartitioning")
        assert n == 1, f"{op}: {n} exchanges\n{plan}"


def test_cache_economics_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import cache_economics

    rows = [
        ("c1", 0, "user", "x" * 10),
        ("c1", 1, "assistant", "x" * 5),   # request 1: ctx 10 + 5 = 15
        ("c1", 2, "user", "x" * 20),
        ("c1", 3, "assistant", "x" * 5),   # request 2: ctx 35 + 5 = 40
        # conversation with no assistant turns: no row at all
        ("c2", 0, "user", "x"),
    ]
    out = {r["conv_id"]: r for r in cache_economics(_tr(spark, rows)).collect()}
    assert set(out) == {"c1"}
    c1 = out["c1"]
    assert c1["n_requests"] == 2
    assert c1["nocache_chars"] == 55       # 15 + 40
    assert c1["cache_chars"] == 40         # final request's context
    assert c1["saved_ppm"] == (15 * 1_000_000) // 55


def test_turn_windows_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import turn_windows

    # 10 turns, window 4, stride 2 -> windows at 0,2,4,6,8; tails ragged
    rows = [("c1", i, "user", "x" * (i + 1)) for i in range(10)]
    out = {
        r["window_id"]: r
        for r in turn_windows(
            _tr(spark, rows), window_turns=4, stride=2
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}
    w0 = out[0]
    assert (w0["first_turn"], w0["last_turn"], w0["n_turns"]) == (0, 3, 4)
    assert w0["n_chars"] == 1 + 2 + 3 + 4 and w0["complete"]
    w3 = out[3]
    assert (w3["first_turn"], w3["last_turn"]) == (6, 9) and w3["complete"]
    w4 = out[4]  # ragged tail: turns 8,9 only
    assert (w4["first_turn"], w4["last_turn"], w4["n_turns"]) == (8, 9, 2)
    assert not w4["complete"]
    # every turn appears in ceil(W/S)=2 windows except edges
    import pytest as _pt

    with _pt.raises(ValueError):
        turn_windows(_tr(spark, rows), window_turns=0)


def test_window_dedup_closed_form(spark):
    from e_commerce_lakehouse_spark.operators.transcripts import window_dedup

    # c1 and c2 share identical turns 0..3 (one duplicate 4-turn window
    # at stride 4); c2 diverges after, c3 is unique
    rows = []
    for conv in ("c1", "c2"):
        for i in range(4):
            rows.append((conv, i, "user", f"same-{i}"))
    rows += [("c2", 4, "user", "diverge")]
    rows += [("c3", 0, "user", "other")]
    out = {
        (r["conv_id"], r["window_id"]): r
        for r in window_dedup(
            _tr(spark, rows), window_turns=4, stride=4
        ).collect()
    }
    a, b = out[("c1", 0)], out[("c2", 0)]
    assert a["fingerprint"] == b["fingerprint"]
    assert a["group_size"] == b["group_size"] == 2
    assert a["is_canonical"] and not b["is_canonical"]  # c1 < c2
    assert out[("c3", 0)]["group_size"] == 1
    # c2's ragged second window (turn 4 only) is its own group
    assert out[("c2", 1)]["n_turns"] == 1


def test_windowing_family_exchange_budget(spark):
    """Shuffle-budget pins for the windowing family: turn_windows'
    sequence+explode expansion is map-side (exactly ONE exchange — the
    (conv_id, window_id) aggregate); window_dedup adds only the
    fingerprint-group window (exactly TWO)."""
    from e_commerce_lakehouse_spark.operators.transcripts import (
        turn_windows,
        window_dedup,
    )

    tr = _tr(spark, [("c1", 0, "user", "ab"), ("c1", 1, "assistant", "cd")])
    p1 = turn_windows(tr, 4, 2)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange hashpartitioning") == 1, p1
    p2 = window_dedup(tr, 4, 2)._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange hashpartitioning") == 2, p2
