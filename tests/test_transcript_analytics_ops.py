"""Closed-form invariants for the transcript analytics batch
(q181-q188): tool usage profile, prefix templates, position profile,
loop runs, tool bigrams, cost accounting, boilerplate detection, and
context-pack example counting."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.transcripts import (
    agent_loop_runs,
    boilerplate_turns,
    context_pack_examples,
    conversation_cost,
    prefix_template_groups,
    tool_bigrams,
    tool_usage_profile,
    turn_position_profile,
)


def _tr(spark, rows):
    """rows: (conv_id, turn_idx, role, text, tool, ts_sec)."""
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, sec long",
    )
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
    )


def test_tool_usage_profile_exact_position_and_avg(spark):
    # c1 has 5 turns (max_idx 4); tool calls at idx 2 and 4 ->
    # rel ppm 500000 and 1000000, avg 750000. Lengths 4 and 6 -> avg 5.0.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "sys", None, 0),
            ("c1", 1, "assistant", "a", None, 1),
            ("c1", 2, "tool", "abcd", "search", 2),
            ("c1", 3, "user", "u", None, 3),
            ("c1", 4, "tool", "abcdef", "search", 4),
        ],
    )
    row = tool_usage_profile(tr).collect()[0]
    assert row.tool == "search"
    assert row.n_calls == 2 and row.n_convs == 1
    assert row.avg_rel_pos_ppm == 750_000
    assert row.avg_len == 5.0 and row.max_len == 6


def test_tool_usage_profile_truncating_avg(spark):
    # lengths 1 and 2 -> avg 1.5 exactly representable; rel pos 1/3 ->
    # 333333 ppm (floored), single call so avg is itself.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "s", None, 0),
            ("c1", 1, "tool", "x", "a", 1),
            ("c1", 2, "user", "u", None, 2),
            ("c1", 3, "tool", "xy", "a", 3),
        ],
    )
    row = tool_usage_profile(tr).collect()[0]
    assert row.avg_len == 1.5
    # rel ppm: floor(1e6/3)=333333, floor(3e6/3)=1000000 -> avg 666666
    assert row.avg_rel_pos_ppm == (333_333 + 1_000_000) // 2


def test_prefix_template_groups_branching(spark):
    # c1/c2 share the first-3-turn texts but diverge at turn 3 ->
    # one group of size 2 with 2 continuations (branching). c3 differs
    # at turn 0 -> its own group. c4 has only 2 turns -> excluded.
    rows = []
    for conv, tail in [("c1", "left"), ("c2", "right")]:
        rows += [
            (conv, 0, "system", "S", None, 0),
            (conv, 1, "assistant", "A", None, 1),
            (conv, 2, "user", "U", None, 2),
            (conv, 3, "assistant", tail, None, 3),
        ]
    rows += [
        ("c3", 0, "system", "OTHER", None, 0),
        ("c3", 1, "assistant", "A", None, 1),
        ("c3", 2, "user", "U", None, 2),
    ]
    rows += [("c4", 0, "system", "S", None, 0), ("c4", 1, "user", "U", None, 1)]
    out = {r.keeper: r for r in prefix_template_groups(_tr(spark, rows), k=3).collect()}
    assert set(out) == {"c1", "c3"}
    g = out["c1"]
    assert g.group_size == 2 and g.n_continuations == 2 and g.is_branching
    assert out["c3"].group_size == 1 and not out["c3"].is_branching


def test_prefix_identical_full_conversations_not_branching(spark):
    rows = []
    for conv in ["c1", "c2"]:
        rows += [
            (conv, 0, "system", "S", None, 0),
            (conv, 1, "assistant", "A", None, 1),
            (conv, 2, "user", "U", None, 2),
        ]
    g = prefix_template_groups(_tr(spark, rows), k=3).collect()[0]
    assert g.group_size == 2 and g.n_continuations == 1 and not g.is_branching


def test_turn_position_profile_buckets(spark):
    # 5-turn conversation, 10 buckets: turn i -> bucket floor(i*10/5)=2i.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "aa", None, 0),
            ("c1", 1, "assistant", "bbb", None, 1),
            ("c1", 2, "user", "c", None, 2),
            ("c1", 3, "assistant", "dddd", None, 3),
            ("c1", 4, "user", "e", None, 4),
        ],
    )
    out = {(r.role, r.pos_bucket): r for r in turn_position_profile(tr).collect()}
    assert out[("system", 0)].total_chars == 2
    assert out[("assistant", 2)].avg_len == 3.0
    assert out[("assistant", 6)].max_len == 4
    assert out[("user", 8)].n_turns == 1


def test_agent_loop_runs_islands(spark):
    # c1: roles s,a,a,a,u -> one assistant run of 3 (texts x,x,y -> not
    # exact), max_run_len 3, 1 loop run, 3 looped turns, 0 exact loops.
    # c2: u,t,t with identical tool texts -> exact loop of 2.
    # c3: alternating -> filtered out.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "s", None, 0),
            ("c1", 1, "assistant", "x", None, 1),
            ("c1", 2, "assistant", "x", None, 2),
            ("c1", 3, "assistant", "y", None, 3),
            ("c1", 4, "user", "u", None, 4),
            ("c2", 0, "user", "q", None, 0),
            ("c2", 1, "tool", "same", "t1", 1),
            ("c2", 2, "tool", "same", "t1", 2),
            ("c3", 0, "system", "s", None, 0),
            ("c3", 1, "assistant", "a", None, 1),
            ("c3", 2, "user", "u", None, 2),
        ],
    )
    out = {r.conv_id: r for r in agent_loop_runs(tr).collect()}
    assert set(out) == {"c1", "c2"}
    assert out["c1"].max_run_len == 3
    assert out["c1"].n_loop_runs == 1
    assert out["c1"].n_looped_turns == 3
    assert out["c1"].n_exact_loops == 0
    assert out["c2"].max_run_len == 2 and out["c2"].n_exact_loops == 1


def test_agent_loop_runs_non_adjacent_same_role_not_a_run(spark):
    # same role at turns 0 and 2 with a different role between -> no run.
    tr = _tr(
        spark,
        [
            ("c1", 0, "user", "x", None, 0),
            ("c1", 1, "assistant", "a", None, 1),
            ("c1", 2, "user", "x", None, 2),
        ],
    )
    assert agent_loop_runs(tr).count() == 0


def test_tool_bigrams_subsequence(spark):
    # c1 tools: A(1), B(3), A(5) -> pairs (A,B), (B,A); the user turns
    # between do not break the tool subsequence.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "s", None, 0),
            ("c1", 1, "tool", "p", "A", 1),
            ("c1", 2, "user", "u", None, 2),
            ("c1", 3, "tool", "p", "B", 3),
            ("c1", 4, "user", "u", None, 4),
            ("c1", 5, "tool", "p", "A", 5),
            ("c2", 0, "user", "u", None, 0),
            ("c2", 1, "tool", "p", "A", 1),
            ("c2", 2, "tool", "p", "B", 2),
        ],
    )
    out = {(r.tool_a, r.tool_b): r for r in tool_bigrams(tr).collect()}
    assert out[("A", "B")].n_pairs == 2 and out[("A", "B")].n_convs == 2
    assert out[("B", "A")].n_pairs == 1 and out[("B", "A")].n_convs == 1
    assert len(out) == 2


def test_conversation_cost_role_prices_and_share(spark):
    # c1: system 'ss' (2*2=4) + assistant 'aaa' (3*15=45) = 49
    # c2: user 'uuuu' (4*3=12) + tool 'tt' (2*1=2) = 14; total 63.
    tr = _tr(
        spark,
        [
            ("c1", 0, "system", "ss", None, 0),
            ("c1", 1, "assistant", "aaa", None, 1),
            ("c2", 0, "user", "uuuu", None, 0),
            ("c2", 1, "tool", "tt", "t", 1),
        ],
    )
    out = {r.conv_id: r for r in conversation_cost(tr).collect()}
    assert out["c1"].cost_micros == 49 and out["c2"].cost_micros == 14
    assert out["c1"].cost_share_ppm == int(49 * 1_000_000 / 63)
    assert out["c1"].total_chars == 5 and out["c2"].n_turns == 2


def test_boilerplate_turns_role_scoped(spark):
    # 'hello' appears 3x as assistant (2 convs) and 1x as user -> only
    # the assistant group passes min_occurrences=2; empty texts ignored.
    tr = _tr(
        spark,
        [
            ("c1", 0, "assistant", "hello", None, 0),
            ("c1", 1, "assistant", "hello", None, 1),
            ("c2", 0, "assistant", "hello", None, 0),
            ("c2", 1, "user", "hello", None, 1),
            ("c2", 2, "user", "", None, 2),
            ("c3", 0, "user", "", None, 0),
        ],
    )
    out = boilerplate_turns(tr, min_occurrences=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.role == "assistant" and r.n_occurrences == 3
    assert r.n_convs == 2 and r.text_len == 5


def test_context_pack_examples_budget_window(spark):
    # lens: 600, 600, 600; ctx_start: 0, 600, 1200. budget 1000:
    # turn2 (assistant): window [200, 1200] covers ctx_start 600 and
    # 1200 -> ctx_turns 1. With budget 2000 it covers all three -> 2.
    tr = _tr(
        spark,
        [
            ("c1", 0, "user", "x" * 600, None, 0),
            ("c1", 1, "user", "y" * 600, None, 1),
            ("c1", 2, "assistant", "z" * 600, None, 2),
        ],
    )
    r = context_pack_examples(tr, budget_chars=1000).collect()[0]
    assert r.n_examples == 1 and r.max_ctx_turns == 1
    r = context_pack_examples(tr, budget_chars=2000).collect()[0]
    assert r.max_ctx_turns == 2 and r.total_ctx_turns == 2


def test_context_pack_zero_length_ties_are_peers(spark):
    # zero-length turns tie on ctx_start; ANSI RANGE counts peers, so
    # each of the three tied turns sees the other two (count-1 == 2).
    tr = _tr(
        spark,
        [
            ("c1", 0, "user", "", None, 0),
            ("c1", 1, "assistant", "", None, 1),
            ("c1", 2, "assistant", "", None, 2),
        ],
    )
    r = context_pack_examples(tr, budget_chars=10).collect()[0]
    assert r.n_examples == 2
    assert r.max_ctx_turns == 2 and r.total_ctx_turns == 4
