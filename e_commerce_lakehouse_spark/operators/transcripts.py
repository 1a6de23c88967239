"""Transcript-shaped analytics: canonical projection + integrity audit.

BASELINE.json's ``input_hint`` fixes the engine's primary input shape:
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp) — multi-turn conversation / agent transcripts. The
maintenance engine (compact/cluster/merge) treats rows opaquely; this
module is the ANALYTICS layer a transcript lakehouse needs on top:

- ``as_transcripts`` projects any event-log-shaped fact table into the
  canonical transcript schema (conv = actor, turn order = event time
  with id tiebreak) — the adapter that lets every transcript operator
  run over a generic event stream;
- ``conversation_shape_audit`` computes the per-conversation integrity
  profile that guards the north rule's "per-turn text equality under
  stable (conv_id, turn_idx) ordering" invariant: turn-index
  contiguity, timestamp monotonicity, consecutive-same-role repeats,
  tool-call density, inter-turn gaps.

Scale shape: ONE hash shuffle on conv_id; row_number, lag(role) and
lag(ts) share the same window partitioning and sort, and the final
group-by reuses the partitioning — Catalyst plans a single Exchange.
State per task is one conversation's turns (transcripts are bounded:
hot-conversation skew is a compaction/cluster concern, handled there
with salting; an audit aggregate over even a 10^6-turn conversation is
one sort buffer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "as_transcripts",
    "conversation_shape_audit",
    "context_budget_audit",
    "response_latency",
    "conversation_dedup",
    "tool_usage_profile",
    "prefix_template_groups",
    "turn_position_profile",
    "agent_loop_runs",
    "tool_bigrams",
    "conversation_cost",
    "boilerplate_turns",
    "context_pack_examples",
    "preference_pairs",
    "truncation_audit",
    "grounding_audit",
    "sft_examples",
    "cache_economics",
    "turn_windows",
    "window_dedup",
]

#: default per-character role prices for conversation_cost, in
#: micro-cost units — assistant output is the expensive side,
#: tool payloads the cheap one (mirrors typical serving economics).
ROLE_PRICE_MICROS = {"system": 2, "user": 3, "assistant": 15, "tool": 1}


def _avg_micro6(sum_name: str, n_name: str):
    """Exact 6-dp average of an integer sum: integer `DIV` at micro
    scale (exact at any magnitude — no double intermediate), THEN one
    double division by 1e6 whose result can never sit on a 6-dp
    rounding boundary (q179's precision contract). Args are column
    NAMES of bigint sum / count columns already in scope."""
    return F.round(
        F.expr(f"({sum_name} * 1000000) DIV {n_name}").cast("double")
        / F.lit(1_000_000.0),
        6,
    )


def as_transcripts(
    events: DataFrame,
    actor_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    kind_col: str = "event_type",
    text_col: str = "props",
) -> DataFrame:
    """Project an event log into the canonical transcript schema.

    Deterministic: turn order is (ts, id) per actor; the role cycle is
    a pure function of (turn_idx, id) so any engine derives the same
    transcript from the same events.
    """
    w = Window.partitionBy(actor_col).orderBy(ts_col, id_col)
    base = events.where(
        F.col(actor_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(F.col(id_col) % 17 == 5, F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 1, F.lit("assistant"))
        .otherwise(F.lit("user"))
    )
    return base.select(
        F.format_string("conv-%09d", F.col(actor_col)).alias("conv_id"),
        "turn_idx",
        role.alias("role"),
        F.coalesce(F.col(text_col).cast("string"), F.lit("")).alias("text"),
        F.when(role == "tool", F.col(kind_col)).alias("tool"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )


def conversation_shape_audit(tr: DataFrame) -> DataFrame:
    """Per-conversation integrity + shape profile over the canonical
    transcript schema.

    Columns:
    - n_turns, n_roles, n_tool_turns, n_chars (BIGINT, exact);
    - idx_contiguous — max(turn_idx) == n_turns - 1 AND min == 0 (the
      stable-ordering precondition of the north rule's byte-equality
      check; a false here means a maintenance rewrite dropped or
      duplicated a turn);
    - ts_monotone — no turn's ts precedes its predecessor's (ties
      allowed: the synth plants them deliberately);
    - n_role_repeats — consecutive turns with the same role (agent loop
      detector);
    - duration_sec / max_gap_sec — exact integer-microsecond intervals
      floored to seconds (q121 precision contract).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        tr.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.length("text").cast("long").alias("len"),
        )
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn("prev_ts", F.lag("ts_us").over(w))
    )
    return (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.countDistinct("role").cast("long").alias("n_roles"),
            F.sum((F.col("role") == "tool").cast("int")).cast("long").alias("n_tool_turns"),
            F.sum("len").cast("long").alias("n_chars"),
            (
                (F.max("turn_idx") == F.count(F.lit(1)) - 1)
                & (F.min("turn_idx") == 0)
            ).alias("idx_contiguous"),
            (
                F.sum(
                    F.when(F.col("prev_ts").isNotNull()
                           & (F.col("ts_us") < F.col("prev_ts")), 1).otherwise(0)
                ) == 0
            ).alias("ts_monotone"),
            F.sum(
                F.when(F.col("role") == F.col("prev_role"), 1).otherwise(0)
            ).cast("long").alias("n_role_repeats"),
            F.floor((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000))
            .cast("long").alias("duration_sec"),
            F.coalesce(
                F.floor(
                    F.max(F.col("ts_us") - F.col("prev_ts")) / F.lit(1_000_000)
                ).cast("long"),
                F.lit(0).cast("long"),
            ).alias("max_gap_sec"),
        )
    )


def context_budget_audit(tr: DataFrame, budget_chars: int = 2000) -> DataFrame:
    """Context-window overflow analysis: per conversation, where does
    the running transcript length cross ``budget_chars``?

    The serving-side question every agent stack asks — which
    conversations outgrow the model's context and at which turn — made
    a batch operator: an inclusive character cumsum per conversation
    (ONE shuffle on conv_id; state per task = one conversation), then
    min(turn_idx) past the budget.

    Output per conv: n_turns, total_chars, n_turns_within_budget,
    first_overflow_turn (NULL when the conversation fits), overflowed.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = tr.select(
        "conv_id",
        "turn_idx",
        F.length("text").cast("long").alias("len"),
    ).withColumn("cum", F.sum("len").over(w))
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("len").cast("long").alias("total_chars"),
        F.sum((F.col("cum") <= budget_chars).cast("int"))
        .cast("long")
        .alias("n_turns_within_budget"),
        F.min(
            F.when(F.col("cum") > budget_chars, F.col("turn_idx"))
        ).alias("first_overflow_turn"),
        F.max((F.col("cum") > budget_chars).cast("int")).cast("boolean")
        .alias("overflowed"),
    )


def response_latency(tr: DataFrame) -> DataFrame:
    """Assistant response latency per conversation: for every user →
    assistant adjacent turn pair, the event-time gap; reported as
    per-conversation exchange count and exact min/avg/max seconds.

    All interval math is exact integer microseconds (q121 precision
    contract); the avg is one fixed-shape double division rounded 6 dp.
    One shuffle on conv_id shared by the lead() window and the final
    group-by.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        tr.select(
            "conv_id",
            "turn_idx",
            "role",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .withColumn("next_role", F.lead("role").over(w))
        .withColumn("next_ts", F.lead("ts_us").over(w))
    )
    pairs = t.where(
        (F.col("role") == "user") & (F.col("next_role") == "assistant")
    ).select("conv_id", (F.col("next_ts") - F.col("ts_us")).alias("lat_us"))
    return pairs.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exchanges"),
        F.floor(F.min("lat_us") / F.lit(1_000_000)).cast("long").alias("min_latency_sec"),
        F.floor(F.max("lat_us") / F.lit(1_000_000)).cast("long").alias("max_latency_sec"),
        # floor the mean to integer MICROseconds before the /1e6: the raw
        # quotient lands on exact x.xxxxxx5 boundaries (latencies are
        # whole minutes) where Spark's HALF_UP and DuckDB's rounding
        # disagree by 1 in the 6th dp; an integer-micro value divided by
        # 1e6 can never sit on a 6-dp rounding boundary
        F.round(
            F.floor(
                F.sum("lat_us").cast("double") / F.count(F.lit(1)).cast("double")
            ).cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("avg_latency_sec"),
    )


def conversation_dedup(tr: DataFrame) -> DataFrame:
    """Conversation-granularity exact dedup: fingerprint = md5 of the
    turn texts in turn order, length-prefixed (`len:text`) and
    unit-separated so no text can forge a boundary — exact dedup where
    the dedup unit is the whole multi-turn conversation.

    Two shuffles: the per-conv fingerprint aggregate (collect_list is
    bounded by one conversation's turns), then a fingerprint-group
    count + canonical-keeper window. Output per conv: fingerprint,
    group_size, is_canonical (min conv_id in its group survives).
    """
    fp = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("turn_idx"), F.col("text"))
                    )
                ),
                lambda x: F.concat_ws(
                    ":", F.length(x["text"]).cast("string"), x["text"]
                ),
            ),
            "\x1f",
        )
    )
    per_conv = tr.groupBy("conv_id").agg(fp.alias("fingerprint"))
    wg = Window.partitionBy("fingerprint")
    return per_conv.select(
        "conv_id",
        "fingerprint",
        F.count(F.lit(1)).over(wg).cast("long").alias("group_size"),
        (F.col("conv_id") == F.min("conv_id").over(wg)).alias("is_canonical"),
    )


def tool_usage_profile(tr: DataFrame) -> DataFrame:
    """Per-tool usage profile over the transcript table: call volume,
    conversation reach, where in a conversation the tool tends to fire,
    and payload size.

    - ``avg_rel_pos_ppm`` — mean relative position of the tool call in
      its conversation (turn_idx / max_turn_idx) in exact integer parts
      per million: each row's ratio is floored to ppm BEFORE summing so
      no double accumulation order can perturb the result;
    - ``avg_len`` — 6-dp exact (floor-to-micro contract).

    Scale: one window shuffle on conv_id (max turn idx), then one
    hash aggregate on the tool name — tool-name NDV is tiny, so the
    final exchange is a broadcast-sized reduction.
    """
    wc = Window.partitionBy("conv_id")
    t = (
        tr.withColumn("max_idx", F.max("turn_idx").over(wc))
        .where((F.col("role") == "tool") & F.col("tool").isNotNull())
        .select(
            "tool",
            "conv_id",
            # greatest(1, ...): a caller-supplied transcript whose only
            # turn is a tool call has max_idx 0 — degenerate rel pos 0,
            # not an ANSI divide-by-zero
            F.expr(
                "(CAST(turn_idx AS BIGINT) * 1000000)"
                " DIV greatest(max_idx, 1)"
            ).cast("long").alias("rel_ppm"),
            F.length("text").cast("long").alias("len"),
        )
    )
    g = t.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("n_calls"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.sum("rel_ppm").cast("long").alias("_sum_ppm"),
        F.sum("len").cast("long").alias("_sum_len"),
        F.max("len").cast("long").alias("max_len"),
    )
    return g.select(
        "tool",
        "n_calls",
        "n_convs",
        F.expr("_sum_ppm DIV n_calls").cast("long").alias("avg_rel_pos_ppm"),
        _avg_micro6("_sum_len", "n_calls").alias("avg_len"),
        "max_len",
    )


def prefix_template_groups(tr: DataFrame, k: int = 3) -> DataFrame:
    """Shared-prefix template detection: conversations whose first ``k``
    turn texts are byte-identical share a template (system prompt /
    few-shot scaffold); the branch factor is how many DISTINCT full
    conversations continue from that prefix.

    Fingerprints are md5 over length-prefixed, unit-separated texts in
    turn order (the q180 canonical form), so no text can forge a
    boundary. Only conversations with >= k turns participate.

    Two shuffles: per-conv fingerprint aggregate (collect_list bounded
    by one conversation), then a group-by on the prefix fingerprint —
    the shuffle key is a hash, never the text.
    """

    def _fp(pred):
        return F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                pred,
                                F.struct(F.col("turn_idx"), F.col("text")),
                            )
                        )
                    ),
                    lambda x: F.concat_ws(
                        ":", F.length(x["text"]).cast("string"), x["text"]
                    ),
                ),
                "\x1f",
            )
        )

    per_conv = (
        tr.groupBy("conv_id")
        .agg(
            _fp(F.col("turn_idx") < k).alias("prefix_fp"),
            _fp(F.lit(True)).alias("full_fp"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .where(F.col("n_turns") >= k)
    )
    return per_conv.groupBy("prefix_fp").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("full_fp").cast("long").alias("n_continuations"),
        F.min("conv_id").alias("keeper"),
        (F.countDistinct("full_fp") > 1).alias("is_branching"),
    )


def turn_position_profile(tr: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Text-length drift over conversation position: bucket every turn
    into ``n_buckets`` relative-position deciles (floor(turn_idx * B /
    n_turns)) and profile length per (role, bucket).

    One window shuffle on conv_id for the per-conversation turn count,
    then a hash aggregate on (role, bucket) — a bounded-cardinality key
    (4 roles x B buckets), so the reduction is map-side combinable.
    """
    wc = Window.partitionBy("conv_id")
    t = tr.select(
        "conv_id",
        "role",
        "turn_idx",
        F.length("text").cast("long").alias("len"),
    ).withColumn("n_turns", F.count(F.lit(1)).over(wc))
    g = (
        t.withColumn(
            "pos_bucket",
            F.expr(
                f"(CAST(turn_idx AS BIGINT) * {int(n_buckets)}) DIV n_turns"
            ).cast("int"),
        )
        .groupBy("role", "pos_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("len").cast("long").alias("total_chars"),
            F.max("len").cast("long").alias("max_len"),
        )
    )
    return g.select(
        "role",
        "pos_bucket",
        "n_turns",
        "total_chars",
        _avg_micro6("total_chars", "n_turns").alias("avg_len"),
        "max_len",
    )


def agent_loop_runs(tr: DataFrame) -> DataFrame:
    """Agent-loop detector: maximal runs of CONSECUTIVE turns with the
    same role inside a conversation (retry storms, back-to-back tool
    calls), flagging runs whose texts are all byte-identical — the
    signature of a genuinely stuck loop. Classic gaps-and-islands:
    turn_idx minus the per-(conv, role) row_number is constant within a
    run.

    Output: one row per conversation that contains at least one run of
    length >= 2 — max_run_len, n_loop_runs (runs >= 2), n_looped_turns
    (turns inside such runs), n_exact_loops (runs >= 2 where every text
    is identical).

    Scale: both windows and both aggregates partition by conv_id (run
    identity adds only the md5 of the text, never the text itself), so
    one hash shuffle on conv_id dominates; state per task is one
    conversation.
    """
    t = tr.select(
        "conv_id", "turn_idx", "role", F.md5(F.col("text")).alias("fp")
    )
    wk = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    runs = (
        t.withColumn(
            "grp", F.col("turn_idx") - F.row_number().over(wk)
        )
        .groupBy("conv_id", "role", "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("run_len"),
            F.countDistinct("fp").alias("n_texts"),
        )
    )
    return (
        runs.groupBy("conv_id")
        .agg(
            F.max("run_len").cast("long").alias("max_run_len"),
            F.sum((F.col("run_len") >= 2).cast("int")).cast("long")
            .alias("n_loop_runs"),
            F.sum(
                F.when(F.col("run_len") >= 2, F.col("run_len")).otherwise(0)
            ).cast("long").alias("n_looped_turns"),
            F.sum(
                ((F.col("run_len") >= 2) & (F.col("n_texts") == 1)).cast("int")
            ).cast("long").alias("n_exact_loops"),
        )
        .where(F.col("max_run_len") >= 2)
    )


def tool_bigrams(tr: DataFrame) -> DataFrame:
    """Tool-chain bigrams: for the tool-call subsequence of each
    conversation (tool turns in turn order), count each consecutive
    (tool_a -> tool_b) pair — the Markov transition table of the agent's
    tool use.

    One window shuffle on conv_id (lead over the filtered subsequence),
    then a hash aggregate on the (tool_a, tool_b) pair — bounded
    cardinality (#tools squared), map-side combinable.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        tr.where((F.col("role") == "tool") & F.col("tool").isNotNull())
        .select("conv_id", "turn_idx", "tool")
        .withColumn("next_tool", F.lead("tool").over(w))
        .where(F.col("next_tool").isNotNull())
    )
    return t.groupBy(
        F.col("tool").alias("tool_a"), F.col("next_tool").alias("tool_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )


def conversation_cost(
    tr: DataFrame, prices: dict | None = None
) -> DataFrame:
    """Per-conversation serving-cost accounting: cost = sum over turns
    of len(text) * price(role), in exact integer micro-cost units, plus
    each conversation's share of the corpus total in ppm.

    The corpus total is ONE tiny aggregate broadcast back over the
    per-conversation rows (no global window, no single-partition sort) —
    the established broadcast-total pattern (curation.py domain_mix).
    """
    prices = dict(ROLE_PRICE_MICROS if prices is None else prices)
    price = F.lit(0)
    for role, p in sorted(prices.items()):
        price = F.when(F.col("role") == role, F.lit(int(p))).otherwise(price)
    per_conv = (
        tr.select(
            "conv_id",
            (F.length("text").cast("long") * price.cast("long")).alias("c"),
            F.length("text").cast("long").alias("len"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("len").cast("long").alias("total_chars"),
            F.sum("c").cast("long").alias("cost_micros"),
        )
    )
    total = per_conv.agg(
        F.sum("cost_micros").cast("long").alias("total_cost")
    )
    from pyspark.sql.functions import broadcast

    return per_conv.crossJoin(broadcast(total)).select(
        "conv_id",
        "n_turns",
        "total_chars",
        "cost_micros",
        # an all-empty-text corpus has total 0: share 0, not NaN
        F.when(
            F.col("total_cost") > 0,
            F.floor(
                (F.col("cost_micros").cast("double") * F.lit(1_000_000.0))
                / F.col("total_cost").cast("double")
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("cost_share_ppm"),
    )


def boilerplate_turns(tr: DataFrame, min_occurrences: int = 2) -> DataFrame:
    """Cross-conversation boilerplate detection: non-empty turn texts
    that recur (same role, byte-identical text) across the corpus —
    canned responses, template instructions, repeated tool payloads.

    The group key is (role, md5(text)): the shuffle moves 16-byte
    hashes, never the text, so the aggregate scales with row count
    regardless of text size.
    """
    t = tr.where(F.length("text") > 0).select(
        "role",
        "conv_id",
        F.md5(F.col("text")).alias("fingerprint"),
        F.length("text").cast("long").alias("len"),
    )
    return (
        t.groupBy("role", "fingerprint")
        .agg(
            F.min("len").cast("long").alias("text_len"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
    )


def _ctx_start_frame(tr: DataFrame) -> DataFrame:
    """Shared (conv_id, turn_idx, role, len, ctx_start) projection:
    ``ctx_start`` = exclusive character cumsum (where this turn's
    context begins). Used by context_pack_examples and sft_examples."""
    wc = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return tr.select(
        "conv_id",
        "turn_idx",
        "role",
        F.length("text").cast("long").alias("len"),
    ).withColumn(
        "ctx_start", F.coalesce(F.sum("len").over(wc), F.lit(0).cast("long"))
    )


def context_pack_examples(
    tr: DataFrame, budget_chars: int = 1000
) -> DataFrame:
    """Training-example context packing: for every assistant turn, how
    many preceding turns fit in a ``budget_chars`` lookback context?

    Mechanics: ``ctx_start`` = exclusive character cumsum (where this
    turn's context begins); a RANGE window over ctx_start counts the
    turns whose context start lies within [ctx_start - budget,
    ctx_start] — ANSI RANGE semantics (ties are peers) in both engines,
    so the count is deterministic even for zero-length turns. NOTE: a
    zero-length turn makes its successor a ctx_start PEER, so this
    audit count can include a same-offset future turn; the exporter
    (sft_examples) subtracts those — use it for anything that ships
    training data. Reported per conversation: example count, total and
    max context turns.

    One shuffle on conv_id shared by the cumsum window, the RANGE
    window, and the final group-by.
    """
    t = _ctx_start_frame(tr)
    wr = (
        Window.partitionBy("conv_id")
        .orderBy("ctx_start")
        .rangeBetween(-int(budget_chars), 0)
    )
    ex = (
        t.withColumn(
            "ctx_turns", (F.count(F.lit(1)).over(wr) - 1).cast("long")
        )
        .where(F.col("role") == "assistant")
    )
    return ex.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_examples"),
        F.sum("ctx_turns").cast("long").alias("total_ctx_turns"),
        F.max("ctx_turns").cast("long").alias("max_ctx_turns"),
    )


def preference_pairs(
    tr: DataFrame,
    min_candidates: int = 2,
    score: F.Column | None = None,
) -> DataFrame:
    """DPO/RLHF-style preference-pair construction: group assistant
    responses by their (exact) user prompt across the corpus, then per
    prompt group emit one (chosen, rejected) pair — the top- and
    bottom-scored response under a deterministic total order.

    ``score`` is any column expression over the response row (default: a
    response-length proxy, ``length(text)``); in a production pipeline
    it is a reward-model output joined onto ``tr`` upstream — the
    operator is score-agnostic. Ties break on (conv_id, turn_idx) so the
    pair is a pure function of the input. Groups with fewer than
    ``min_candidates`` responses emit nothing; chosen ≠ rejected is
    guaranteed because rejected is the LAST row of the same ordering.

    Shuffle budget: one shuffle on conv_id (lead() adjacency), one on
    prompt (ranking windows + the chosen⋈rejected equi-join). Prompt
    groups distribute across the cluster; a pathologically hot prompt is
    a skew key like any other (salt upstream or cap group size).
    """
    if min_candidates < 2:
        # a singleton group would pair a row with ITSELF (rn == 1 == n),
        # silently breaking the chosen != rejected guarantee above
        raise ValueError(
            f"min_candidates must be >= 2 (got {min_candidates}): a "
            "1-candidate group has no distinct rejected response"
        )
    if score is None:
        score = F.length("text").cast("long")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        tr.select("conv_id", "turn_idx", "role", "text")
        .withColumn("next_role", F.lead("role").over(w))
        .withColumn("next_text", F.lead("text").over(w))
        .withColumn("next_idx", F.lead("turn_idx").over(w))
    )
    resp = (
        t.where(
            (F.col("role") == "user")
            & (F.col("next_role") == "assistant")
            & (F.col("next_idx") == F.col("turn_idx") + 1)
        )
        .select(
            F.col("text").alias("prompt"),
            "conv_id",
            F.col("next_idx").alias("resp_idx"),
            F.col("next_text").alias("text"),
        )
        # score is evaluated against the RESPONSE row (its text is the
        # assistant turn's text here), so the default length proxy and
        # any caller-supplied expression both see response columns
        .withColumn("score", score)
    )
    wp = Window.partitionBy("prompt").orderBy(
        F.desc("score"), F.asc("conv_id"), F.asc("resp_idx")
    )
    ranked = resp.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n_candidates", F.count(F.lit(1)).over(Window.partitionBy("prompt"))
    )
    eligible = ranked.where(F.col("n_candidates") >= min_candidates)
    chosen = eligible.where(F.col("rn") == 1).select(
        "prompt",
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("conv_id").alias("chosen_conv"),
        F.col("resp_idx").alias("chosen_turn"),
        F.col("score").cast("long").alias("chosen_score"),
    )
    rejected = eligible.where(F.col("rn") == F.col("n_candidates")).select(
        "prompt",
        F.col("conv_id").alias("rejected_conv"),
        F.col("resp_idx").alias("rejected_turn"),
        F.col("score").cast("long").alias("rejected_score"),
    )
    return chosen.join(rejected, "prompt").select(
        "prompt",
        "n_candidates",
        "chosen_conv",
        "chosen_turn",
        "chosen_score",
        "rejected_conv",
        "rejected_turn",
        "rejected_score",
        (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
    )


def truncation_audit(tr: DataFrame, budget_chars: int = 1500) -> DataFrame:
    """Context-truncation strategy comparison: when a conversation must
    fit in ``budget_chars``, how much survives under keep-HEAD (prefix
    while the forward cumsum fits), keep-TAIL (suffix while the reverse
    cumsum fits), and MIDDLE-DROP (a turn survives if it fits in the
    head OR tail half-budget — the 'attention sink + recency' shape)?

    Pure window arithmetic: one forward and one reverse running sum
    over the SAME conv_id shuffle, then a grouped count — no UDFs, no
    joins. A single over-budget first/last turn keeps zero turns under
    its strategy (inclusive cumsum), deterministically in both engines.
    """
    half = budget_chars // 2
    wf = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wr = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = (
        tr.select("conv_id", "turn_idx", F.length("text").cast("long").alias("len"))
        .withColumn("fwd", F.sum("len").over(wf))
        .withColumn("rev", F.sum("len").over(wr))
    )
    keep_head = F.col("fwd") <= budget_chars
    keep_tail = F.col("rev") <= budget_chars
    keep_mid = (F.col("fwd") <= half) | (F.col("rev") <= half)
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("len").cast("long").alias("total_chars"),
        F.sum(keep_head.cast("long")).cast("long").alias("head_turns"),
        F.sum(F.when(keep_head, F.col("len")).otherwise(F.lit(0)))
        .cast("long").alias("head_chars"),
        F.sum(keep_tail.cast("long")).cast("long").alias("tail_turns"),
        F.sum(F.when(keep_tail, F.col("len")).otherwise(F.lit(0)))
        .cast("long").alias("tail_chars"),
        F.sum(keep_mid.cast("long")).cast("long").alias("middrop_turns"),
        F.sum(F.when(keep_mid, F.col("len")).otherwise(F.lit(0)))
        .cast("long").alias("middrop_chars"),
    )


def grounding_audit(tr: DataFrame, lookback_turns: int = 2) -> DataFrame:
    """Tool-grounding audit: what fraction of each conversation's
    assistant turns are GROUNDED — preceded by a tool turn within the
    last ``lookback_turns`` turns? The serving-quality signal for
    agentic transcripts (an ungrounded answer after a tool-free window
    is a hallucination risk class).

    One RANGE window over turn_idx per conv_id shuffle; the fraction is
    reported in integer ppm (exact integer DIV) so the value hash is
    engine-stable."""
    wt = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rangeBetween(-int(lookback_turns), -1)
    )
    t = tr.select("conv_id", "turn_idx", "role").withColumn(
        "grounded",
        (
            F.count(F.when(F.col("role") == "tool", F.lit(1))).over(wt) > 0
        ).cast("long"),
    )
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum((F.col("role") == "tool").cast("long")).cast("long").alias("n_tool"),
        F.sum((F.col("role") == "assistant").cast("long"))
        .cast("long").alias("n_assistant"),
        F.sum(F.when(F.col("role") == "assistant", F.col("grounded")).otherwise(F.lit(0)))
        .cast("long").alias("n_grounded"),
        F.when(
            F.sum((F.col("role") == "assistant").cast("long")) > 0,
            F.expr(
                "(sum(CASE WHEN role = 'assistant' THEN grounded ELSE 0 END)"
                " * 1000000) DIV sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)"
            ),
        ).cast("long").alias("grounded_ppm"),
    )


def sft_examples(tr: DataFrame, budget_chars: int = 1000) -> DataFrame:
    """SFT training-example EXPORT: one row per assistant turn (the
    target) with its lookback context window under ``budget_chars`` —
    the emit twin of :func:`context_pack_examples`, which only counts.

    ``ctx_start`` is the exclusive character cumsum (where this turn's
    context begins); the context window is every PRIOR turn whose own
    ctx_start lies within [ctx_start - budget, ctx_start]. ANSI RANGE
    includes peers — and a zero-length turn makes its SUCCESSOR a
    ctx_start peer, i.e. a FUTURE turn — so the window aggregates are
    corrected by subtracting same-offset followers (a peer window over
    (conv_id, ctx_start)): training context must never contain a turn
    after the target (review finding). Output per example: the target
    turn, the first context turn index, context turn/char counts, and
    the target's own length — the manifest a downstream tokenizer job
    materializes text for (a second join back to the table by
    (conv_id, turn range), never a driver loop).

    One conv_id shuffle shared by the cumsum, RANGE, and peer windows
    (the peer partition is a prefix-compatible refinement)."""
    t = _ctx_start_frame(tr)
    wr = (
        Window.partitionBy("conv_id")
        .orderBy("ctx_start")
        .rangeBetween(-int(budget_chars), 0)
    )
    # same-offset FOLLOWERS (peers with a later turn_idx): their
    # count/chars must not appear in the target's context
    wpeer = (
        Window.partitionBy("conv_id", "ctx_start")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ex = (
        t.withColumn("after_cnt", F.count(F.lit(1)).over(wpeer).cast("long"))
        .withColumn(
            "after_len",
            F.coalesce(F.sum("len").over(wpeer), F.lit(0)).cast("long"),
        )
        .withColumn(
            "n_ctx_turns",
            (F.count(F.lit(1)).over(wr) - 1 - F.col("after_cnt")).cast("long"),
        )
        .withColumn("first_ctx_turn", F.min("turn_idx").over(wr))
        .withColumn(
            "ctx_chars",
            (F.sum("len").over(wr) - F.col("len") - F.col("after_len")).cast("long"),
        )
        .where(F.col("role") == "assistant")
    )
    return ex.select(
        "conv_id",
        F.col("turn_idx").alias("target_turn_idx"),
        # the window includes the target row itself; with zero context
        # the 'first context turn' IS the target (n_ctx_turns 0 tells
        # the consumer the context is empty)
        F.when(F.col("n_ctx_turns") > 0, F.col("first_ctx_turn"))
        .otherwise(F.col("turn_idx")).alias("first_ctx_turn"),
        "n_ctx_turns",
        "ctx_chars",
        F.col("len").alias("target_chars"),
    )


def cache_economics(tr: DataFrame) -> DataFrame:
    """Prefix-cache ROI: how many context characters does prompt caching
    save per conversation? Each assistant turn is one serving request
    that re-sends the full preceding transcript: WITHOUT a prefix cache
    the provider bills ctx_start + len per request (the whole context,
    again, every turn); WITH an ideal prefix cache only the suffix new
    since the previous request is billed, so the conversation's total
    input cost collapses to the final request's context size. Reported:
    request count, both billed totals, and the savings in exact integer
    ppm — the number that decides whether cache writes pay for
    themselves on your transcript mix.

    One conv_id shuffle (the shared cumsum window + the group-by)."""
    t = _ctx_start_frame(tr)
    req = t.where(F.col("role") == "assistant").select(
        "conv_id",
        (F.col("ctx_start") + F.col("len")).alias("billed_nocache"),
    )
    agg = req.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_requests"),
        F.sum("billed_nocache").cast("long").alias("nocache_chars"),
        F.max("billed_nocache").cast("long").alias("cache_chars"),
    )
    return agg.select(
        "conv_id",
        "n_requests",
        "nocache_chars",
        "cache_chars",
        F.when(
            F.col("nocache_chars") > 0,
            F.expr(
                "((nocache_chars - cache_chars) * 1000000) DIV nocache_chars"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("saved_ppm"),
    )


def _window_membership(
    tr: DataFrame, window_turns: int, stride: int, *cols: str
) -> DataFrame:
    """Shared window-membership expansion for turn_windows /
    window_dedup: turn i belongs to windows ceil((i - W + 1)/S) ..
    floor(i/S), clamped at 0 — one (conv_id, turn_idx, window_id) row
    per membership, zero-shuffle. When stride > window_turns a turn can
    fall in the GAP between windows (lo > hi): F.sequence would emit a
    DESCENDING sequence there (review finding — the turn was counted in
    two wrong windows), so the range is guarded to an empty array and
    explode drops the gap turn."""
    if window_turns < 1 or stride < 1:
        raise ValueError("window_turns and stride must be >= 1")
    lo = F.greatest(
        F.lit(0),
        F.ceil(
            (F.col("turn_idx") - F.lit(window_turns) + 1)
            / F.lit(float(stride))
        ).cast("long"),
    )
    hi = F.floor(F.col("turn_idx") / F.lit(stride)).cast("long")
    wins = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
        F.array().cast("array<long>")
    )
    return tr.select(
        "conv_id",
        "turn_idx",
        *cols,
        F.explode(wins).alias("window_id"),
    )


def turn_windows(
    tr: DataFrame, window_turns: int = 8, stride: int = 4
) -> DataFrame:
    """Long-conversation splitter: overlapping ``window_turns``-turn
    training windows at ``stride``: a 400-turn agent session becomes
    ~100 overlapping windows a trainer can pack independently,
    preserving local turn continuity.

    Window w covers turns [w*stride, w*stride + window_turns); turns in
    the inter-window gap of a sparse stride (stride > window_turns)
    belong to NO window (_window_membership). Emitted ZERO-shuffle via
    a sequence+explode projection, then one conv_id-keyed aggregate.
    Output per (conv_id, window_id): turn span, turn/char counts, and
    whether the window is complete (a full window_turns run) — ragged
    tails stay visible so the packer can drop or pad them explicitly.
    """
    t = _window_membership(
        tr.withColumn("len", F.length("text").cast("long")),
        window_turns, stride, "len",
    )
    return t.groupBy("conv_id", "window_id").agg(
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("len").cast("long").alias("n_chars"),
        (F.count(F.lit(1)) == window_turns).alias("complete"),
    )


def window_dedup(
    tr: DataFrame, window_turns: int = 8, stride: int = 4,
    include_chars: bool = False,
) -> DataFrame:
    """Training-WINDOW exact dedup: fingerprint every ``turn_windows``
    window by its covered turn texts (turn order, length-prefixed and
    unit-separated like conversation_dedup) and mark the canonical
    survivor per fingerprint group — overlapping-window exports
    (q214) re-emit boilerplate openings across conversations, and a
    packer that trains on every copy overweights them; this is the
    dedup gate between windowing and packing.

    Shuffle budget: the zero-shuffle window expansion, one aggregate on
    (conv_id, window_id) (collect_list bounded by window_turns), then
    the fingerprint-group window. Output per (conv_id, window_id):
    fingerprint, n_turns, group_size, is_canonical (smallest
    (conv_id, window_id) in its group survives). ``include_chars``
    appends the window's char count so a downstream packer (q216) can
    skip a second expansion pass."""
    t = _window_membership(tr, window_turns, stride, "text")
    fp = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
                ),
                lambda x: F.concat_ws(
                    ":", F.length(x["text"]).cast("string"), x["text"]
                ),
            ),
            "\x1f",
        )
    )
    aggs = [
        fp.alias("fingerprint"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
    ]
    if include_chars:
        aggs.append(
            F.sum(F.length("text").cast("long")).cast("long").alias("n_chars")
        )
    per_win = t.groupBy("conv_id", "window_id").agg(*aggs)
    wg = Window.partitionBy("fingerprint")
    first = Window.partitionBy("fingerprint").orderBy("conv_id", "window_id")
    out = [
        "conv_id",
        "window_id",
        "fingerprint",
        "n_turns",
        F.count(F.lit(1)).over(wg).cast("long").alias("group_size"),
        (F.row_number().over(first) == 1).alias("is_canonical"),
    ]
    if include_chars:
        out.insert(4, "n_chars")
    return per_win.select(*out)
