"""Reference answers and correction batches, built with DuckDB from the
plain staged parquet, independently of the engine under test.

Spark and DuckDB agree on one row fingerprint: the first 15 hex digits
of md5 over the row's columns joined with '|' (NULL as '<null>', ts as
epoch microseconds). A relation's checksum is (row count, sum of
fingerprints): order-independent, and equal across the two engines.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import Column
from pyspark.sql import functions as F

TRANSCRIPT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
SFT_COLS = ("conv_id", "target_turn_idx", "first_ctx_turn", "n_ctx_turns",
            "ctx_chars", "target_chars")
COST_COLS = ("conv_id", "n_turns", "total_chars", "cost_micros", "cost_share_ppm")
NULL_TOKEN = "<null>"


def spark_fingerprint(cols) -> Column:
    parts = [F.unix_micros(c).cast("string") if c == "ts"
             else F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)) for c in cols]
    return F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10) \
        .cast("decimal(20,0)")


def checksum_aggs(cols) -> list:
    """Spark aggregates giving the relation checksum over ``cols``."""
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(spark_fingerprint(cols)).alias("checksum")]


def _sql_fingerprint(cols) -> str:
    parts = ", ".join("epoch_us(ts)::VARCHAR" if c == "ts"
                      else f"coalesce({c}::VARCHAR, '{NULL_TOKEN}')" for c in cols)
    return f"('0x' || substr(md5(concat_ws('|', {parts})), 1, 15))::BIGINT"


def _checksum(con, relation: str, cols) -> dict:
    rows, total = con.execute(
        f"SELECT count(*), coalesce(sum({_sql_fingerprint(cols)}), 0) FROM ({relation})"
    ).fetchone()
    return {"rows": int(rows), "checksum": int(total)}


# transcripts.conversation_cost: per-conversation cost in micro-units at
# ROLE_PRICE_MICROS and each conversation's ppm share of the total
_COST_SQL = """
WITH c AS (
    SELECT conv_id, count(*)::BIGINT AS n_turns,
        sum(length(text))::BIGINT AS total_chars,
        sum(length(text) * CASE role WHEN 'system' THEN 2 WHEN 'user' THEN 3
            WHEN 'assistant' THEN 15 WHEN 'tool' THEN 1 ELSE 0 END)::BIGINT AS cost_micros
    FROM src GROUP BY conv_id),
tt AS (SELECT sum(cost_micros)::BIGINT AS total_cost FROM c)
SELECT conv_id, n_turns, total_chars, cost_micros,
    (CASE WHEN total_cost > 0 THEN
        floor((cost_micros::DOUBLE * 1000000.0) / total_cost::DOUBLE)
        ELSE 0 END)::BIGINT AS cost_share_ppm
FROM c, tt
"""

# transcripts.sft_examples(budget_chars=1000): one row per assistant turn
# with its lookback context; same-offset followers are not context
_SFT_SQL = """
WITH c AS (
    SELECT conv_id, turn_idx, role, length(text)::BIGINT AS len,
        coalesce(sum(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ctx_start
    FROM src),
e AS (
    SELECT conv_id, turn_idx, role, len,
        (count(*) OVER w - 1 - count(*) OVER p)::BIGINT AS n_ctx_turns,
        min(turn_idx) OVER w AS min_idx,
        (sum(len) OVER w - len - coalesce(sum(len) OVER p, 0))::BIGINT AS ctx_chars
    FROM c
    WINDOW w AS (PARTITION BY conv_id ORDER BY ctx_start
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW),
           p AS (PARTITION BY conv_id, ctx_start ORDER BY turn_idx
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT conv_id, turn_idx AS target_turn_idx,
    CASE WHEN n_ctx_turns > 0 THEN min_idx ELSE turn_idx END AS first_ctx_turn,
    n_ctx_turns, ctx_chars, len AS target_chars
FROM e WHERE role = 'assistant'
"""


def _connect(input_dir: str, tmp_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{input_dir}/*.parquet')")
    return con


def build(input_dir: str, tmp_dir: str) -> dict:
    """Checksums of the staged input and of both exports over it, and
    (turns, text chars) per conversation."""
    con = _connect(input_dir, tmp_dir)
    try:
        return {
            "input": _checksum(con, "SELECT * FROM src", TRANSCRIPT_COLS),
            "sft": _checksum(con, _SFT_SQL, SFT_COLS),
            "cost": _checksum(con, _COST_SQL, COST_COLS),
            "conv_stats": {
                conv: (int(n), int(chars)) for conv, n, chars in con.execute(
                    "SELECT conv_id, count(*), sum(length(text)) FROM src GROUP BY conv_id"
                ).fetchall()
            },
        }
    finally:
        con.close()


def stage_corrections(input_dir: str, corr_dir: str, tmp_dir: str, seed: int,
                      steps: list[list[str]], new_turns: int) -> dict[int, str]:
    """Stage every correction step's MERGE source as parquet under
    ``corr_dir``/step=<k>/ (``steps[k]`` lists its conversations; index 0
    is unused): the step's conversations with text prefixed '[fix kk] '
    and ts k hours later, plus ``new_turns`` turns of one brand-new
    conversation. Returns step -> directory."""
    con = _connect(input_dir, tmp_dir)
    try:
        con.execute("CREATE TABLE sched (step INTEGER, conv_id VARCHAR)")
        con.executemany("INSERT INTO sched VALUES (?, ?)",
                        [(k, c) for k, convs in enumerate(steps) for c in convs])
        con.execute(f"""
            COPY (
                SELECT s.conv_id, s.turn_idx, s.role,
                    printf('[fix %02d] ', k.step) || s.text AS text, s.tool,
                    s.ts + to_hours(k.step) AS ts, k.step
                FROM src s JOIN sched k USING (conv_id)
                UNION ALL
                SELECT printf('conv-new-%04d', step), turn_idx, 'user',
                    printf('[fix %02d] ', step) || md5(concat_ws('|', {int(seed)}, id)),
                    NULL, to_timestamp(1710000000 + id), step
                FROM (SELECT id, (id // {new_turns} + 1)::INTEGER AS step,
                             (id % {new_turns})::INTEGER AS turn_idx
                      FROM range({(len(steps) - 1) * new_turns}) t(id))
            ) TO '{corr_dir}' (FORMAT PARQUET, PARTITION_BY (step))
        """)
    finally:
        con.close()
    return {k: os.path.join(corr_dir, f"step={k}") for k in range(1, len(steps))}
