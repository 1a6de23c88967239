"""Unit invariants for the transcript projection and its integrity audit
(q175) over an event log with out-of-order event times."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.transcripts import (
    as_transcripts,
    conversation_shape_audit,
)


@pytest.fixture(scope="module")
def events(spark):
    # deterministic event log with deliberate out-of-order event times:
    # arrival order = id, event time jitters backwards every 7th row
    n = 5000
    df = spark.range(0, n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("cart"), F.lit("buy")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.col("id") * 60
            - F.when(F.col("id") % 7 == 3, 86_400 * 2).otherwise(0)
        ).alias("ts"),
        (F.col("id") % 100).cast("double").alias("value"),
        F.concat(F.lit("p"), F.col("id")).alias("props"),
    )
    return df.cache()


def test_transcript_audit_integrity_on_clean_log(spark, events):
    tr = as_transcripts(events)
    assert tr.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    out = conversation_shape_audit(tr)
    rows = out.collect()
    assert len(rows) == 37
    # projection derives turn_idx by construction: always contiguous;
    # event times may jitter backward (planted), audit must flag none
    # the less that ordering by (ts, id) is monotone by construction
    assert all(r.idx_contiguous for r in rows)
    assert all(r.ts_monotone for r in rows)
    assert all(r.n_roles >= 2 for r in rows)
    assert sum(r.n_turns for r in rows) == events.count()
    # tool turns exist (id % 17 == 5 cycle) and carry a tool name
    assert tr.where((F.col("role") == "tool") & F.col("tool").isNull()).count() == 0
    assert tr.where(F.col("role") == "tool").count() > 0


def test_transcript_audit_flags_planted_corruption(spark, events):
    tr = as_transcripts(events)
    # corrupt one conversation: drop its turn 3 (breaks contiguity)
    broken = tr.where(
        ~((F.col("conv_id") == "conv-000000005") & (F.col("turn_idx") == 3))
    )
    rows = {r.conv_id: r for r in conversation_shape_audit(broken).collect()}
    assert not rows["conv-000000005"].idx_contiguous
    assert rows["conv-000000012"].idx_contiguous
