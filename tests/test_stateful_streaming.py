"""applyInPandasWithState operator: per-conversation running stats across
micro-batches, state carried between batches."""

from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.streaming.stateful import conversation_stats_stream
from e_commerce_lakehouse_spark.synth import transcripts_df


def test_conversation_stats_stateful(spark, tmp_path):
    df = transcripts_df(spark, 600, seed=11).cache()
    pq_dir = str(tmp_path / "turns_pq")
    # two separate files → two micro-batches under maxFilesPerTrigger=1
    df.where(F.col("turn_idx") % 2 == 0).coalesce(1).write.parquet(pq_dir + "/b1")
    df.where(F.col("turn_idx") % 2 == 1).coalesce(1).write.parquet(pq_dir + "/b2")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pq_dir + "/*")
    )
    out = conversation_stats_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the state must really be carried: rows arrive in at least two batches
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2

    # last update per conv must equal the batch ground truth
    got = spark.sql(
        """
        SELECT conv_id, n_turns, max_turn_idx FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY n_turns DESC) rn
            FROM conv_stats) WHERE rn = 1
        """
    )
    expect = df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"), F.max("turn_idx").alias("max_turn_idx")
    )
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    assert diff == 0


def test_context_budget_stream_state_across_batches(spark, tmp_path):
    """In-order multi-batch replay: file b1 carries each conversation's
    early turns, b2 the later ones (split by ts). The running budget
    state must carry across batches so the final update row per conv
    equals the batch audit."""
    from e_commerce_lakehouse_spark.operators.transcripts import (
        context_budget_audit,
    )
    from e_commerce_lakehouse_spark.streaming.stateful import (
        context_budget_stream,
    )

    rows = []
    eid = 0
    for conv in range(4):
        for i in range(12):
            eid += 1
            rows.append((f"conv-{conv}", i * 60 + conv, eid, "x" * (7 + conv)))
    df = spark.createDataFrame(
        rows, "conv_id string, sec long, event_id long, text string"
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
        "event_id",
        "text",
    ).cache()
    pq_dir = str(tmp_path / "budget_pq")
    # time-ordered split: batch 1 strictly precedes batch 2 per conv
    df.where(F.col("ts") < F.timestamp_seconds(F.lit(6 * 60))).coalesce(1) \
        .write.parquet(pq_dir + "/b1")
    df.where(F.col("ts") >= F.timestamp_seconds(F.lit(6 * 60))).coalesce(1) \
        .write.parquet(pq_dir + "/b2")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pq_dir + "/*")
    )
    out = context_budget_stream(stream, budget_chars=50)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("ctx_budget")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.conv_id: r
        for r in spark.sql(
            """
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id ORDER BY n_turns DESC) rn
                FROM ctx_budget) WHERE rn = 1
            """
        ).collect()
    }
    # batch ground truth over the canonical transcript projection
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    tr = df.withColumn(
        "turn_idx", (F.row_number().over(w) - 1).cast("int")
    ).select("conv_id", "turn_idx", "text")
    expect = {
        r.conv_id: r
        for r in context_budget_audit(tr, budget_chars=50).collect()
    }
    assert set(got) == set(expect)
    for c in expect:
        for f in ("n_turns", "total_chars", "n_turns_within_budget",
                  "first_overflow_turn", "overflowed"):
            assert getattr(got[c], f) == getattr(expect[c], f), (c, f)
    spark.catalog.dropTempView("ctx_budget")
