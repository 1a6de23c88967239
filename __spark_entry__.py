"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship maintenance lifecycle (synthesize → ingest →
compact → Z-order cluster → MERGE corrections → scan) and returns a
verification DataFrame. ``queries``/``oracle_sql`` cover the engine:
the table format, the maintenance and row-level operators, ETL, the
source readers, streaming, transcript ops and metadata aggregates.
Implementations live in ``e_commerce_lakehouse_spark/queries.py``
with DuckDB twins in ``e_commerce_lakehouse_spark/oracles.py``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full maintenance lifecycle over a deterministic transcripts
    table, then an analytics summary of the post-maintenance scan joined
    against /root/testdata/sf0.001 lineitem stats (smoke coverage of both
    the engine and the testdata path)."""
    import uuid

    from pyspark.sql import functions as F

    from e_commerce_lakehouse_spark.operators import cluster, compact, merge_into
    from e_commerce_lakehouse_spark.synth import corrections_df, transcripts_df
    from e_commerce_lakehouse_spark.table import scan
    from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    def run_once() -> DataFrame:
        # unique per-invocation dir: no collisions with concurrent or stale
        # runs; result is materialized then served independent of the dir;
        # cleanup happens on failure too (no tmpfs leak across retries)
        root = os.path.join(base, f"spark_graft_entry_{uuid.uuid4().hex[:12]}")
        try:
            df = transcripts_df(spark, 2000, seed=42)
            table = create_transcripts_table(
                spark, root, df, rows_per_file=200, n_append_commits=2
            )
            compact(spark, table, target_bytes=1 << 20)
            cluster(spark, table, curve="zorder", target_bytes=1 << 19)
            merge_into(spark, table, corrections_df(spark, df, seed=42, update_pct=2, n_inserts=8))
            out = (
                scan(spark, table)
                .groupBy("role")
                .agg(
                    F.count("*").alias("n_turns"),
                    F.round(F.avg(F.length("text")), 2).alias("avg_text_len"),
                    F.countDistinct("conv_id").alias("n_convs"),
                    F.sum(F.when(F.col("text").startswith("[corrected] "), 1).otherwise(0)).alias(
                        "n_corrected"
                    ),
                )
            )
            # touch the driver testdata path too (flagship must run on sf0.001)
            sf_dir = "/root/testdata/sf0.001"
            if os.path.isdir(sf_dir):
                li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                stats = li.agg(F.count("*").alias("li_rows")).select(
                    F.lit("all").alias("join_key"), "li_rows"
                )
                out = out.withColumn("join_key", F.lit("all")).join(stats, "join_key").drop(
                    "join_key"
                )
            rows = out.collect()
            return spark.createDataFrame(rows, out.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    try:
        return run_once()
    except Exception:
        # one full retry in a fresh dir — output is deterministic either
        # way — but surface the FIRST failure's full traceback to stderr
        # first, so a deterministic bug shows its root-cause frame instead
        # of hiding behind 'transient' framing
        import sys
        import traceback

        print("entry first attempt failed; full traceback before retry:", file=sys.stderr)
        traceback.print_exc()
        return run_once()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from e_commerce_lakehouse_spark.queries import ALL

    return dict(ALL)


def oracle_sql() -> dict[str, str]:
    from e_commerce_lakehouse_spark.oracles import ALL

    return dict(ALL)
