"""Shared fixtures: one local SparkSession, small deterministic tables.

Mirrors the reference's local-Spark test setup
(`/root/reference/tests/conftest.py:7-18`) but imports the REAL operators
instead of re-stating logic inline (the reference's tests don't exercise
its jobs — SURVEY.md §5 'notable weakness').
"""

from __future__ import annotations

import os
import shutil

import pytest

from e_commerce_lakehouse_spark.session import get_spark
from e_commerce_lakehouse_spark.synth import transcripts_df
from e_commerce_lakehouse_spark.table.writer import create_transcripts_table

N_TURNS = 4000


@pytest.fixture(scope="session")
def spark():
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    s = get_spark(app_name="tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_df(spark):
    return transcripts_df(spark, N_TURNS, seed=42).cache()


@pytest.fixture()
def tiny_table(spark, tiny_df, tmp_path):
    root = str(tmp_path / "tbl")
    shutil.rmtree(root, ignore_errors=True)
    # small files + several append commits: exercises compaction AND
    # manifest accumulation
    return create_transcripts_table(
        spark, root, tiny_df, rows_per_file=300, n_append_commits=3
    )


def assert_same_rows(a, b):
    """Order-insensitive full-row equality (byte-equality invariant)."""
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
