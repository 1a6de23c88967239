"""copy_into: idempotent batch file ingest (Delta COPY INTO semantics).

The contract under test: a re-run over the same glob loads nothing and
commits nothing; only genuinely new files load; ``force`` overrides the
ledger; the ledger is the union over the PUBLISHED ancestor chain.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.operators.copy_into import copy_into
from e_commerce_lakehouse_spark.synth import transcripts_df
from e_commerce_lakehouse_spark.table import scan
from e_commerce_lakehouse_spark.table.meta import Table


@pytest.fixture()
def landing(spark, tmp_path):
    df = transcripts_df(spark, 900, seed=7)
    d = str(tmp_path / "landing")
    for i in range(3):
        df.where(F.col("turn_idx") % 3 == i).coalesce(1).write.parquet(
            os.path.join(d, f"f{i}")
        )
    return d, df


def _mk(tmp_path) -> Table:
    return Table.create(str(tmp_path / "tbl"))


def test_rerun_is_noop(spark, tmp_path, landing):
    d, df = landing
    t = _mk(tmp_path)
    glob_pat = d + "/*/*.parquet"
    r1 = copy_into(spark, t, glob_pat)
    assert r1["files_loaded"] == 3 and r1["files_skipped"] == 0
    assert r1["rows"] == df.count()
    head = t.current_snapshot_id()
    r2 = copy_into(spark, t, glob_pat)
    assert r2["files_loaded"] == 0 and r2["files_skipped"] == 3
    assert r2["rows"] == 0
    # a fully-skipped run commits NOTHING
    assert t.current_snapshot_id() == head
    assert scan(spark, t).count() == df.count()


def test_only_new_files_load(spark, tmp_path, landing):
    d, df = landing
    t = _mk(tmp_path)
    first_two = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
        if f.endswith(".parquet")
    )[:2]
    copy_into(spark, t, first_two)
    r = copy_into(spark, t, d + "/*/*.parquet")
    assert r["files_loaded"] == 1 and r["files_skipped"] == 2
    assert scan(spark, t).count() == df.count()


def test_force_reloads(spark, tmp_path, landing):
    d, df = landing
    t = _mk(tmp_path)
    copy_into(spark, t, d + "/*/*.parquet")
    r = copy_into(spark, t, d + "/*/*.parquet", force=True)
    assert r["files_loaded"] == 3
    assert scan(spark, t).count() == 2 * df.count()


def test_explicit_list_missing_file_raises(spark, tmp_path, landing):
    d, _ = landing
    t = _mk(tmp_path)
    with pytest.raises(FileNotFoundError, match="copy_into sources missing"):
        copy_into(spark, t, [os.path.join(d, "nope.parquet")])


def test_ledger_survives_compaction(spark, tmp_path, landing):
    """Rewrite commits keep parent linkage, so the ledger union walks
    through them untouched."""
    from e_commerce_lakehouse_spark.operators.compact import compact

    d, df = landing
    t = _mk(tmp_path)
    copy_into(spark, t, d + "/*/*.parquet", rows_per_file=100)
    compact(spark, t)
    r = copy_into(spark, t, d + "/*/*.parquet")
    assert r["files_loaded"] == 0
    assert scan(spark, t).count() == df.count()
