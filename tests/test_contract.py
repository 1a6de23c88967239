"""Driver-contract guards (no Spark session needed).

The driver hashes each queries() result against its oracle_sql() twin;
these guards catch contract drift (a query without an oracle, an orphan
oracle, a renamed key) before the driver does.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_every_query_has_an_oracle():
    from e_commerce_lakehouse_spark.oracles import ALL as ORACLES
    from e_commerce_lakehouse_spark.queries import ALL as QUERIES

    # every query — including the q30 lifecycle, since round 4 rebased its
    # input on sf_dir-derived expressions — must be value-hash oracled
    assert set(QUERIES) == set(ORACLES)


def test_entry_module_contract():
    import __spark_entry__ as e

    assert callable(e.entry)
    q = e.queries()
    o = e.oracle_sql()
    assert isinstance(q, dict) and isinstance(o, dict)
    assert set(o) <= set(q)


def test_oracle_sql_is_wellformed_duckdb():
    """Every oracle parses in DuckDB (no execution — views are absent)."""
    import duckdb

    from e_commerce_lakehouse_spark.oracles import ALL as ORACLES

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE TABLE {t} AS SELECT 1 AS placeholder WHERE false")
    for name, sql in ORACLES.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.BinderException:
            pass  # binder errors expected (placeholder schemas); parse is what we test
        except duckdb.ParserException as e:  # pragma: no cover
            raise AssertionError(f"{name}: {e}") from e
