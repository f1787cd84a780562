"""Registry ↔ oracle consistency, cheap enough for every pytest run.

The driver's correctness gate sorts columns by name before hashing
values, so a column-name mismatch between a Spark query and its DuckDB
oracle fails the gate even when values agree. This test catches that
class of drift at plan level (no Spark jobs for the relational gates;
the trace gates pay one small sf0.001 derivation): every oracle key maps
to a registered query, and both sides produce the same column-name set.

Full value-level parity is `tools/parity_check.py` (run at sf0.01, the
driver's configuration) — too slow for the default pytest loop.
"""

from __future__ import annotations

import duckdb
import pytest

from pipit_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def test_every_oracle_has_a_query():
    """Both registry views project one gate table: the same names in the
    same order, so no gate exists without its oracle; every bench.py
    headline query is a gate, so a table edit cannot break the bench."""
    import bench

    qs, osql = Q.queries(), Q.oracle_sql()
    assert list(qs) == list(osql)
    assert set(bench.HEADLINE) <= set(qs), set(bench.HEADLINE) - set(qs)


def test_columns_match_between_query_and_oracle(spark, oracle_con):
    qs, osql = Q.queries(), Q.oracle_sql()
    problems = []
    for name, sql in sorted(osql.items()):
        spark_cols = sorted(qs[name](spark, SF_DIR).columns)
        oracle_cols = sorted(
            d[0] for d in oracle_con.execute(sql).description
        )
        if spark_cols != oracle_cols:
            problems.append(f"{name}: spark={spark_cols} oracle={oracle_cols}")
    assert not problems, "\n".join(problems)
