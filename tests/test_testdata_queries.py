"""Oracle-differential tests for the graded query surface (SURVEY §5.1).

Each query runs on Spark and its oracle on DuckDB over sf0.001, and the
full result sets must match exactly (same canonicalization as
tools/check_correctness.py). This is the same gate the driver applies
at sf0.01 — kept at the smallest scale factor here so the suite stays
fast enough to run on every change.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import table_hash

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    if name not in ORACLES:
        pytest.fail(f"registry entry {name!r} has no oracle SQL")
    sdf = QUERIES[name](spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(ORACLES[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert table_hash(s_rows, list(sdf.columns)) == table_hash(d_rows, d_cols)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["monthnum", "is_weekend", "brand", "total_revenue"]
