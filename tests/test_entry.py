"""Driver-contract surface: entry() smoke + full Spark-vs-DuckDB oracle
parity at sf0.001 (the fast tier; the driver runs sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.check_oracles import TABLES, compare

SF_DIR = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "keep", "drop_reason", "lang", "quality_score"}


def test_queries_have_oracles_or_are_flagged():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query callable is exposed
    assert len(qs) >= 15


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_oracle_parity(spark, duck, name):
    """Dtype-faithful parity (tools/check_oracles.compare): int-vs-float
    kind drift fails here the same way the driver's hash does."""
    fn = entry_mod.queries()[name]
    spdf = fn(spark, SF_DIR).toPandas()
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        assert spdf is not None  # rows-only contract: runs and returns
        return
    dpdf = duck.execute(oracles[name]).df()
    assert compare(spdf, dpdf) == []
