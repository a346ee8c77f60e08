"""Engine-vs-DuckDB-oracle parity for every SQL-expressible query —
the in-repo replica of the driver's CORRECTNESS gate — and, for every
registry query, no persisted RDD left behind after release_cached."""

import pytest

import __spark_entry__ as entrymod
from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.oracle import compare, run_oracle

from conftest import SF_CORRECT, SF_UNIT, persisted_rdd_ids

ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    sf = SF_CORRECT if name in entrymod.SF_PINNED else SF_UNIT
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    before = persisted_rdd_ids(spark)
    got = q(spark, sf)
    exp = run_oracle(sql, sf)
    ok, detail = compare(got, exp)
    assert ok, f"{name}: {detail}"
    release_cached(got)
    left = persisted_rdd_ids(spark) - before
    assert not left, f"{name} leaves {len(left)} persisted RDDs"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    q = entrymod.queries()[name]
    before = persisted_rdd_ids(spark)
    df = q(spark, SF_UNIT)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    release_cached(df)
    left = persisted_rdd_ids(spark) - before
    assert not left, f"{name} leaves {len(left)} persisted RDDs"


def test_entry_smoke(spark):
    before = persisted_rdd_ids(spark)
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert set(df.columns) == {"doc_id", "parcel_id"}
    release_cached(df)
    assert not persisted_rdd_ids(spark) - before
