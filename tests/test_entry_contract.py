"""Smoke tests of the driver contract + sf0.001 oracle parity for a fast
representative subset (the full sweep lives in tools/check_oracle.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E
from employee_activity_etl_poc_spark.schemas import TESTDATA_TABLES
from tools.check_oracle import normalize

SF = "/root/testdata/sf0.001"

FAST_SUBSET = [
    "pricing_summary",
    "revenue_by_segment",
    "wellness_kpis",
    "activity_validation",
    "dedup_exact",
    "token_counts",
    "multimodal_metadata",
]


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() >= 1
    assert df.columns == [
        "total_wellness_days",
        "total_equiv_salary",
        "total_prime_sportive",
    ]


def test_every_query_has_callable_and_most_have_oracles(spark):
    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 30
    missing = set(qs) - set(os_)
    # every registry query is oracle-gated: the non-SQL-expressible ops
    # (zlib, ANN) use the recall-gate contract — exact/replayable rows
    # plus boolean flags the oracle pins as TRUE
    assert missing == set()


def test_queries_are_ordered_stalest_gate_first():
    # the correctness gate checks a prefix of queries(): never-gated lead,
    # then ascending latest CORRECTNESS_r<N>.json round
    latest = E._latest_gate_round()
    rounds = [latest.get(n, 0) for n in E.queries()]
    assert rounds == sorted(rounds)
    assert list(E.oracle_sql()) == list(E.queries())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_oracle_parity_sf0001(spark, duck, name):
    q = E.queries()[name]
    sql = E.oracle_sql()[name]
    assert normalize(q(spark, SF).toPandas()) == normalize(duck.execute(sql).fetchdf())
