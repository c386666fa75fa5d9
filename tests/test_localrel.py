"""``localrel.local_df``: driver-side rows as an Arrow LocalRelation.

The frame must scan as a ``LocalTableScan`` (no Python-RDD scan), carry
real size statistics, and hold exactly the schema (nullability
included) and rows of a plain Python-row ``createDataFrame`` over the
same rows, for every type the package's call sites pass. Artifact saves
built on it must still write one parquet file each."""

import datetime
import glob
import os
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from employee_activity_etl_poc_spark.localrel import local_df
from employee_activity_etl_poc_spark.operators.index_store import save_ann_index
from employee_activity_etl_poc_spark.operators.model_store import (
    save_centroids,
    save_classifier,
    save_tokenizer,
)

LONG_MAX = 2**63 - 1

ALL_TYPES = (
    "i int, b bigint, s string, d double, f boolean, "
    "v array<double>, l array<array<double>>"
)
ALL_TYPES_ROWS = [
    (1, 2**40, "a", 1.5, True, [0.25, -1.0], [[1.0, 2.0], [3.0]]),
    (-7, -3, "", -0.0, False, [], []),
    (0, 0, None, 1e-300, True, [2.0], [[]]),
]


def _python_rows_df(spark, rows, schema):
    # the Python-RDD relation local_df replaces: same rows, same schema
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1) if rows else rows, schema
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_df_scans_as_local_table_with_real_size(spark):
    df = local_df(spark, [(1, "x"), (2, "y")], "a int, s string")
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert 0 < int(str(size)) < LONG_MAX


@pytest.mark.parametrize(
    "rows", [ALL_TYPES_ROWS, []], ids=["rows", "empty"]
)
def test_local_df_matches_python_rows(spark, rows):
    got = local_df(spark, rows, ALL_TYPES)
    ref = _python_rows_df(spark, rows, ALL_TYPES)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


def test_local_df_keeps_collected_struct_type(spark, sf_dir):
    from employee_activity_etl_poc_spark.plans.llm_queries import (
        _reload_gate_exact_rows,
    )

    rows, schema = _reload_gate_exact_rows(spark, sf_dir)
    assert rows and not all(f.nullable for f in schema.fields)
    got = local_df(spark, rows, schema)
    assert got.schema == schema == _python_rows_df(spark, rows, schema).schema
    assert got.collect() == rows


def test_local_df_empty_timestamp_decimal(spark):
    # the empty Delta table case: a log-derived StructType, no rows
    schema = StructType(
        [
            StructField("ts", TimestampType(), True),
            StructField("amount", DecimalType(12, 2), False),
            StructField("id", LongType(), False),
            StructField("name", StringType(), True),
        ]
    )
    got = local_df(spark, [], schema)
    assert got.schema == schema == _python_rows_df(spark, [], schema).schema
    assert got.collect() == []
    assert "ExistingRDD" not in _plan(got)
    # the same schema carries values through the Arrow path unchanged
    row = (datetime.datetime(2024, 1, 2, 3, 4, 5), Decimal("12.34"), 9, None)
    assert local_df(spark, [row], schema).collect() == (
        _python_rows_df(spark, [row], schema).collect()
    )


@pytest.mark.parametrize(
    "save",
    [
        lambda spark, p: save_classifier(spark, p, list(range(100)), 4),
        lambda spark, p: save_tokenizer(
            spark, p,
            [
                {"rank": r, "lhs": "a", "rhs": str(r), "merged": f"a{r}",
                 "pair_count": 100 - r}
                for r in range(40)
            ],
        ),
        lambda spark, p: save_centroids(
            spark, p, [[c * 10 + j for j in range(4)] for c in range(12)],
            grid=1000,
        ),
        lambda spark, p: save_ann_index(
            spark, p, dim=4, built_n=100, n_probe=2,
            centroids=[[float(c), 0.0, 1.0, 0.5] for c in range(24)],
        ),
    ],
    ids=["classifier", "tokenizer", "centroids", "ann_index"],
)
def test_artifact_save_writes_one_file(spark, tmp_path, save):
    path = os.path.join(tmp_path, "artifact")
    save(spark, path)
    parts = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(parts) == 1, parts
