"""Table profiling — per-column statistics in ONE scan (null rate, distinct
count, min/max, mean where numeric).

The reference eyeballed health via ad-hoc prints (`readSampleDelta.py:
67-71`, `bronzeToGold.py:209-229`); this is the systematic form: one
aggregation row per column, computed in a single pass (every stat is an
aggregate over the same scan — Catalyst fuses them), emitted long-format so
the profile of a 500-column table is 500 rows, not 500 columns.

At 100 TB: swap ``countDistinct`` for ``approx_count_distinct`` (HLL) —
exact distinct on a wide table is the one stat here that doesn't scale;
kept exact for the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def profile_table(
    df: DataFrame, columns: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Long-format profile: (column, n, n_null, n_distinct, min_str,
    max_str, mean) — one row per column, one scan total."""
    cols = columns or df.columns
    types = dict(df.dtypes)
    distinct = F.approx_count_distinct if approx else F.countDistinct

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            distinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            (
                F.avg(c) if types[c].split("(")[0] in _NUMERIC else F.lit(None).cast("double")
            ).alias(f"{c}__mean"),
        ]
    wide = df.agg(*aggs)

    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
                F.round(f"{c}__mean", 4).alias("mean"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")
