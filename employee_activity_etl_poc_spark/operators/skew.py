"""Skew mitigation — salting rewrites for hot keys (SCALE.md).

AQE's skew-join handling covers sort-merge joins at runtime; this is the
*structural* rewrite for the place AQE can't help: a reduce-side
aggregation where one group receives a disproportionate share of rows
(map-side partial aggregation already bounds this for algebraic
aggregates — the salted two-stage form is for high-cardinality payload
aggs like ``collect_list``/exact distinct, or engines/paths where
partials are unavailable).

The rewrite is RESULT-IDENTICAL to its plain form (it is oracle-checked
against the unsalted SQL in the registry) — salt only redistributes rows,
never changes semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "_salt"

# (partial_expr, merge_expr) builders per supported aggregate
_ALGEBRAIC = {
    "sum": (lambda c: F.sum(c), lambda p: F.sum(p)),
    "count": (lambda c: F.count(c), lambda p: F.sum(p)),
    "min": (lambda c: F.min(c), lambda p: F.min(p)),
    "max": (lambda c: F.max(c), lambda p: F.max(p)),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salt: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation: ``aggs`` maps output name ->
    (function, column) with function in sum/count/min/max/avg.

    Stage 1 groups on (keys, salt) — the hot key's rows spread over
    ``n_salt`` reducers; stage 2 merges the per-salt partials on the real
    keys (tiny input: |keys|×n_salt rows). ``avg`` decomposes into
    sum+count so the merge stays exact. ``("count", "*")`` is the SQL
    ``count(*)`` (rows, nulls included); ``("count", col)`` skips nulls in
    ``col`` — the two differ whenever the column is nullable, so pick the
    one your downstream (or oracle) means.

    Salt is derived from ``monotonically_increasing_id`` — its value is
    partition-dependent, which is irrelevant: ANY row scatter is a valid
    salt; the merge stage erases it.
    """
    salted = df.withColumn(_SALT, F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salt)))

    partials, finals = [], []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            partials += [
                F.sum(col).alias(f"__{out}_s"),
                F.count(col).alias(f"__{out}_c"),
            ]
            finals.append(
                (F.sum(f"__{out}_s") / F.sum(f"__{out}_c")).alias(out)
            )
        elif fn in _ALGEBRAIC:
            part, merge = _ALGEBRAIC[fn]
            partials.append(part(col).alias(f"__{out}"))
            finals.append(merge(F.col(f"__{out}")).alias(out))
        else:
            raise ValueError(f"unsupported salted aggregate: {fn}")

    stage1 = salted.groupBy(*keys, _SALT).agg(*partials)
    return stage1.groupBy(*keys).agg(*finals)

