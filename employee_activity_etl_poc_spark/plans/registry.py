"""Named query registry — the engine's public query surface.

Every operator family from SURVEY.md §2 is exercised by at least one named
query here, runnable on the driver's testdata tables (TESTDATA.md). Each
entry carries BOTH the Spark plan (a ``(spark, sf_dir) -> DataFrame``
callable) and, where SQL-expressible, a semantically identical ANSI-SQL
oracle string for DuckDB — that pair is the correctness gate
(CORRECTNESS_r{N}.json).

Determinism rules applied throughout (so the order-insensitive value hash
matches across engines):
- double aggregates are ``round()``-ed (2dp for sums, 4dp for means);
- timestamps are emitted as formatted strings, never raw;
- integer-ization is always an explicit ``floor`` (Spark casts truncate,
  DuckDB casts round — plain casts would diverge);
- top-k queries order by a total (tie-free) key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars as S
from ..operators import relational as R
from ..quality import rules as DQ
from ..sources.readers import load_table
from . import kpi


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(fn, dedent(oracle).strip() if oracle else None, doc, tags)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def money_sum(expr, nd: int = 2):
    """Exact financial sum: accumulate in DECIMAL(30,10), round, return
    double. Double summation is association-order-dependent — at sf1 the
    ~1e10-magnitude revenue totals started flipping their last rounded
    cent between Spark's partition-order sums and DuckDB's sequential
    ones (brand_volume, order_revenue_cube: off by 0.01). Decimal
    accumulation is order-independent and exact in BOTH engines — the
    same reason TPC-H mandates DECIMAL for money — so the oracle hash is
    stable at EVERY scale, not just where double noise stays under the
    rounding granularity. The per-row product is still computed in
    double (bit-identical across engines: same IEEE ops), then cast;
    only the many-row accumulation changes. Oracle twin:
    ``round(sum(CAST(expr AS DECIMAL(30,10))), nd)::DOUBLE``."""
    return F.round(F.sum(expr.cast("decimal(30,10)")), nd).cast("double")


# ===========================================================================
# Aggregations (SURVEY §2.4) + scan/filter pushdown (§2.2)
# ===========================================================================


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2)::DOUBLE   AS sum_base_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2)::DOUBLE
             AS sum_disc_price,
           round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))), 2)::DOUBLE
             AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(sum(CAST(l_extendedprice AS DECIMAL(30,10)))::DOUBLE / count(*), 4)
             AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A3/A9-style multi-aggregate groupBy with a pushed-down scan "
    "predicate (TPC-H Q1 shape). One shuffle, map-side partial agg. "
    "Money sums accumulate in DECIMAL (see money_sum) — order-"
    "independent and scale-stable, as TPC-H itself mandates.",
    tags=("agg", "scan"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            # exact decimal sum cast to double BEFORE the divide: both
            # engines then do the identical double division
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(30,10)"))
                .cast("double")
                / F.count("*"),
                4,
            ).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "pricing_summary_sql",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2)::DOUBLE AS sum_disc_price,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="The SQL dialect as a first-class surface: the same plan as "
    "pricing_summary expressed through spark.sql over registered temp "
    "views — one Catalyst optimizer, two front-ends, one hash.",
    tags=("sql", "agg", "scan"),
)
def pricing_summary_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import register_views

    register_views(spark, {"lineitem_v": load(spark, sf_dir, "lineitem")})
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                         AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2) AS DOUBLE) AS sum_disc_price,
               count(*)                                          AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "event_type_stats",
    """
    SELECT event_type,
           count(*)                         AS n,
           count(DISTINCT user_id)          AS n_users,
           round(sum(value), 2)             AS total_value,
           round(avg(value), 4)             AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="A3+A4: groupBy multi-agg with count-distinct (the gold/2test1.py "
    "transport report shape, gold/2test1.py:187-194).",
    tags=("agg",),
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


@register(
    "events_after_watermark",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*)                 AS n,
           round(sum(value), 2)     AS total_value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-25'
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    doc="P4/A2/ST6: incremental high-watermark filter (bronzeToGold2.py:38-50"
    ",103-110) pushed down to the RAW stored value (ns int64) so the scan "
    "skips row groups — filtering the converted timestamp would push only "
    "IsNotNull and read everything; daily rollup.",
    tags=("filter", "incremental"),
)
def events_after_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_table_incremental

    ev = load_table_incremental(spark, sf_dir, "events", "ts", "2024-01-25 00:00:00")
    return (
        ev.groupBy(S.format_ts("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "heavy_user_event_types",
    """
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY user_id, event_type HAVING count(*) > 5
    """,
    doc="A5: duplicate/hot-key detection via groupBy-having "
    "(test_real_data.py:17 generalized).",
    tags=("agg", "quality"),
)
def heavy_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 5)
    )


@register(
    "event_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` == "
    "DuckDB `quantile_cont`, both linear interpolation). At 100 TB switch "
    "to `approx_percentile` (t-digest, mergeable, bounded memory) — exact "
    "percentile buffers the group; kept exact here for the hash gate.",
    tags=("agg", "percentile"),
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "events_json_props_stats",
    """
    SELECT event_type,
           count(CASE WHEN k IS NOT NULL THEN 1 END) AS n_with_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           round(avg(k), 4) AS avg_k
    FROM (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ) GROUP BY event_type
    """,
    doc="Semi-structured extraction from the events.props JSON column "
    "(get_json_object path expr -> typed stats per group): the "
    "schema-on-read surface beyond the CDC envelope. At 100 TB prefer a "
    "typed from_json(schema) projection materialized once over repeated "
    "per-query path extraction — JSON parse is the dominant scan cost.",
    tags=("json", "agg"),
)
def events_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@register(
    "event_type_user_grouping_sets",
    """
    SELECT COALESCE(CASE WHEN GROUPING(event_type) = 1 THEN NULL
                         ELSE event_type END, '<all>') AS event_type,
           COALESCE(CASE WHEN GROUPING(bucket) = 1 THEN NULL
                         ELSE CAST(bucket AS VARCHAR) END, '<all>') AS user_bucket,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM (SELECT event_type, user_id % 10 AS bucket, value FROM events)
    GROUP BY GROUPING SETS ((event_type), (bucket), ())
    """,
    doc="Arbitrary GROUPING SETS (per-type, per-user-bucket, grand total "
    "in ONE pass) — the generalization of ROLLUP/CUBE: Spark's Expand "
    "replicates each row once per set before a single hash aggregate, so "
    "three reports cost one scan + one shuffle instead of three of each.",
    tags=("agg", "rollup"),
)
def event_type_user_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("bucket"), "value"
    )
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT COALESCE(CASE WHEN GROUPING(event_type) = 1 THEN NULL
                             ELSE event_type END, '<all>') AS event_type,
               COALESCE(CASE WHEN GROUPING(bucket) = 1 THEN NULL
                             ELSE CAST(bucket AS STRING) END, '<all>') AS user_bucket,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (bucket), ())
        """
    )


@register(
    "revenue_rollup_region_nation",
    """
    SELECT COALESCE(r_name, '<all>') AS r_name,
           COALESCE(CASE WHEN GROUPING(n_name) = 1 THEN NULL ELSE n_name END,
                    '<all>') AS n_name,
           count(*) AS n,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical ROLLUP (region → nation → grand total) — the multi-"
    "level report the reference produced with driver-side loops "
    "(gold/2test1.py:196-200); subtotal rows labeled '<all>' so the "
    "null-vs-subtotal ambiguity is explicit in both engines.",
    tags=("agg", "rollup"),
)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("r_name"),
            F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
            "n",
            "total_bal",
        )
    )


@register(
    "event_value_outliers",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, count(*) AS n_outliers,
           round(min(e.value), 4) AS min_outlier,
           round(max(e.value), 4) AS max_outlier
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
    GROUP BY e.event_type
    """,
    doc="IQR outlier detection per group (Tukey fences): per-type quartiles"
    " computed once (tiny aggregate, broadcast back), outliers counted in "
    "a second pass — the statistical generalization of the reference's "
    "hard-coded distance ranges (sport_benefits.py:9-19).",
    tags=("quality", "outliers", "percentile"),
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    joined = ev.join(F.broadcast(q), "event_type").where(
        (F.col("value") < F.col("q1") - 1.5 * iqr)
        | (F.col("value") > F.col("q3") + 1.5 * iqr)
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_outliers"),
        F.round(F.min("value"), 4).alias("min_outlier"),
        F.round(F.max("value"), 4).alias("max_outlier"),
    )


@register(
    "event_type_mode_value",
    """
    SELECT event_type, mode_bucket, n FROM (
      SELECT event_type,
             CAST(floor(value / 10) AS BIGINT) AS mode_bucket,
             count(*) AS n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC,
                                         CAST(floor(value / 10) AS BIGINT)) AS rn
      FROM events GROUP BY event_type, CAST(floor(value / 10) AS BIGINT)
    ) WHERE rn = 1
    """,
    doc="Per-group mode (most frequent value bucket): count + row_number "
    "argmax with deterministic tie-break — the statistical mode aggregate "
    "neither engine has as a grouped builtin.",
    tags=("agg", "mode", "window"),
)
def event_type_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("long")
    counts = ev.groupBy("event_type", bucket.alias("mode_bucket")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("mode_bucket")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", "mode_bucket", "n")
    )


@register(
    "event_value_deciles",
    """
    SELECT decile,
           count(*) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM (
      SELECT value,
             ntile(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    ) GROUP BY decile
    """,
    doc="Equi-depth deciles — exact ntile(10) semantics over a tie-broken "
    "total order, computed DISTRIBUTED (range-partition + parallel "
    "windows + per-partition offsets + the ntile bucket formula on the "
    "global rank) instead of the single-partition `ntile OVER (ORDER BY)` "
    "window. The oracle is the plain ntile SQL: the rewrite must be "
    "row-for-row identical.",
    tags=("window", "histogram", "percentile", "scale"),
)
def event_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tiled = R.exact_ntile_distributed(
        ev.select("value", "event_id"),
        order=[F.col("value"), F.col("event_id")],
        n_tiles=10,
        tile_col="decile",
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@register(
    "salted_event_rollup",
    """
    SELECT event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value,
           round(avg(value), 4) AS avg_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="Skew rewrite (SCALE.md): two-stage salted aggregation — hot keys "
    "scatter over 16 reducers, partials merge on the real key. The oracle "
    "is the PLAIN group-by: salting must be result-invisible.",
    tags=("agg", "skew", "scale"),
)
def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    out = salted_agg(
        load(spark, sf_dir, "events"),
        keys=["event_type"],
        aggs={
            "n": ("count", "*"),  # count(*) — rows, not non-null values

            "total_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
            "max_value": ("max", "value"),
        },
        n_salt=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 2).alias("total_value"),
        F.round("avg_value", 4).alias("avg_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@register(
    "events_pivot_by_type",
    """
    SELECT user_id % 10 AS user_bucket,
           CAST(count(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error
    FROM events GROUP BY user_id % 10
    """,
    doc="Pivot (long -> wide): event-type counts as columns per user "
    "bucket. Pivot values are EXPLICIT (never inferred — inference costs "
    "an extra distinct scan and makes the schema data-dependent).",
    tags=("agg", "pivot"),
)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "lineitem_unpivot_metrics",
    """
    SELECT metric, round(sum(v), 2) AS total FROM (
      SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem WHERE l_orderkey < 1000
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 1000
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 1000
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 1000
    ) GROUP BY metric
    """,
    doc="Unpivot/melt (wide -> long) then rollup per metric — one scan in "
    "Spark (Expand node), vs the oracle's 4-scan UNION ALL formulation.",
    tags=("agg", "unpivot"),
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "v",
    )
    return long.groupBy("metric").agg(F.round(F.sum("v"), 2).alias("total"))


@register(
    "table_row_counts",
    """
    SELECT 'lineitem' AS tbl, count(*) AS n FROM lineitem
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    """,
    doc="A1: the Grafana row-count gauges (grafana/queries.yaml:1-7) over "
    "every monitored table in one plan; each branch is a count-only scan "
    "(no columns read — parquet footer metadata at best).",
    tags=("monitoring", "agg"),
)
def table_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        load(spark, sf_dir, t).groupBy(F.lit(t).alias("tbl")).agg(
            F.count("*").alias("n")
        )
        for t in ("lineitem", "orders", "customer", "events", "documents")
    ]
    return R.union_fragments(parts)


# ===========================================================================
# Joins (SURVEY §2.3)
# ===========================================================================


@register(
    "revenue_by_segment",
    """
    SELECT c_mktsegment,
           count(*)                     AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)::DOUBLE  AS revenue,
           round(sum(CAST(o_totalprice AS DECIMAL(30,10)))::DOUBLE / count(*), 4)  AS avg_order
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="J1: fact⟕broadcast-dim equi-join + rollup (the bronze⟕HR-xlsx "
    "enrichment shape, gold/bronzeToGold.py:136-163).",
    tags=("join", "broadcast"),
)
def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_order"),
    )


@register(
    "brand_volume",
    """
    SELECT p_brand,
           count(*)                                          AS n_items,
           round(sum(l_quantity), 2)                         AS sum_qty,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    doc="J2: second enrichment join, dim broadcast so the 100TB fact side "
    "never shuffles (gold/bronzeToGold2.py:126-145).",
    tags=("join", "broadcast"),
)
def brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@register(
    "dormant_customers",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    """,
    doc="J3: left-anti referential check — entities with no open activity "
    "(the missing-employee report, find_unique_employee.ipynb:88-112).",
    tags=("join", "anti"),
)
def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    open_orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.anti_join(customer, open_orders, "c_custkey").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "open_order_customers",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    """,
    doc="J4: left-semi keep-valid-rows (find_unique_employee.ipynb:138).",
    tags=("join", "semi"),
)
def open_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    open_orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return R.semi_join(customer, open_orders, "c_custkey").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "regional_supplier_volume",
    """
    SELECT r_name, n_name,
           count(*)                                          AS n_items,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
    doc="TPC-H Q5-shaped 4-way join chain (fact → orders filter → supplier "
    "→ nation → region rollup): every dim side broadcast, the fact table "
    "shuffles ONCE (for the final rollup) — the join-ordering/broadcast-"
    "chain shape missing from the 2-way queries.",
    tags=("join", "broadcast", "multiway"),
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


@register(
    "order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: per-priority count of orders having at least one "
    "late-shipped line (>90 days after order). The EXISTS decorrelates to "
    "a LEFT SEMI join — one shuffle on the order key, no per-row "
    "subquery; the date window is pushed to the orders scan. (Adapted to "
    "the fixture's schema: lateness is shipdate vs orderdate since "
    "commit/receipt dates are not generated.)",
    tags=("join", "semi", "exists"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "promo_revenue_share",
    """
    SELECT round(100.0 * sum(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(30,10)))::DOUBLE
                 / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)))::DOUBLE, 4) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-03-01'
      AND l_shipdate <  TIMESTAMP '1995-04-01'
    """,
    doc="TPC-H Q14 shape: promotion revenue share for one ship-month — "
    "conditional-sum ratio over a broadcast dim join; the month predicate "
    "prunes the fact scan (at 100 TB with date partitioning this reads "
    "one partition).",
    tags=("join", "broadcast", "agg"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(0.0)
                    .cast("decimal(30,10)")
                ).cast("double")
                / F.sum(rev.cast("decimal(30,10)")).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim predicate pushed before the join "
    "chain, fact-fact join (orders×lineitem) on the natural key, top-k by "
    "aggregate (TakeOrderedAndProject — per-partition heaps, no global "
    "sort).",
    tags=("join", "multiway", "topk"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", S.format_ts("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "large_order_customers",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    doc="TPC-H Q18 shape (large-volume orders): the HAVING subquery "
    "becomes a pre-aggregated key set (map-side combined — one row per "
    "qualifying order) semi-joined back before anything widens, then the "
    "customer dim broadcasts onto the survivors. The anti-pattern this "
    "dodges at 100 TB: joining customer×orders×lineitem FIRST and "
    "filtering after — the pre-agg prunes the fact table to the "
    "qualifying handful of keys up front.",
    tags=("join", "multiway", "having"),
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 300)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pruned_li = li.join(
        F.broadcast(big), li.l_orderkey == big.l_orderkey, "left_semi"
    )
    return (
        pruned_li.join(orders, pruned_li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            S.format_ts("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


# ===========================================================================
# Windows / sorts / top-k (SURVEY §2.5)
# ===========================================================================


@register(
    "latest_events_per_user",
    """
    SELECT user_id, event_id, event_type, rn FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
    doc="W3: top-k per group via row_number (the Slack tail-5 startup "
    "buffer, slack_bot/slack_notifier.py:206-241).",
    tags=("window",),
)
def latest_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return R.topk_per_group(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()], 3
    ).select("user_id", "event_id", "event_type", "rn")


@register(
    "newest_events",
    """
    SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events ORDER BY event_id DESC LIMIT 7
    """,
    doc="W1: deterministic global top-k (the newest-7 DELETE selection, "
    "README.md:70-78).",
    tags=("window", "limit"),
)
def newest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return R.topk_global(ev, [F.col("event_id").desc()], 7).select(
        "event_id",
        "user_id",
        "event_type",
        S.format_ts("ts").alias("ts_str"),
    )


@register(
    "event_row_numbers",
    """
    SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS row_id
    FROM events WHERE user_id < 10
    """,
    doc="W4: contiguous 1..N id assignment (strava_like_data.ipynb:110); "
    "global window kept to a filtered subset — at scale use the two-pass "
    "per-partition-offset variant.",
    tags=("window",),
)
def event_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 10)
    return R.assign_contiguous_ids(ev, [F.col("ts"), F.col("event_id")]).select(
        "event_id", "row_id"
    )


@register(
    "event_row_numbers_distributed",
    """
    SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS row_id
    FROM events
    """,
    doc="W4 scale path over the WHOLE table: range-partition by the order "
    "keys, parallel per-partition row_number, per-partition offsets added "
    "(two-pass zipWithIndex shape — no single-partition window anywhere). "
    "Oracle: the plain global row_number; the rewrite must be "
    "result-identical.",
    tags=("window", "scale"),
)
def event_row_numbers_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return R.assign_contiguous_ids_distributed(
        ev, [F.col("ts"), F.col("event_id")], num_partitions=16
    ).select("event_id", "row_id")


@register(
    "events_interarrival",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE user_id < 20
    )
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(min(epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS min_gap_s,
           CAST(max(epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS BIGINT) AS max_gap_s,
           CAST(floor(avg((epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0)) AS BIGINT) AS avg_gap_s
    FROM seq WHERE prev_ts IS NOT NULL
    GROUP BY user_id
    """,
    doc="lag() inter-arrival analysis per user (gap stats) — the lag/lead "
    "window category the reference never had; tie-broken total order so "
    "gaps are engine-deterministic.",
    tags=("window", "lag"),
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ) / 1_000_000.0
    seq = ev.select("user_id", gap_s.alias("gap"))
    return (
        seq.where(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.floor(F.min("gap")).cast("long").alias("min_gap_s"),
            F.floor(F.max("gap")).cast("long").alias("max_gap_s"),
            F.floor(F.avg("gap")).cast("long").alias("avg_gap_s"),
        )
    )


@register(
    "events_trailing_hour_sum",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ), 2) AS trailing_1h,
           n_1h FROM (
      SELECT event_id, user_id, ts, value,
             count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
             ) AS n_1h
      FROM events WHERE user_id < 10
    )
    """,
    doc="Trailing-1-hour windowed sum/count per user (RANGE frame over "
    "µs-epoch — value-determined frames, so ties are deterministic, "
    "unlike ROWS over tied keys): the time-decayed feature shape "
    "(rate limiting, rolling exposure). One shuffle on the user key; the "
    "frame scan is a per-partition two-pointer, not O(n²).",
    tags=("window", "frame", "timeseries"),
)
def events_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


@register(
    "events_running_totals",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq_no
    FROM events WHERE user_id < 10
    """,
    doc="Running cumulative sum per user (explicit ROWS frame — RANGE "
    "frames over ties are non-deterministic across engines) + sequence "
    "number: the running-aggregate window category.",
    tags=("window", "frame"),
)
def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_value"),
        F.row_number().over(w).alias("seq_no"),
    )


# ===========================================================================
# Event-time windows (tumbling / sliding / session) — the engine's
# streaming-era extension; the reference has none (SURVEY §2.8). Same
# expressions run under readStream + withWatermark.
# ===========================================================================


@register(
    "nation_revenue_share",
    """
    WITH nr AS (
      SELECT r_name, n_name, sum(s_acctbal) AS bal
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           round(bal, 2) AS bal,
           round(100.0 * bal / sum(bal) OVER (PARTITION BY r_name), 4) AS pct_of_region
    FROM nr
    """,
    doc="Share-of-total via a windowed aggregate over an aggregate (each "
    "nation's % of its region): the ratio-metric shape every BI layer "
    "needs — window input is the small aggregated frame, never the fact "
    "table.",
    tags=("window", "agg", "ratio"),
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sup = load(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("s_acctbal").alias("bal"))
    )
    w = Window.partitionBy("r_name")
    return nr.select(
        "r_name",
        "n_name",
        F.round("bal", 2).alias("bal"),
        F.round(100.0 * F.col("bal") / F.sum("bal").over(w), 4).alias(
            "pct_of_region"
        ),
    )


@register(
    "events_tumbling_6h",
    """
    SELECT strftime(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY (epoch_us(ts) // 21600000000)
    """,
    doc="Tumbling 6h event-time windows (epoch-aligned, UTC): one window "
    "per row, one shuffle, map-side partial agg — the cheapest windowed "
    "rollup shape at scale.",
    tags=("window", "event-time"),
)
def events_tumbling_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import tumbling_agg

    ev = load(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        "ts",
        "6 hours",
        [],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select(
        S.format_ts("window_start").alias("window_start"), "n", "total_value"
    )


@register(
    "events_sliding_2d_1d",
    """
    SELECT strftime(make_timestamp(((epoch_us(ts) // 86400000000) - k) * 86400000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*)             AS n,
           count(DISTINCT user_id) AS n_users
    FROM events CROSS JOIN (VALUES (0), (1)) t(k)
    GROUP BY ((epoch_us(ts) // 86400000000) - k)
    """,
    doc="Sliding windows, 2-day length / 1-day step: each row feeds "
    "length/step = 2 windows (the replication factor to watch at 100 TB — "
    "pre-aggregate to tumbling steps and roll up when it grows).",
    tags=("window", "event-time"),
)
def events_sliding_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import sliding_agg

    ev = load(spark, sf_dir, "events")
    out = sliding_agg(
        ev,
        "ts",
        "2 days",
        "1 day",
        [],
        [F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users")],
    )
    return out.select(
        S.format_ts("window_start").alias("window_start"), "n", "n_users"
    )


@register(
    "events_session_1h",
    """
    WITH m AS (
      SELECT user_id, ts, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 3600000000
                  THEN 1 ELSE 0 END AS brk
      FROM events WHERE user_id < 50
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ),
    g AS (
      SELECT user_id, ts, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(max(us) + 3600000000),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n
    FROM g GROUP BY user_id, grp
    """,
    doc="Session windows (1h gap) per user via native session_window; the "
    "oracle is the classic gaps-and-islands SQL — a new session starts "
    "when the inter-event gap is >= the gap (interval end exclusive).",
    tags=("window", "event-time", "session"),
)
def events_session_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import session_agg

    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 50)
    out = session_agg(ev, "ts", "1 hour", ["user_id"], [F.count("*").alias("n")])
    return out.select(
        "user_id",
        S.format_ts("session_start").alias("session_start"),
        S.format_ts("session_end").alias("session_end"),
        "n",
    )


@register(
    "cheapest_supplier_per_part",
    """
    SELECT l_partkey AS partkey, s_suppkey AS suppkey, s_name,
           round(s_acctbal, 2) AS acctbal
    FROM (
      SELECT l_partkey, l_suppkey FROM lineitem GROUP BY l_partkey, l_suppkey
    ) pl JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_acctbal = (
      SELECT min(s2.s_acctbal)
      FROM (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem
            GROUP BY l_partkey, l_suppkey) pl2
      JOIN supplier s2 ON pl2.sk = s2.s_suppkey
      WHERE pl2.pk = pl.l_partkey
    )
    """,
    doc="TPC-H Q2 shape — correlated scalar subquery ('the supplier with "
    "the minimum balance FOR THIS part') decorrelated by hand into a "
    "per-key window min + filter: one shuffle on the key, no per-row "
    "subquery execution. The oracle keeps the correlated form (DuckDB "
    "decorrelates it itself) — same result, two optimizer strategies.",
    tags=("join", "decorrelation", "window"),
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pairs = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.lit(1).alias("_"))
        .drop("_")
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    joined = pairs.join(F.broadcast(sup), pairs.l_suppkey == sup.s_suppkey)
    w = Window.partitionBy("l_partkey")
    return (
        joined.withColumn("_min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("_min_bal"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


@register(
    "purchase_asof_click",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S')  AS ts_str,
           round(c.click_value, 4)               AS click_value_asof,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S')  AS click_ts_str
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (backward, inclusive): every purchase matched to the "
    "user's latest click at or before it — ONE shuffle + sorted window "
    "pass (union + last-ignorenulls), no broadcast, no Python. Oracle is "
    "DuckDB's native ASOF JOIN; right side pre-deduped per (key, ts) so "
    "the match is well-defined in both engines.",
    tags=("join", "asof", "timeseries"),
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join_backward(purchases, clicks, "user_id", "ts", ["click_value"])
    return out.select(
        "event_id",
        "user_id",
        S.format_ts("ts").alias("ts_str"),
        F.round("click_value_asof", 4).alias("click_value_asof"),
        S.format_ts("ts_asof").alias("click_ts_str"),
    )


@register(
    "error_in_signup_window",
    """
    WITH intervals AS (
      SELECT event_id AS signup_id, user_id, ts AS start_ts,
             ts + to_seconds(CAST(floor(value * 50) AS BIGINT)) AS end_ts
      FROM events WHERE event_type = 'signup'
    ),
    points AS (
      SELECT event_id AS error_id, ts AS p_ts FROM events WHERE event_type = 'error'
    )
    SELECT i.signup_id, p.error_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS error_ts_str
    FROM points p JOIN intervals i
      ON p.p_ts >= i.start_ts AND p.p_ts < i.end_ts
    """,
    doc="Range join: error events matched into signup activity windows "
    "(start <= p < end) via bin-bucketed equi-join — a theta-join Spark "
    "would otherwise plan as BroadcastNestedLoop. Oracle is DuckDB's "
    "native inequality join (its range-join optimizer handles it). "
    "AUDIT-ONLY (r8 registry scale-contract): the day bins are a FIXED "
    "time domain, so candidate pairs per bin grow quadratically as the "
    "corpus grows into the same date range — the same fixed-domain "
    "blocking law as the blocked dedup audit forms. Bounded-corpus "
    "audit form, excluded from bench HEADLINE and the decade sweep by "
    "the `audit` tag; the linear keyed twin is "
    "error_in_signup_window_by_user (user-keyed, candidates scale with "
    "matches) and the at-scale external gate is the deterministic "
    "hour-slice error_in_signup_window_sliced.",
    tags=("join", "range", "timeseries", "audit"),
)
def error_in_signup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join_points_intervals

    ev = load(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros("ts") + F.floor(F.col("value") * 50).cast("long") * 1_000_000
        ).alias("end_ts"),
    )
    points = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("p_ts")
    )
    out = range_join_points_intervals(
        points, intervals, "p_ts", "start_ts", "end_ts", bin_seconds=86400
    )
    return out.select(
        "signup_id", "error_id", S.format_ts("p_ts").alias("error_ts_str")
    )


@register(
    "error_in_signup_window_by_user",
    """
    WITH intervals AS (
      SELECT event_id AS signup_id, user_id, ts AS start_ts,
             ts + to_seconds(CAST(floor(value * 50) AS BIGINT)) AS end_ts
      FROM events WHERE event_type = 'signup'
    ),
    points AS (
      SELECT event_id AS error_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT i.signup_id, p.error_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS error_ts_str
    FROM points p JOIN intervals i
      ON p.user_id = i.user_id
     AND p.p_ts >= i.start_ts AND p.p_ts < i.end_ts
    """,
    doc="The 100 TB form of the interval join: same containment "
    "semantics as error_in_signup_window, KEYED by user — the "
    "(user, bin) composite equi-join bounds candidates to same-user "
    "pairs, so output and join cost stay LINEAR in event volume where "
    "the un-keyed global join is quadratic in event density (measured "
    "at sf1: 38M pairs global vs per-user matches; the global form is "
    "the audit query you run once, this is the one you run nightly). "
    "Same binned rewrite, extra_key='user_id'.",
    tags=("join", "range", "timeseries", "scale"),
)
def error_in_signup_window_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join_points_intervals

    ev = load(spark, sf_dir, "events")
    intervals = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros("ts") + F.floor(F.col("value") * 50).cast("long") * 1_000_000
        ).alias("end_ts"),
    )
    points = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    out = range_join_points_intervals(
        points,
        intervals,
        "p_ts",
        "start_ts",
        "end_ts",
        bin_seconds=86400,
        extra_key="user_id",
    )
    return out.select(
        "signup_id", "error_id", S.format_ts("p_ts").alias("error_ts_str")
    )


@register(
    "error_in_signup_window_sliced",
    """
    WITH ev AS (
      SELECT * FROM events
      WHERE CAST('0x' || substr(md5('slice|' ||
                 (epoch_us(ts) // 3600000000)::VARCHAR), 1, 8)
            AS BIGINT) % 50 = 0
    ),
    intervals AS (
      SELECT event_id AS signup_id, user_id, ts AS start_ts,
             ts + to_seconds(CAST(floor(value * 50) AS BIGINT)) AS end_ts
      FROM ev WHERE event_type = 'signup'
    ),
    points AS (
      SELECT event_id AS error_id, ts AS p_ts FROM ev WHERE event_type = 'error'
    )
    SELECT i.signup_id, p.error_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS error_ts_str
    FROM points p JOIN intervals i
      ON p.p_ts >= i.start_ts AND p.p_ts < i.end_ts
    """,
    doc="The global range join on a deterministic TIME-SLICE — the "
    "at-scale external check error_in_signup_window itself cannot have "
    "(its full sf1 output is 38M pairs, harness-infeasible to hash; "
    "VERDICT r6 #7): keep whole HOURS whose md5-keyed bucket hash "
    "≡ 0 mod 50 (the make_oracle_sample.py idiom applied to time — "
    "1/50 of hours survive at FULL within-hour event density, so the "
    "binned-join rewrite faces the true sf1 density while the output "
    "stays ~38M/50 ≈ 330k hashable pairs). Both engines apply the "
    "identical slice predicate to each event's own timestamp, so the "
    "few ≤50s intervals straddling a kept-hour boundary drop "
    "identically on both sides. Exercises the same "
    "range_join_points_intervals path (bin-bucketed equi-join, "
    "bin_seconds=86400) as the unsliced audit form.",
    tags=("join", "range", "timeseries", "scale"),
)
def error_in_signup_window_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join_points_intervals

    ev = load(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 3600000000")
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("slice|"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 50
        == 0
    )
    ev = ev.where(keep)
    intervals = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros("ts") + F.floor(F.col("value") * 50).cast("long") * 1_000_000
        ).alias("end_ts"),
    )
    points = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("p_ts")
    )
    out = range_join_points_intervals(
        points, intervals, "p_ts", "start_ts", "end_ts", bin_seconds=86400
    )
    return out.select(
        "signup_id", "error_id", S.format_ts("p_ts").alias("error_ts_str")
    )


@register(
    "events_hourly_gapfilled",
    """
    WITH b AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
             count(*) AS n, sum(value) AS total
      FROM events WHERE user_id < 5 GROUP BY 1, 2
    ),
    r AS (SELECT user_id, min(bucket_us) AS mn, max(bucket_us) AS mx FROM b GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, 3600000000)) AS bucket_us
      FROM r
    ),
    j AS (
      SELECT g.user_id, g.bucket_us,
             coalesce(b.n, 0) AS n, b.total
      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_us = b.bucket_us
    )
    SELECT user_id, bucket_us, CAST(n AS BIGINT) AS n,
           round(last_value(total IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS total_ffill
    FROM j
    """,
    doc="Resampling: dense per-user hourly grid from sparse events — "
    "gap buckets appear with n=0 and the last observed hourly total "
    "forward-filled (pandas resample().ffill() / Timescale "
    "time_bucket_gapfill, which Spark lacks natively). sequence() explode "
    "per key bounds grid size to the key's own span; one join + one "
    "ordered window, no UDFs.",
    tags=("timeseries", "window", "scale"),
)
def events_hourly_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.resample import resample_gapfill

    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 5)
    out = resample_gapfill(ev, "ts", ["user_id"], "value", step_seconds=3600)
    return out.select(
        "user_id", "bucket_us", "n", F.round("total_ffill", 2).alias("total_ffill")
    )


@register(
    "hypertable_daily_rollup",
    """
    SELECT strftime(make_timestamp((epoch_us(ts) // 86400000000) * 86400000000),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
    doc="Hypertable-style continuous aggregate: the DAILY tier rolls up "
    "the HOURLY tier (24 rows/key), never the raw events — the cascade is "
    "exact for algebraic aggregates, and the oracle aggregates straight "
    "from raw to prove it.",
    tags=("agg", "timeseries", "scale"),
)
def hypertable_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import hypertable_rollup

    ev = load(spark, sf_dir, "events")
    tiers = hypertable_rollup(ev, "ts", ["event_type"], "value", ["1 hour", "1 day"])
    daily = tiers["1 day"]
    return daily.select(
        S.format_ts("window_start").alias("window_start"),
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
    )


# ===========================================================================
# Set operations (SURVEY §2.6)
# ===========================================================================


@register(
    "lineitem_union_fragments",
    """
    SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM (
      SELECT * FROM lineitem WHERE l_linenumber <= 3
      UNION ALL
      SELECT * FROM lineitem WHERE l_linenumber > 3
    ) GROUP BY l_linestatus
    """,
    doc="SO1: union-all of fragments then rollup (pd.concat over parquet "
    "fragments, bronze/readSampleDelta.py:52).",
    tags=("setop",),
)
def lineitem_union_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    parts = [li.where(F.col("l_linenumber") <= 3), li.where(F.col("l_linenumber") > 3)]
    return (
        R.union_fragments(parts)
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "order_revenue_cube",
    """
    SELECT COALESCE(c_mktsegment, '<all>') AS segment,
           COALESCE(o_orderstatus, '<all>') AS status,
           count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2)::DOUBLE AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
    doc="CUBE over (segment, status): all four grouping combinations in "
    "one pass (Expand + single shuffle) — the full cross-dimensional "
    "report ROLLUP's hierarchy can't give; subtotals labeled '<all>'.",
    tags=("agg", "cube"),
)
def order_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    return (
        joined.cube("c_mktsegment", "o_orderstatus")
        .agg(F.count("*").alias("n"), money_sum(F.col("o_totalprice")).alias("revenue"))
        .select(
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("segment"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            "n",
            "revenue",
        )
    )


@register(
    "active_user_intersection",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
    doc="Full-row INTERSECT (users who both purchased and signed up) — "
    "set semantics the reference approximated with Python set objects; "
    "compiles to a distinct + semi-join shape.",
    tags=("setop", "intersect"),
)
def active_user_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id")
    signups = ev.where(F.col("event_type") == "signup").select("user_id")
    return purchasers.intersect(signups)


@register(
    "heavy_purchasers_not_heavy_signups",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    GROUP BY user_id HAVING count(*) >= 8
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'signup'
    GROUP BY user_id HAVING count(*) >= 8
    """,
    doc="Full-row EXCEPT over two aggregated cohorts (heavy purchasers "
    "who are not heavy signups) — the distinct set-difference twin of the "
    "key_difference operator, on derived rather than raw sets.",
    tags=("setop", "except"),
)
def heavy_purchasers_not_heavy_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def cohort(etype: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 8)
            .select("user_id")
        )

    return cohort("purchase").subtract(cohort("signup"))  # EXCEPT DISTINCT


@register(
    "customers_without_events",
    """
    SELECT c_custkey AS key FROM customer
    EXCEPT
    SELECT user_id FROM events
    """,
    doc="SO2: set difference on keys (activity_ids - hr_ids, "
    "find_unique_employee.ipynb:90-92).",
    tags=("setop",),
)
def customers_without_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    events = load(spark, sf_dir, "events").select(F.col("user_id").alias("key"))
    return R.key_difference(customer, events, "key")


# ===========================================================================
# KPI / DAX translations (SURVEY §2.4 A7-A9, §2.3 J6)
# ===========================================================================

ACTIVE_EVENT_TYPES = ("click", "view")  # stands in for the "active sport" set
ACTIVE_SEGMENTS = ("AUTOMOBILE", "MACHINERY")  # stands in for active transport


def _qualification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity qualification frame: the A7 SUMMARIZE + A8 flags, with the
    J6 salary lookup decorrelated into a broadcast join."""
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("employee_id"),
        F.col("c_acctbal").alias("salary"),
        F.col("c_mktsegment").alias("segment"),
    )
    counts = kpi.summarize_per_entity(
        load(spark, sf_dir, "events").where(F.col("event_type").isin(*ACTIVE_EVENT_TYPES)),
        ["user_id"],
    ).withColumnRenamed("user_id", "employee_id")
    # No broadcast hint on `counts`: it is a per-user aggregate of the FACT
    # table, so its size scales with user cardinality — broadcasting it is
    # OOM-shaped at 100× users. The preserved (left) side of a left join
    # can't be broadcast, so leave the strategy to AQE.
    joined = customer.join(counts, "employee_id", "left").withColumn(
        "total_line_count", F.coalesce(F.col("total_line_count"), F.lit(0))
    )
    return kpi.with_qualification_flags(
        joined, F.col("segment").isin(*ACTIVE_SEGMENTS)
    )


_QUAL_SQL_CTE = """
    WITH qual AS (
      SELECT c_custkey AS employee_id,
             c_acctbal AS salary,
             CAST(COALESCE(e.n, 0) AS BIGINT)        AS total_line_count,
             COALESCE(e.n, 0) > 5                    AS qualify_sport,
             c_mktsegment IN ('AUTOMOBILE','MACHINERY') AS qualify_commute
      FROM customer LEFT JOIN (
        SELECT user_id, count(*) AS n FROM events
        WHERE event_type IN ('click','view') GROUP BY user_id
      ) e ON c_custkey = e.user_id
    )
"""


@register(
    "user_qualification",
    _QUAL_SQL_CTE
    + """
    SELECT employee_id, total_line_count, qualify_sport, qualify_commute FROM qual
    """,
    doc="A7+A8: SUMMARIZE + QualifySport/QualifyCommute flags "
    "(FormulaePowerBI.txt:2-27).",
    tags=("kpi", "agg", "join"),
)
def user_qualification(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qualification(spark, sf_dir).select(
        "employee_id",
        F.col("total_line_count").cast("long").alias("total_line_count"),
        "qualify_sport",
        "qualify_commute",
    )


@register(
    "wellness_kpis",
    _QUAL_SQL_CTE
    + """
    SELECT CAST(sum(CASE WHEN qualify_sport THEN 5 ELSE 0 END) AS BIGINT) AS total_wellness_days,
           round(sum(CASE WHEN qualify_sport THEN salary * 5 / 251 ELSE 0.0 END), 2) AS total_equiv_salary,
           round(sum(CASE WHEN qualify_commute THEN salary * 0.05 ELSE 0.0 END), 2) AS total_prime_sportive
    FROM qual
    """,
    doc="A9: the three business KPI rollups — wellness days, salary "
    "equivalent, sport bonus (FormulaePowerBI.txt:30-47).",
    tags=("kpi", "agg"),
)
def wellness_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kpi.wellness_totals(_qualification(spark, sf_dir))


# ===========================================================================
# Data-quality rule engine (SURVEY §2.9, §2.2 P5-P8)
# ===========================================================================

EVENT_VALUE_RANGES: dict[str, tuple[float, float]] = {
    "click": (1.0, 450.0),
    "view": (1.0, 450.0),
    "purchase": (5.0, 400.0),
    "signup": (2.0, 480.0),
    "error": (0.5, 489.0),
}
_VALIDATION_NOW = "2024-01-28 00:00:00"


@register(
    "activity_validation",
    """
    SELECT 'future_start_date' AS rule, 'hard' AS severity, event_id AS id
    FROM events WHERE ts > TIMESTAMP '2024-01-28'
    UNION ALL
    SELECT 'low_value', 'hard', event_id
    FROM events WHERE event_type = 'purchase' AND value < 1.0
    UNION ALL
    SELECT 'value_range', 'soft', event_id
    FROM events WHERE
         (event_type = 'click'    AND (value < 1.0 OR value > 450.0))
      OR (event_type = 'view'     AND (value < 1.0 OR value > 450.0))
      OR (event_type = 'purchase' AND (value < 5.0 OR value > 400.0))
      OR (event_type = 'signup'   AND (value < 2.0 OR value > 480.0))
      OR (event_type = 'error'    AND (value < 0.5 OR value > 489.0))
    """,
    doc="P5-P7: the validate_activities rule engine (sport_benefits.py:21-60)"
    " — future-date, below-floor, and per-group range rules evaluated in one "
    "scan; overlap semantics pinned (a row can trip several rules).",
    tags=("quality",),
)
def activity_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    range_violation = F.lit(False)
    for etype, (lo, hi) in EVENT_VALUE_RANGES.items():
        range_violation = F.when(
            (F.col("event_type") == etype) & ((v < lo) | (v > hi)), F.lit(True)
        ).otherwise(range_violation)
    rules = [
        DQ.Rule(
            "future_start_date",
            DQ.HARD,
            F.col("ts") > F.lit(_VALIDATION_NOW).cast("timestamp"),
        ),
        DQ.Rule("low_value", DQ.HARD, (F.col("event_type") == "purchase") & (v < 1.0)),
        DQ.Rule("value_range", DQ.SOFT, range_violation),
    ]
    return DQ.run_rules(ev, rules, id_col="event_id")


# ===========================================================================
# Scalar-function surface (SURVEY §2.7)
# ===========================================================================


@register(
    "time_features",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           epoch_us(ts)                      AS ts_us,
           (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 1000000 AS elapsed_s,
           printf('%02d:%02d:%02d',
                  CAST(floor(value) AS BIGINT) // 3600,
                  (CAST(floor(value) AS BIGINT) % 3600) // 60,
                  CAST(floor(value) AS BIGINT) % 60)  AS dur_hhmmss
    FROM events WHERE event_id < 200
    """,
    doc="F1/F2/F5/F15: µs-epoch conversions, timestamp formatting, elapsed "
    "seconds, hh:mm:ss rendering (redPandaToDeltaLake.py:80-83, "
    "find_unique_employee.ipynb:308-314, gmap_commute.py:178-182).",
    tags=("scalar",),
)
def time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 200)
    anchor = F.lit("2024-01-01 00:00:00").cast("timestamp")
    return ev.select(
        "event_id",
        S.format_ts("ts").alias("ts_str"),
        S.timestamp_to_micros("ts").alias("ts_us"),
        S.elapsed_seconds(anchor, F.col("ts")).alias("elapsed_s"),
        S.hhmmss(F.floor("value")).alias("dur_hhmmss"),
    )


SPORT_LABELS = {
    "click": "Vélo",
    "view": "Marche",
    "purchase": "Natation",
    "signup": "Course à pied",
}


@register(
    "sport_code_mapping",
    """
    SELECT CASE event_type
             WHEN 'click' THEN 'Vélo'
             WHEN 'view' THEN 'Marche'
             WHEN 'purchase' THEN 'Natation'
             WHEN 'signup' THEN 'Course à pied'
             ELSE 'activité sportive'
           END AS label,
           count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="F11: code→label mapping with default (slack_bot/slack_notifier.py:"
    "81-92 sport_emojis / names).",
    tags=("scalar",),
)
def sport_code_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(S.map_code("event_type", SPORT_LABELS, "activité sportive").alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )


@register(
    "slack_messages",
    """
    WITH base AS (
      SELECT event_id,
             user_id,
             CASE event_type
               WHEN 'click' THEN 'Vélo'
               WHEN 'view' THEN 'Marche'
               WHEN 'purchase' THEN 'Natation'
               WHEN 'signup' THEN 'Course à pied'
               ELSE 'activité sportive'
             END AS label,
             CAST(floor(value * 1000) AS BIGINT) AS sec,
             value * 10 AS meters
      FROM events WHERE event_id < 100
    ), dur AS (
      SELECT event_id, user_id, label, meters,
             concat_ws(' et ',
               CASE WHEN sec // 86400 > 0 THEN (sec // 86400)::VARCHAR || ' jour(s)' END,
               CASE WHEN (sec % 86400) // 3600 > 0 THEN ((sec % 86400) // 3600)::VARCHAR || ' heure(s)' END,
               CASE WHEN (sec % 3600) // 60 > 0 THEN ((sec % 3600) // 60)::VARCHAR || ' minute(s)' END
             ) AS d
      FROM base
    )
    SELECT event_id,
           'Utilisateur ' || user_id::VARCHAR || ' a fait ' || label
           || ' pendant ' || (CASE WHEN d = '' THEN 'quelques secondes' ELSE d END)
           || ' (' ||
           (CASE WHEN meters >= 1000.0
                 THEN printf('%.1f', round(meters / 1000.0, 1)) || ' km'
                 ELSE CAST(floor(meters) AS BIGINT)::VARCHAR || ' m' END)
           || ')' AS message
    FROM dur
    """,
    doc="F11-F14: the Slack notification template — French duration "
    "phrasing, distance label, message assembly — as pure column exprs "
    "(slack_bot/slack_notifier.py:65-149).",
    tags=("scalar", "format"),
)
def slack_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 100)
    sec = F.floor(F.col("value") * 1000)
    meters = F.col("value") * 10
    return ev.select(
        "event_id",
        F.concat(
            F.lit("Utilisateur "),
            F.col("user_id").cast("string"),
            F.lit(" a fait "),
            S.map_code("event_type", SPORT_LABELS, "activité sportive"),
            F.lit(" pendant "),
            S.human_duration_fr(sec),
            F.lit(" ("),
            S.distance_label(meters),
            F.lit(")"),
        ).alias("message"),
    )


# ===========================================================================
# Commute analytics (the gold/2test1.py pipeline: F6-F8 + A3/A6)
# ===========================================================================

SEGMENT_TRANSPORT = {
    "AUTOMOBILE": "véhicule thermique/électrique",
    "MACHINERY": "Vélo/Trottinette/Autres",
    "BUILDING": "Transports en commun",
    "FURNITURE": "Marche/running",
    "HOUSEHOLD": "Transports en commun",
}


@register(
    "commute_analytics",
    """
    WITH commute AS (
      SELECT CASE c_mktsegment
               WHEN 'AUTOMOBILE' THEN 'véhicule thermique/électrique'
               WHEN 'MACHINERY' THEN 'Vélo/Trottinette/Autres'
               WHEN 'BUILDING' THEN 'Transports en commun'
               WHEN 'FURNITURE' THEN 'Marche/running'
               WHEN 'HOUSEHOLD' THEN 'Transports en commun'
               ELSE 'autre'
             END AS transport_mode,
             abs(c_acctbal) / 200.0 AS dist_km
      FROM customer
    ), flagged AS (
      SELECT transport_mode, dist_km,
             lower(trim(transport_mode)) IN ('marche/running', 'vélo/trottinette/autres') AS prime_sportive,
             CASE WHEN lower(trim(transport_mode)) = 'marche/running' AND dist_km > 15.0 THEN TRUE
                  WHEN lower(trim(transport_mode)) = 'vélo/trottinette/autres' AND dist_km > 25.0 THEN TRUE
                  ELSE FALSE END AS commute_long
      FROM commute
    )
    SELECT transport_mode,
           count(*) AS n,
           CAST(sum(CASE WHEN prime_sportive THEN 1 ELSE 0 END) AS BIGINT) AS n_prime,
           CAST(sum(CASE WHEN commute_long THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
           round(avg(dist_km), 4) AS avg_km,
           round(100.0 * sum(CASE WHEN prime_sportive THEN 1 ELSE 0 END) / count(*), 4) AS pct_prime
    FROM flagged GROUP BY transport_mode
    """,
    doc="The commute-analytics gold job (gold/2test1.py:44-220): normalize "
    "transport modes (F6), derive Prime_Sportive (F7) and Commute_long (F8),"
    " per-mode report (A3/A6/A10).",
    tags=("kpi", "scalar", "agg"),
)
def commute_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    commute = cust.select(
        S.map_code("c_mktsegment", SEGMENT_TRANSPORT, "autre").alias("transport_mode"),
        (F.abs(F.col("c_acctbal")) / 200.0).alias("dist_km"),
    )
    flagged = commute.select(
        "transport_mode",
        "dist_km",
        S.prime_sportive("transport_mode").alias("prime_sportive"),
        S.commute_long("transport_mode", "dist_km").alias("commute_long"),
    )
    return flagged.groupBy("transport_mode").agg(
        F.count("*").alias("n"),
        F.sum(F.col("prime_sportive").cast("int")).cast("long").alias("n_prime"),
        F.sum(F.col("commute_long").cast("int")).cast("long").alias("n_long"),
        F.round(F.avg("dist_km"), 4).alias("avg_km"),
        F.round(
            100.0 * F.sum(F.col("prime_sportive").cast("int")) / F.count("*"), 4
        ).alias("pct_prime"),
    )


# LLM-pipeline queries (dedup / similarity / text / multimodal) and domain
# ETL queries (generator / CDC / gold / KPIs) register themselves on import;
# kept in sibling modules for readability.
from . import etl_queries, llm_queries  # noqa: E402,F401  (import-for-side-effect)
