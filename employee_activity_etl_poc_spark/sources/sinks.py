"""Batch sinks — SURVEY §2.1 S3-S5, S8, S11.

The reference appends 10-row pandas batches to Delta
(``bronze/redPandaToDeltaLake.py:48-65``) — the classic small-file problem —
and rewrites whole CSVs per run (``gold/bronzeToGold2.py:193-196``). Here
sinks are plain DataFrame writers; partitioning by the processing date
column (which the reference created for exactly this purpose,
``gold/bronzeToGold.py:183``) keeps 100 TB tables prunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .readers import delta_available


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """S3/S4/S5: Delta sink (append / overwrite / append+mergeSchema,
    ``gold/bronzeToGold2.py:171-187``). Parquet fallback without the jar
    (schema evolution then relies on ``mergeSchema`` at read time).
    """
    fmt = "delta" if delta_available(df.sparkSession) else "parquet"
    writer = df.write.format(fmt).mode(mode)
    if merge_schema and fmt == "delta":
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: CSV mirror of a gold table (``gold/bronzeToGold.py:192``)."""
    df.write.mode(mode).option("header", "true").csv(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions present
    in ``df`` (dynamic partitionOverwriteMode), leaving every other
    partition untouched — re-running a day's gold job replaces that day,
    never truncates the table (static overwrite's failure mode).

    Conf is set/restored around the write; on Delta use
    ``replaceWhere`` for the same semantics transactionally."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    try:
        spark.conf.set(key, "dynamic")
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
    mode: str = "overwrite",
) -> None:
    """Export a corpus as ``n_shards`` deterministic key-hashed shards
    (``shard=K/`` hive partitions) — the layout a training loader consumes
    (one worker per shard, shard membership stable across re-exports so
    resumed runs see the same data order sources).

    ``repartition(n_shards, shard)`` before ``partitionBy`` so each shard
    is written by exactly the tasks owning it — without it every task can
    hold a file per shard open (the small-file/open-handles blow-up at
    1000 executors x 1024 shards). Shard-size skew is bounded by the hash;
    within-shard file count scales with data volume, not task count."""
    from ..operators.sampling import assign_shards

    sharded = assign_shards(df, key_col, n_shards, salt)
    (
        sharded.repartition(n_shards, "shard")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Adds ``_z``: the Morton (Z-order) interleave of the columns'
    normalized ranks — rows close in ALL dimensions get close z-values.

    Per column: one global min/max aggregate (driver scalars), normalize
    to a ``bits``-bit bucket, then interleave bit i of column j into
    position ``i*n_cols + j``. All column expressions — no UDF, no extra
    shuffle beyond the caller's writes."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    n_cols = len(cols)
    max_bucket = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(max_bucket),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * max_bucket),
        ).cast("long")
        for i in range(bits):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n_cols + j)
    return df.withColumn("_z", z)


def hilbert_value(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Adds ``_h``: the Hilbert-curve index of the two columns' normalized
    ranks — strictly better locality than the Morton interleave
    (:func:`zorder_value`): consecutive Hilbert indices are ALWAYS
    adjacent cells, so a contiguous index range (= one output file under
    range partitioning) covers a more compact region, i.e. tighter
    per-file min/max bounds. Two dimensions only (the standard xy→d
    construction); use Morton for 3+.

    Computed in an Arrow-vectorized pandas UDF: the per-bit
    rotate/reflect state machine MUTATES (x, y) each level, so a pure
    column-expression unrolling doubles the expression tree per bit
    (6^bits nodes — Catalyst planning, not execution, becomes the
    bottleneck; measured hung at bits=8). numpy runs the same 8-iteration
    loop vectorized over the batch — the documented exception to the
    no-UDF rule: per-row iterative state machines."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if len(cols) != 2:
        raise ValueError("hilbert_value is 2-D; use zorder_value for other arities")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    max_bucket = (1 << bits) - 1
    bounds = [
        (stats[f"mn_{c}"], (stats[f"mx_{c}"] - stats[f"mn_{c}"]) or 1.0)
        for c in cols
    ]

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's eval-type inference rejects; hint-less defaults to
    # the scalar Series->Series eval type we want
    @pandas_udf("long")
    def _h(xs, ys):
        import numpy as np

        def bucket(v: pd.Series, mn: float, span: float) -> "np.ndarray":
            b = np.floor((v.to_numpy(dtype=np.float64) - mn) / span * max_bucket)
            return np.minimum(b, max_bucket).astype(np.int64)

        x = bucket(xs, *bounds[0])
        y = bucket(ys, *bounds[1])
        d = np.zeros_like(x)
        s = 1 << (bits - 1)
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            # rotate quadrant where ry == 0 (reflect when rx == 1, swap)
            rot = ry == 0
            refl = rot & (rx == 1)
            x_r = np.where(refl, s - 1 - x, x)
            y_r = np.where(refl, s - 1 - y, y)
            x, y = np.where(rot, y_r, x_r), np.where(rot, x_r, y_r)
            s >>= 1
        return pd.Series(d)

    return df.withColumn("_h", _h(F.col(cols[0]), F.col(cols[1])))


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """:func:`write_zordered` with the Hilbert index — same API, tighter
    per-file bounding boxes in 2-D (every contiguous index range is a
    connected region; Morton ranges jump)."""
    hdf = hilbert_value(df, cols, bits)
    (
        hdf.repartitionByRange(n_files, "_h")
        .sortWithinPartitions("_h")
        .drop("_h")
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Parquet write clustered by Z-order over ``cols`` — the plain-
    parquet equivalent of Delta ``OPTIMIZE ZORDER BY``: each output file
    covers a small hyper-rectangle of the column space, so row-group
    min/max statistics prune scans filtered on ANY of the columns (a
    single-column sort prunes only its own column; Z-order prunes all
    dimensions at ~1/2^(bits shared) selectivity each).

    ``repartitionByRange(_z)`` gives contiguous z-ranges per file (range
    exchange samples the z distribution); the within-partition sort costs
    nothing extra at write time and tightens per-row-group stats."""
    zdf = zorder_value(df, cols, bits)
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction (the reference's 10-records-per-commit bronze
    produced one file per ~10 rows — ``bronze/redPandaToDeltaLake.py:136``;
    OPTIMIZE on Delta, this rewrite on plain parquet).

    Rewrites the table into ``ceil(rows / target_rows_per_file)`` files via
    a staging directory and :func:`swap_staged`; a crash mid-swap is
    repaired by the next call's :func:`recover_staged_swap`. Returns the
    new file count."""
    import math

    recover_staged_swap(spark, path)
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(staging_path(path))
    swap_staged(spark, path)
    return n_files


# Staged directory swap, shared by every store, table and model/index
# artifact the engine rewrites in place. The suffixes are the ingest
# stores' original ones, so a backup stranded by an older build still
# recovers.
_STAGING = "__pruning"
_BACKUP = "__pre_prune"


def staging_path(path: str) -> str:
    """The directory a rewrite of ``path`` writes into before
    :func:`swap_staged` moves it live."""
    return path.rstrip("/") + _STAGING


def _swap_paths(spark, path: str):
    """(FileSystem, live, staging, backup) Hadoop paths for ``path``,
    resolved against the session's Hadoop conf — the filesystem Spark's
    own writes land on, local or not."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    live = path.rstrip("/")
    fs = Path(live).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, Path(live), Path(live + _STAGING), Path(live + _BACKUP)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise IOError(
            f"swap failed: rename({src.toString()} -> {dst.toString()}) "
            "returned false on " + fs.getUri().toString()
        )


def swap_staged(spark, path: str) -> None:
    """Replace the directory ``path`` with :func:`staging_path(path)
    <staging_path>`: rename live → backup, staging → live, then delete
    the backup. A crash between any two steps leaves either the live
    directory or its backup in place, which :func:`recover_staged_swap`
    turns back into a consistent state. Raises ``IOError`` when the
    filesystem refuses a rename."""
    fs, live, staging, backup = _swap_paths(spark, path)
    _rename(fs, live, backup)
    _rename(fs, staging, live)
    fs.delete(backup, True)


def recover_staged_swap(spark, path: str) -> bool:
    """Undo whatever a crashed :func:`swap_staged` left behind: a backup
    with no live directory is restored (crash between the renames), a
    backup next to a live directory is dropped (crash before the final
    delete), and leftover staging output is always discarded (the
    rewrite simply re-runs). Returns whether ``path`` exists afterwards."""
    fs, live, staging, backup = _swap_paths(spark, path)
    if fs.exists(backup):
        if fs.exists(live):
            fs.delete(backup, True)
        else:
            _rename(fs, backup, live)
    if fs.exists(staging):
        fs.delete(staging, True)
    return bool(fs.exists(live))


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """S11: JDBC sink (``to_sql(method='multi')`` at
    ``import_to_postgre.ipynb:71-79``; the streaming variant is
    ``streaming/ingest.py::incremental_foreach_batch`` with this function
    as the per-batch sink — the exact shape of the reference's Spark
    prototype at ``spark_consumer/spark_consumer.py:25-38``)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
