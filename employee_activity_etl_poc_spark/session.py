"""SparkSession factory.

The reference builds ad-hoc sessions per script (e.g. its Spark prototype at
``bronze/test7.py:48-56`` and ``spark_consumer/spark_consumer.py:5-9``); we
centralize one factory with scale-aware defaults:

- AQE on (runtime re-plan, skew-join handling, partition coalescing) — the
  100 TB story relies on it.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is overridden per-job (or left to AQE).
- Session timezone pinned to UTC: the reference's µs-epoch conversions used
  machine-local time (``bronze/redPandaToDeltaLake.py:80-83``) — we fix UTC
  and document the deliberate divergence (SURVEY §7 risk register).
- Arrow enabled for any pandas-interop path (Pandas UDFs, toPandas).
- Streaming checkpoints go through Spark's ``FileSystemBasedCheckpointFileManager``
  on every master. The default FileContext manager commits each
  checkpoint file with ``AbstractFileSystem.renameInternal``, which asks
  ``getFileLinkStatus``; on a ``file:`` path without libhadoop (pip PySpark
  ships none) Hadoop answers that by forking a ``readlink`` process per file.
  That covers the offset, commit and source/sink metadata logs and every
  state-store delta file and its checksum file, so the forks bound each
  micro-batch's commit. The FileSystem manager renames through
  ``FileSystem.rename`` (no link lookup) and writes the same checkpoint
  layout, so a checkpoint written by either manager resumes under the
  other. ``spark.sql.streaming.checkpointFileManagerClass`` is an internal
  Spark conf, and the class path is the one Spark 4.1 ships (package
  ``org.apache.spark.sql.execution.streaming.checkpointing``); on another
  Spark version re-check it, or every streaming query fails when it opens
  its checkpoint.
  ``tests/test_streaming.py::test_checkpoints_commit_through_filesystem_manager``
  fails if the class Spark resolves is not this one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local core budget; the driver exports SPARK_GRAFT_CPUS."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def apply_engine_conf(
    builder, shuffle_partitions: int | None = None
):
    """Apply the engine's session conf to ANY builder — shared by the
    local singleton (:func:`get_spark`) and alternate masters (e.g.
    ``tools/cluster_check.py``'s local-cluster parity run), so a
    different deployment mode can never silently drop a correctness-
    relevant knob (UTC, nanos handling, Arrow)."""
    n_shuffle = shuffle_partitions or default_parallelism()
    return (
        builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce tiny shuffles) even for plans that feed
        # or read the DataFrame cache — without this, iterative operators
        # that persist per round (connected components) run every round at
        # full spark.sql.shuffle.partitions width no matter how small the
        # frontier is.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Iterative operators build plans whose STRING doubles per round
        # (each round references the cached previous round twice), so an
        # uncapped explainString — AQE logs one per re-plan — can OOM the
        # driver heap even though execution is cheap (the cache cuts real
        # recompute). Cap plan-string building engine-wide; 8 MB keeps
        # every real explain intact and truncates only the degenerate ones.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Parquet scans: keep splits big enough that sf0.1 doesn't fragment,
        # small enough that a 100 TB table still yields bounded partitions.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The driver's events.parquet stores ts as TIMESTAMP(NANOS), which
        # Spark cannot map to TimestampType; read the raw int64 and convert
        # ns->µs in the loader (sources/readers.py::load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Current testdata stores tz-naive timestamp[us]; read as LTZ (UTC
        # session tz) rather than TIMESTAMP_NTZ so µs-epoch functions and
        # the DuckDB oracle agree (sources/readers.py::_ensure_session_conf).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Commit streaming checkpoints without a readlink fork per file
        # (module docstring; internal conf, Spark 4.1 class path).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )


def get_spark(
    app_name: str = "employee_activity_etl_poc_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local mode is single-JVM; on a cluster the same conf applies minus the
    master override. Every knob is a public Spark conf except the
    checkpoint file manager class (see the module docstring).
    """
    cores = default_parallelism()
    builder = apply_engine_conf(
        SparkSession.builder.appName(app_name).master(f"local[{cores}]"),
        shuffle_partitions,
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
