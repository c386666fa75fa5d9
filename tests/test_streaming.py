"""Streaming layer tests: CDC parse, exactly-once file-stream ingest,
incremental gold, backlog-compressing notifier (SURVEY §2.8 ST1-ST8).

No Kafka broker in the test environment; the file source stands in for the
topic (same ``value: string`` shape the Kafka source yields)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.sources.generator import (
    synthetic_activities,
    to_cdc_json,
)
from employee_activity_etl_poc_spark.streaming import (
    activity_message,
    bronze_ingest,
    file_cdc_stream,
    incremental_foreach_batch,
    make_notifier,
    parse_cdc_envelope,
    run_to_completion,
)

def fixed_ts():
    return F.lit("2024-06-01 12:00:00").cast("timestamp")


@pytest.fixture(scope="module")
def activities(spark):
    return synthetic_activities(spark, 40, n_employees=10).cache()


def _write_json_batch(df, path: str) -> None:
    lines = [r["value"] for r in df.collect()]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# Envelope parse (P1/ST8/F1) — batch DataFrame, same code path as streaming
# ---------------------------------------------------------------------------


def test_parse_cdc_envelope_roundtrip(spark, activities):
    wire = to_cdc_json(activities)
    parsed = parse_cdc_envelope(wire, processing_ts=fixed_ts())
    assert parsed.columns == [
        "activity_id",
        "employee_id",
        "start_ts",
        "sport_type",
        "distance_m",
        "end_ts",
        "comment",
        "processing_ts",
    ]
    orig = {r["activity_id"]: r for r in activities.collect()}
    back = {r["activity_id"]: r for r in parsed.collect()}
    assert orig.keys() == back.keys()
    some = next(iter(orig))
    for col in ("employee_id", "start_ts", "sport_type", "distance_m", "end_ts"):
        assert orig[some][col] == back[some][col]


def test_parse_cdc_envelope_filters_non_inserts(spark, activities):
    op = F.when(F.col("activity_id") % 4 == 0, F.lit("d")).otherwise(F.lit("c"))
    wire = to_cdc_json(activities, op=op)
    parsed = parse_cdc_envelope(wire, processing_ts=fixed_ts())
    n_total = activities.count()
    n_deletes = activities.where(F.col("activity_id") % 4 == 0).count()
    assert parsed.count() == n_total - n_deletes
    # explicit multi-op subscription keeps them
    both = parse_cdc_envelope(wire, ops=("c", "d"), processing_ts=fixed_ts())
    assert both.count() == n_total


# ---------------------------------------------------------------------------
# Bronze ingest: file stream -> dedup -> checkpointed parquet (ST1-ST4, ST7)
# ---------------------------------------------------------------------------


def test_bronze_ingest_exactly_once_and_dedup(spark, activities, tmp_path):
    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    first = activities.where(F.col("activity_id") <= 25)
    _write_json_batch(to_cdc_json(first), str(src / "batch0.json"))
    # batch1 re-delivers 5 rows (at-least-once transport!) + 15 new ones
    redelivered = activities.where(F.col("activity_id").between(21, 40))
    _write_json_batch(to_cdc_json(redelivered), str(src / "batch1.json"))

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
        # watermark wider than the generator's 1-year event-time span, so
        # the planted "late" batch is within the lateness horizon (rows
        # beyond it are *correctly* dropped — see the horizon test below)
        q = bronze_ingest(stream, str(sink), str(ckpt), watermark=("start_ts", "400 days"))
        run_to_completion(q)

    run_once()
    bronze = spark.read.parquet(str(sink))
    # the 5 redelivered ids landed exactly once
    assert bronze.count() == 40
    assert bronze.select("activity_id").distinct().count() == 40

    # restart with the same checkpoint and no new files: nothing re-processed
    run_once()
    assert spark.read.parquet(str(sink)).count() == 40

    # a late third batch is picked up incrementally from the checkpoint
    late = activities.where(F.col("activity_id") <= 3).withColumn(
        "activity_id", F.col("activity_id") + 1000
    )
    _write_json_batch(to_cdc_json(late), str(src / "batch2.json"))
    run_once()
    assert spark.read.parquet(str(sink)).count() == 43


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKPT_PACKAGE = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_checkpoints_commit_through_filesystem_manager(spark, activities, tmp_path):
    """The session commits ``file:`` checkpoints through the FileSystem-based
    manager (no ``readlink`` fork per renamed file), writes the same layout
    as Spark's default FileContext manager, and resumes a checkpoint that
    manager wrote without re-emitting a row."""
    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def resolved_manager() -> str:
        """The manager class Spark builds for ``ckpt`` under the session conf
        (the state store wraps this one in its checksum manager)."""
        jvm = spark._jvm
        checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        manager = checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(ckpt)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        return manager.getClass().getName().removeprefix(_CKPT_PACKAGE)

    assert resolved_manager() == "FileSystemBasedCheckpointFileManager"

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
        q = bronze_ingest(stream, str(sink), str(ckpt), watermark=("start_ts", "400 days"))
        run_to_completion(q)
        return spark.read.parquet(str(sink)).count()

    _write_json_batch(
        to_cdc_json(activities.where(F.col("activity_id") <= 25)), str(src / "batch0.json")
    )
    session_manager = spark.conf.get(_CKPT_MANAGER_KEY)
    spark.conf.set(_CKPT_MANAGER_KEY, _CKPT_PACKAGE + "FileContextBasedCheckpointFileManager")
    try:
        assert resolved_manager() == "FileContextBasedCheckpointFileManager"
        assert run_once() == 25
    finally:
        spark.conf.set(_CKPT_MANAGER_KEY, session_manager)

    # batch1 re-delivers 5 of batch0's ids: the resumed dedup state drops them
    _write_json_batch(
        to_cdc_json(activities.where(F.col("activity_id").between(21, 40))),
        str(src / "batch1.json"),
    )
    assert resolved_manager() == "FileSystemBasedCheckpointFileManager"
    assert run_once() == 40
    bronze = spark.read.parquet(str(sink))
    assert bronze.select("activity_id").distinct().count() == 40

    partitions = [p for p in (ckpt / "state" / "0").iterdir() if p.name.isdigit()]
    assert len(partitions) == 4  # shuffle_partitions of the test session
    # version 1 committed by the FileContext manager, version 2 by the
    # FileSystem one: each with Spark's checksum file beside the delta
    for part in partitions:
        for version in (1, 2):
            assert (part / f"{version}.delta").is_file()
            assert (part / f"{version}.delta.crc").is_file()


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """Event-time rows older than the watermark horizon are dropped by the
    dedup state — the documented late-data policy (the reference had none;
    SURVEY §2.8 notes we add watermark semantics)."""
    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def act(aid: int, day: str):
        return spark.createDataFrame(
            [(aid, 1, f"{day} 10:00:00", "Tennis", None, f"{day} 11:00:00", None)],
            "activity_id long, employee_id long, start_s string, sport_type string,"
            " distance_m long, end_s string, comment string",
        ).select(
            "activity_id",
            "employee_id",
            F.col("start_s").cast("timestamp").alias("start_ts"),
            "sport_type",
            "distance_m",
            F.col("end_s").cast("timestamp").alias("end_ts"),
            "comment",
        )

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
        run_to_completion(
            bronze_ingest(
                stream, str(sink), str(ckpt), watermark=("start_ts", "30 days")
            )
        )

    _write_json_batch(to_cdc_json(act(1, "2024-12-31")), str(src / "b0.json"))
    run_once()  # watermark persisted in checkpoint: Dec 31 - 30d = Dec 1
    # next run: one row beyond the horizon (June, dropped) + one within
    # (Dec 15, kept)
    _write_json_batch(
        to_cdc_json(act(2, "2024-06-01").unionByName(act(3, "2024-12-15"))),
        str(src / "b1.json"),
    )
    run_once()
    kept = sorted(
        r["activity_id"] for r in spark.read.parquet(str(sink)).collect()
    )
    assert kept == [1, 3]


# ---------------------------------------------------------------------------
# Incremental gold via Trigger.AvailableNow + foreachBatch (ST6)
# ---------------------------------------------------------------------------


def test_incremental_gold_foreach_batch(spark, activities, tmp_path):
    bronze_dir = tmp_path / "bronze"
    gold_dir = tmp_path / "gold"
    ckpt = tmp_path / "gold_ckpt"
    activities.withColumn("processing_ts", fixed_ts()).write.parquet(str(bronze_dir))

    dim = spark.createDataFrame(
        [(i, f"BU{i % 3}") for i in range(1, 11)], ["employee_id", "bu"]
    )

    def transform(batch):
        return batch.join(F.broadcast(dim), "employee_id", "left").withColumn(
            "gold_processing_ts", fixed_ts()
        )

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(str(gold_dir))

    source = spark.readStream.schema(
        spark.read.parquet(str(bronze_dir)).schema
    ).parquet(str(bronze_dir))
    run_to_completion(
        incremental_foreach_batch(source, transform, sink, str(ckpt))
    )
    gold = spark.read.parquet(str(gold_dir))
    assert gold.count() == 40
    assert "bu" in gold.columns and "gold_processing_ts" in gold.columns
    # incremental: second run with the same checkpoint adds nothing
    source2 = spark.readStream.schema(gold.drop("bu", "gold_processing_ts").schema).parquet(str(bronze_dir))
    run_to_completion(
        incremental_foreach_batch(source2, transform, sink, str(ckpt))
    )
    assert spark.read.parquet(str(gold_dir)).count() == 40


# ---------------------------------------------------------------------------
# Notifier: message exprs + batch-0 backlog compression (S14/ST5/W3)
# ---------------------------------------------------------------------------


def test_activity_message_shape(spark, activities):
    msgs = activities.select(
        "activity_id", activity_message().alias("message")
    ).collect()
    by_id = {r["activity_id"]: r["message"] for r in msgs}
    acts = {r["activity_id"]: r for r in activities.collect()}
    for aid, m in by_id.items():
        assert "a fait" in m and "pendant" in m and "👏" in m
        assert acts[aid]["sport_type"] in m
        if acts[aid]["comment"]:
            assert acts[aid]["comment"] in m
        if acts[aid]["distance_m"] is None:
            assert " m)" not in m and " km)" not in m


def test_notifier_backlog_compression(spark, activities):
    sent: list[str] = []
    notifier = make_notifier(sent.append, max_buffer_size=5)
    batch = activities.select(
        "start_ts", activity_message().alias("message")
    )
    n = batch.count()

    notifier(batch, 0)  # startup backlog: summary + newest 5, oldest first
    assert len(sent) == 6
    assert f"{n - 5} activité(s)" in sent[0]
    newest5 = [
        r["message"]
        for r in batch.orderBy(F.col("start_ts").desc()).limit(5).collect()
    ]
    assert sent[1:] == list(reversed(newest5))

    sent.clear()
    live = batch.limit(3)
    notifier(live, 1)  # live batch: everything, in time order
    assert len(sent) == 3


def test_notifier_live_path_streams_in_order(spark, activities):
    """batch_id > 0 sends EVERY row in time order without collect(): the
    toLocalIterator path (r5 fix — an unthrottled backlog batch must not
    materialize whole on the driver) preserves the sort across multiple
    partitions."""
    sent: list[str] = []
    notifier = make_notifier(sent.append, max_buffer_size=5)
    batch = activities.select(
        "start_ts", activity_message().alias("message")
    ).repartition(7)  # ordering must survive a multi-partition frame
    expected = [
        r["message"] for r in batch.orderBy("start_ts").collect()
    ]
    notifier(batch, 3)
    assert sent == expected


def test_tumbling_window_agg_under_readstream(spark, activities, tmp_path):
    """The windows operators run unchanged under Structured Streaming with
    a watermark (append mode emits a window once the watermark passes its
    end; availableNow drains everything, so all windows finalize)."""
    from employee_activity_etl_poc_spark.operators.windows import tumbling_agg

    src = tmp_path / "topic"
    sink = tmp_path / "win"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_json_batch(to_cdc_json(activities), str(src / "b0.json"))

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src))).withWatermark(
            "start_ts", "1 hour"
        )
        windowed = tumbling_agg(
            stream, "start_ts", "30 days", [], [F.count("*").alias("n")]
        )
        q = (
            windowed.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .option("path", str(sink))
            .trigger(availableNow=True)
            .start()
        )
        run_to_completion(q)

    run_once()
    # append mode withholds the final window (watermark hasn't passed its
    # end); a far-future sentinel row in a second run flushes it
    sentinel = activities.limit(1).withColumn(
        "start_ts", F.lit("2026-01-01 00:00:00").cast("timestamp")
    ).withColumn("activity_id", F.lit(99999))
    _write_json_batch(to_cdc_json(sentinel), str(src / "b1.json"))
    run_once()

    out = spark.read.parquet(str(sink))
    batch = tumbling_agg(
        activities, "start_ts", "30 days", [], [F.count("*").alias("n")]
    )
    stream_rows = {
        (r["window_start"], r["n"]) for r in out.select("window_start", "n").collect()
    }
    batch_rows = {
        (r["window_start"], r["n"]) for r in batch.select("window_start", "n").collect()
    }
    assert stream_rows == batch_rows and stream_rows


def test_notifier_small_backlog_no_summary(spark, activities):
    sent: list[str] = []
    notifier = make_notifier(sent.append, max_buffer_size=5)
    batch = activities.limit(4).select("start_ts", activity_message().alias("message"))
    notifier(batch, 0)
    assert len(sent) == 4  # no skip summary when backlog fits


def test_quarantine_keeps_malformed_rows(spark, activities):
    from employee_activity_etl_poc_spark.streaming.cdc import (
        parse_cdc_with_quarantine,
    )

    good = to_cdc_json(activities.limit(10))
    bad = spark.createDataFrame(
        [("this is not json",), ('{"payload": {"op": "c"}}',)], ["value"]
    )
    out = parse_cdc_with_quarantine(
        good.unionByName(bad), processing_ts=fixed_ts()
    )
    rows = out.collect()
    quarantined = [r for r in rows if r["quarantined"]]
    clean = [r for r in rows if not r["quarantined"]]
    assert len(clean) == 10 and len(quarantined) == 2
    assert {r["raw_value"] for r in quarantined} == {
        "this is not json",
        '{"payload": {"op": "c"}}',
    }
    for r in clean:
        assert r["raw_value"] is None and r["activity_id"] is not None


def test_stream_static_dim_join(spark, activities, tmp_path):
    """Stream-static join: the streaming bronze rows enrich against a
    static (batch) dim inside the stream — the in-flight gold path."""
    from employee_activity_etl_poc_spark.sources.generator import synthetic_employees

    src = tmp_path / "topic"
    sink = tmp_path / "enriched"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_json_batch(to_cdc_json(activities), str(src / "b0.json"))

    dim = synthetic_employees(spark, 10)
    stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
    enriched = stream.join(F.broadcast(dim), "employee_id", "left")
    q = (
        enriched.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .option("path", str(sink))
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    out = spark.read.parquet(str(sink))
    assert out.count() == activities.count()
    assert out.where(F.col("transport_mode").isNull()).count() == 0


def test_notifier_attached_to_stream(spark, activities, tmp_path):
    """End-to-end: file stream -> parse -> message exprs -> foreachBatch
    notifier; the first micro-batch is compressed, later ones are live."""
    from employee_activity_etl_poc_spark.streaming import activity_message

    src = tmp_path / "topic"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    first = activities.where(F.col("activity_id") <= 30)
    _write_json_batch(to_cdc_json(first), str(src / "b0.json"))

    sent: list[str] = []
    notifier = make_notifier(sent.append, max_buffer_size=5)

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
        msgs = stream.select("start_ts", activity_message().alias("message"))
        q = (
            msgs.writeStream.foreachBatch(notifier)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        run_to_completion(q)

    run_once()
    assert len(sent) == 6  # skip summary + newest 5
    assert "25 activité(s)" in sent[0]

    sent.clear()
    late = activities.where(F.col("activity_id") > 30)
    _write_json_batch(to_cdc_json(late), str(src / "b1.json"))
    run_once()  # restart: batch_id advances, so this is live traffic
    assert len(sent) == late.count()


def test_apply_cdc_batch_folds_ops(spark):
    from employee_activity_etl_poc_spark.streaming.cdc import apply_cdc_batch

    snapshot = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["activity_id", "v", "x"]
    )
    changes = spark.createDataFrame(
        [
            ("u", 100, 2, "B", 21),   # update row 2
            ("d", 101, 3, None, None),  # delete row 3
            ("c", 102, 4, "d", 40),   # insert row 4
            ("u", 103, 4, "D", 41),   # ...then update it in the same batch
            ("c", 104, 5, "e", 50),
            ("d", 105, 5, None, None),  # insert then delete -> absent
        ],
        ["op", "seq", "activity_id", "v", "x"],
    )
    out = sorted(
        (r["activity_id"], r["v"], r["x"])
        for r in apply_cdc_batch(snapshot, changes, "activity_id").collect()
    )
    assert out == [(1, "a", 10), (2, "B", 21), (4, "D", 41)]
    # bootstrap (no snapshot): inserts/updates only
    boot = sorted(
        (r["activity_id"], r["v"])
        for r in apply_cdc_batch(None, changes, "activity_id").collect()
    )
    assert boot == [(2, "B"), (4, "D")]


def test_fold_accents(spark):
    from employee_activity_etl_poc_spark.functions.scalars import fold_accents

    df = spark.createDataFrame(
        [("  Vélo/Trottinette  ",), ("MARCHE/running",), ("déjà vu É",)], ["s"]
    )
    out = [r["o"] for r in df.select(fold_accents("s").alias("o")).collect()]
    assert out == ["velo/trottinette", "marche/running", "deja vu e"]


def test_session_window_agg_under_readstream(spark, tmp_path):
    """Session windows run under readStream + watermark; append mode emits
    a session once the watermark passes its end (sentinel flushes)."""
    from employee_activity_etl_poc_spark.operators.windows import session_agg

    src = tmp_path / "topic"
    sink = tmp_path / "sess"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def act(aid, emp, t):
        return spark.createDataFrame(
            [(aid, emp, t, "Tennis", None, t, None)],
            "activity_id long, employee_id long, s string, sport_type string,"
            " distance_m long, e string, comment string",
        ).select(
            "activity_id", "employee_id",
            F.col("s").cast("timestamp").alias("start_ts"),
            "sport_type", "distance_m",
            F.col("e").cast("timestamp").alias("end_ts"),
            "comment",
        )

    batch = (
        act(1, 7, "2024-06-01 10:00:00")
        .unionByName(act(2, 7, "2024-06-01 10:30:00"))  # same session (gap<1h)
        .unionByName(act(3, 7, "2024-06-01 13:00:00"))  # new session
        .unionByName(act(4, 9, "2024-06-01 10:10:00"))  # other key
    )
    _write_json_batch(to_cdc_json(batch), str(src / "b0.json"))
    _write_json_batch(  # sentinel far in the future flushes all sessions
        to_cdc_json(act(99, 1, "2026-01-01 00:00:00")), str(src / "b1.json")
    )

    def run_once():
        stream = parse_cdc_envelope(file_cdc_stream(spark, str(src))).withWatermark(
            "start_ts", "1 hour"
        )
        sessions = session_agg(
            stream, "start_ts", "1 hour", ["employee_id"], [F.count("*").alias("n")]
        )
        q = (
            sessions.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .option("path", str(sink))
            .trigger(availableNow=True)
            .start()
        )
        run_to_completion(q)

    run_once()
    run_once()  # second run processes the sentinel file batch
    out = {
        (r["employee_id"], str(r["session_start"]), r["n"])
        for r in spark.read.parquet(str(sink)).collect()
        if r["employee_id"] != 1
    }
    assert out == {
        (7, "2024-06-01 10:00:00", 2),
        (7, "2024-06-01 13:00:00", 1),
        (9, "2024-06-01 10:10:00", 1),
    }


def _data_batches(progress):
    """The micro-batches of a query's recent progress that read rows."""
    return [p for p in progress if p.get("numInputRows")]


def test_streaming_progress_metrics(spark, activities, tmp_path):
    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_json_batch(to_cdc_json(activities), str(src / "b0.json"))

    stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
    q = bronze_ingest(
        stream, str(sink), str(ckpt), watermark=("start_ts", "400 days")
    )
    try:
        q.awaitTermination(60)
    except Exception:
        pass
    progress = q.recentProgress
    run_to_completion(q)

    data_batches = _data_batches(progress)
    assert sum(p["numInputRows"] for p in data_batches) == activities.count()
    assert len(progress) >= 1
    assert data_batches and data_batches[0]["durationMs"]["triggerExecution"] > 0
    # the dedup operator reports its state
    assert max(
        (p.get("stateOperators") or [{}])[0].get("numRowsTotal") or 0
        for p in progress
    ) == activities.count()


def test_processing_time_trigger_multi_batch(spark, activities, tmp_path):
    """ST2: a long-running processingTime trigger consumes files across
    SEVERAL micro-batches (the reference's 5-minute cadence,
    spark_consumer/spark_consumer.py:34-38, shrunk to 1 s), picks up data
    arriving between triggers, and stops cleanly with exactly-once output."""
    import time

    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    first = activities.where(F.col("activity_id") <= 20)
    second = activities.where(F.col("activity_id") > 20)
    _write_json_batch(to_cdc_json(first), str(src / "b0.json"))

    stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
    q = bronze_ingest(
        stream,
        str(sink),
        str(ckpt),
        watermark=("start_ts", "400 days"),
        available_now=False,
        processing_time="1 seconds",
    )

    def wait_rows(n, deadline_s=90):
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            if sum(p["numInputRows"] for p in _data_batches(q.recentProgress)) >= n:
                return
            time.sleep(0.5)
        raise AssertionError(f"did not ingest {n} rows in {deadline_s}s")

    try:
        wait_rows(20)
        # second file lands BETWEEN triggers -> consumed by a later batch
        _write_json_batch(to_cdc_json(second), str(src / "b1.json"))
        wait_rows(40)
    finally:
        q.stop()

    data_batches = _data_batches(q.recentProgress)
    assert sum(p["numInputRows"] for p in data_batches) == 40
    assert len(data_batches) >= 2, "expected the two files in separate micro-batches"

    bronze = spark.read.parquet(str(sink))
    assert bronze.count() == 40
    assert bronze.select("activity_id").distinct().count() == 40


def test_dedup_within_watermark_collapses_restamped_resends(spark, tmp_path):
    """dropDuplicatesWithinWatermark (within_watermark=True): a re-send of
    the same activity with a RE-STAMPED event time still collapses to one
    bronze row — the case plain dropDuplicates on the key also handles,
    but with state keyed on first-seen event time; the modern API expires
    that state by the watermark instead of holding it forever."""
    src = tmp_path / "topic"
    sink = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def act(aid: int, ts: str):
        return spark.createDataFrame(
            [(aid, 1, f"{ts}", "Tennis", None, f"{ts}", None)],
            "activity_id long, employee_id long, start_s string, sport_type string,"
            " distance_m long, end_s string, comment string",
        ).select(
            "activity_id",
            "employee_id",
            F.col("start_s").cast("timestamp").alias("start_ts"),
            "sport_type",
            "distance_m",
            F.col("end_s").cast("timestamp").alias("end_ts"),
            "comment",
        )

    batch = (
        act(1, "2024-06-01 10:00:00")
        # re-send of activity 1, re-stamped 5 minutes later
        .unionByName(act(1, "2024-06-01 10:05:00"))
        .unionByName(act(2, "2024-06-01 10:01:00"))
    )
    _write_json_batch(to_cdc_json(batch), str(src / "b0.json"))
    stream = parse_cdc_envelope(file_cdc_stream(spark, str(src)))
    q = bronze_ingest(
        stream, str(sink), str(ckpt),
        watermark=("start_ts", "1 hour"), within_watermark=True,
    )
    run_to_completion(q)
    rows = spark.read.parquet(str(sink)).collect()
    assert sorted(r["activity_id"] for r in rows) == [1, 2]
