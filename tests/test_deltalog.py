"""Jar-free Delta transaction log (sources/deltalog.py): commits,
overwrite tombstones, time travel, partitioned layout, checkpoints,
and the create-if-absent concurrency guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.sources.deltalog import (
    _existing_versions,
    read_delta_pylog,
    write_delta_pylog,
)
from employee_activity_etl_poc_spark.sources.readers import read_delta


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    a = spark.range(0, 5).select(F.col("id"), (F.col("id") * 10).alias("v"))
    b = spark.range(5, 8).select(F.col("id"), (F.col("id") * 10).alias("v"))
    c = spark.range(100, 102).select(F.col("id"), (F.col("id") * 10).alias("v"))
    assert write_delta_pylog(a, path) == 0
    assert write_delta_pylog(b, path) == 1
    assert _rows(read_delta_pylog(spark, path)) == _rows(a.unionByName(b))
    # overwrite tombstones every prior file in ONE commit
    assert write_delta_pylog(c, path, mode="overwrite") == 2
    assert _rows(read_delta_pylog(spark, path)) == _rows(c)
    # a naive directory scan would see all three batches; the log must not
    n_files = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert n_files >= 3  # tombstoned files still on disk (vacuum's job)
    # time travel
    assert _rows(read_delta_pylog(spark, path, version_as_of=0)) == _rows(a)
    assert _rows(read_delta_pylog(spark, path, version_as_of=1)) == _rows(
        a.unionByName(b)
    )
    # readers.read_delta routes to the pylog reader when a log exists
    assert _rows(read_delta(spark, path)) == _rows(c)


def test_partitioned_table_recovers_partition_columns(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    write_delta_pylog(df, path, partition_by=["p"])
    back = read_delta_pylog(spark, path)
    assert set(back.columns) == {"id", "p"}
    assert _rows(back.select("id", "p")) == _rows(df)


def test_checkpoint_compaction_and_read(spark, tmp_path):
    path = str(tmp_path / "ctbl")
    for i in range(6):
        df = spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), F.lit(i).alias("batch")
        )
        write_delta_pylog(df, path, checkpoint_interval=5)
    # checkpoint written at version 5; reader replays ckpt + tail
    assert os.path.exists(
        os.path.join(path, "_delta_log", f"{5:020d}.checkpoint.pylog.parquet")
    )
    assert read_delta_pylog(spark, path).count() == 60
    # state after checkpoint matches full-JSON replay (time travel still
    # replays JSONs only and must agree at the checkpointed version)
    assert read_delta_pylog(spark, path, version_as_of=5).count() == 60


def test_concurrent_commit_conflicts_loudly(spark, tmp_path, monkeypatch):
    """A true race: both writers enumerate the same latest version; the
    second open('x') on the commit file must raise, not overwrite."""
    from employee_activity_etl_poc_spark.sources import deltalog as DL

    path = str(tmp_path / "xtbl")
    df = spark.range(3).select(F.col("id"))
    write_delta_pylog(df, path)
    # racing writer lands version 1 AFTER this writer enumerated versions
    real = DL._existing_versions

    def stale_view(p):
        versions = real(p)
        log = os.path.join(path, "_delta_log", f"{1:020d}.json")
        if not os.path.exists(log):
            open(log, "w").write('{"commitInfo": {"operation": "RACE"}}\n')
        return [v for v in versions if v == 0]

    monkeypatch.setattr(DL, "_existing_versions", stale_view)
    with pytest.raises(FileExistsError):
        write_delta_pylog(df, path)
    monkeypatch.undo()
    assert _existing_versions(path) == [0, 1]


def test_delta_merge_upsert_and_version_diff(spark, tmp_path):
    """Jar-free MERGE commits one overwrite version; CDF-lite diff
    between versions reports exactly the merge's effects."""
    from employee_activity_etl_poc_spark.sources.deltalog import (
        delta_merge_upsert,
        delta_version_diff,
    )

    path = str(tmp_path / "mtbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, t string, v double"
    )
    write_delta_pylog(base, path)
    updates = spark.createDataFrame(
        [(2, "b", 99.0), (4, "d", 40.0)], "id long, t string, v double"
    )
    assert delta_merge_upsert(spark, path, updates, "id") == 1
    got = {tuple(r) for r in read_delta_pylog(spark, path).collect()}
    assert got == {(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0), (4, "d", 40.0)}
    diff = {
        r["id"]: (r["change"], list(r["changed_cols"]))
        for r in delta_version_diff(spark, path, 0, 1, ["id"]).collect()
    }
    assert diff == {2: ("changed", ["v"]), 4: ("added", [])}


def test_streaming_sink_txn_idempotency(spark, tmp_path):
    """At-least-once replay of a foreachBatch epoch is a no-op: the txn
    action committed WITH the data makes the replay detectable."""
    from employee_activity_etl_poc_spark.sources.deltalog import (
        streaming_delta_sink,
    )

    path = str(tmp_path / "stbl")
    sink = streaming_delta_sink(path, app_id="ingest-a")
    b0 = spark.range(0, 10).select(F.col("id"))
    b1 = spark.range(10, 20).select(F.col("id"))
    sink(b0, 0)
    sink(b1, 1)
    assert read_delta_pylog(spark, path).count() == 20
    sink(b1, 1)  # crash-replay of epoch 1
    sink(b0, 0)  # very late replay of epoch 0
    assert read_delta_pylog(spark, path).count() == 20
    assert _existing_versions(str(tmp_path / "stbl")) == [0, 1]


def test_compaction_preserves_rows_and_history(spark, tmp_path):
    """OPTIMIZE-lite: fewer live files, identical rows, dataChange=false
    in the commit, and every historical version still readable."""
    import json as J
    import os as O

    from employee_activity_etl_poc_spark.sources.deltalog import (
        _replay,
        compact_delta,
    )

    path = str(tmp_path / "otbl")
    for i in range(4):
        write_delta_pylog(
            spark.range(i * 5, i * 5 + 5).select(F.col("id")), path
        )
    n_files_before = len(_replay(path)[2])
    v = compact_delta(spark, path, target_partitions=1)
    assert read_delta_pylog(spark, path).count() == 20
    assert len(_replay(path)[2]) < n_files_before
    assert read_delta_pylog(spark, path, version_as_of=1).count() == 10
    commit = O.path.join(path, "_delta_log", f"{v:020d}.json")
    adds = [J.loads(x) for x in open(commit) if '"add"' in x]
    assert adds and all(a["add"]["dataChange"] is False for a in adds)


def test_vacuum_reclaims_tombstones_only(spark, tmp_path):
    """Vacuum deletes only files tombstoned past retention; the current
    snapshot is untouched, and time travel past the vacuum horizon is
    the documented casualty."""
    from employee_activity_etl_poc_spark.sources.deltalog import vacuum_delta

    path = str(tmp_path / "vtbl")
    a = spark.range(0, 5).select(F.col("id"))
    b = spark.range(100, 103).select(F.col("id"))
    write_delta_pylog(a, path)
    write_delta_pylog(b, path, mode="overwrite")
    assert vacuum_delta(path, retention_ms=10**12) == 0  # inside retention
    n = vacuum_delta(path, retention_ms=0)
    assert n >= 1
    assert {r["id"] for r in read_delta_pylog(spark, path).collect()} == {100, 101, 102}
    with pytest.raises(Exception):
        read_delta_pylog(spark, path, version_as_of=0).collect()


def test_vacuum_reclaims_orphans(spark, tmp_path):
    """A data file no commit ever added (lost race / crash between move
    and commit) is removed once past retention — real VACUUM semantics."""
    from employee_activity_etl_poc_spark.sources.deltalog import vacuum_delta

    path = str(tmp_path / "orph")
    write_delta_pylog(spark.range(5).select(F.col("id")), path)
    orphan = os.path.join(path, "part-orphaned-from-lost-race.snappy.parquet")
    open(orphan, "wb").write(b"not really parquet")
    assert vacuum_delta(path, retention_ms=10**12) == 0
    assert vacuum_delta(path, retention_ms=0) == 1
    assert not os.path.exists(orphan)
    assert read_delta_pylog(spark, path).count() == 5


def test_reader_refuses_advanced_protocol(spark, tmp_path):
    """A table demanding minReaderVersion > 1 (deletion vectors etc.)
    raises instead of silently resurrecting deleted rows."""
    path = str(tmp_path / "adv")
    write_delta_pylog(spark.range(3).select(F.col("id")), path)
    log = os.path.join(path, "_delta_log", f"{1:020d}.json")
    open(log, "w").write('{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}\n')
    with pytest.raises(NotImplementedError):
        read_delta_pylog(spark, path)


def test_overwrite_refreshes_metadata_on_schema_change(spark, tmp_path):
    """Schema evolution by overwrite: the overwrite commit must carry an
    updated metaData action, so the new columns round-trip and old
    versions still time-travel with THEIR schema (ADVICE r4, medium —
    stale version-0 schema would silently NULL the new column)."""
    path = str(tmp_path / "evo")
    v0 = spark.range(3).select(F.col("id"), F.lit("x").alias("a"))
    v1 = spark.range(3).select(
        F.col("id"), F.lit("y").alias("a"), F.lit(1.5).alias("b")
    )
    write_delta_pylog(v0, path)
    write_delta_pylog(v1, path, mode="overwrite")
    back = read_delta_pylog(spark, path)
    assert set(back.columns) == {"id", "a", "b"}
    assert {r["b"] for r in back.collect()} == {1.5}
    old = read_delta_pylog(spark, path, version_as_of=0)
    assert set(old.columns) == {"id", "a"}
    # table id must survive the metaData refresh (same table, new schema)
    import json as J

    metas = []
    for v in (0, 1):
        for line in open(os.path.join(path, "_delta_log", f"{v:020d}.json")):
            a = J.loads(line)
            if "metaData" in a:
                metas.append(a["metaData"])
    assert len(metas) == 2 and metas[0]["id"] == metas[1]["id"]


def test_append_schema_mismatch_raises_before_writing(spark, tmp_path):
    """A mismatched append refuses loudly BEFORE moving data files in —
    no stranded parquet for vacuum to clean."""
    path = str(tmp_path / "mis")
    write_delta_pylog(spark.range(3).select(F.col("id")), path)
    n_before = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )
    bad = spark.range(3).select(F.col("id"), F.lit(1).alias("extra"))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_pylog(bad, path)
    n_after = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )
    assert n_after == n_before


def test_checkpoint_is_private_and_spec_pointer_absent(spark, tmp_path):
    """Our checkpoint layout is non-spec, so the spec's _last_checkpoint
    must NOT be written (a jar reader following it would choke — ADVICE
    r4): spec readers see only spec-conformant commit JSONs."""
    path = str(tmp_path / "spec")
    for i in range(6):
        write_delta_pylog(
            spark.range(i * 2, i * 2 + 2).select(F.col("id")),
            path,
            checkpoint_interval=5,
        )
    log = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint.pylog"))
    assert not os.path.exists(os.path.join(log, "_last_checkpoint"))
    # our reader still uses the private checkpoint + tail
    assert read_delta_pylog(spark, path).count() == 12


def test_two_writers_interleave_via_retry_loop(spark, tmp_path):
    """The documented optimistic-concurrency contract end-to-end: two
    writers appending to one table, each retrying on FileExistsError,
    both land on distinct contiguous versions and no rows are lost."""
    path = str(tmp_path / "race2")
    write_delta_pylog(spark.range(0, 1).select(F.col("id")), path)

    def append_with_retry(df, attempts=5):
        for _ in range(attempts):
            try:
                return write_delta_pylog(df, path)
            except FileExistsError:
                continue
        raise AssertionError("retry budget exhausted")

    import threading

    dfs = [
        spark.range(10 * k, 10 * k + 3).select(F.col("id")) for k in (1, 2)
    ]
    got = {}
    threads = [
        threading.Thread(target=lambda k=k, d=d: got.update({k: append_with_retry(d)}))
        for k, d in enumerate(dfs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(got.values()) == [1, 2]
    assert _existing_versions(path) == [0, 1, 2]
    assert read_delta_pylog(spark, path).count() == 7


def test_toctou_schema_race_cleans_staged_files(spark, tmp_path, monkeypatch):
    """The LATE schema re-check (a concurrent schema-evolving commit lands
    between the append pre-check and the version computation) must delete
    the already-moved staged files before raising — otherwise the raise
    itself strands exactly the orphans the pre-check prevents (ADVICE r5).
    Simulated by blinding the pre-check's version listing on its first
    call, so the mismatch is only caught at commit-build time."""
    from employee_activity_etl_poc_spark.sources import deltalog as DL

    path = str(tmp_path / "toctou")
    write_delta_pylog(spark.range(3).select(F.col("id")), path)
    n_before = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )
    real = DL._existing_versions
    calls = {"n": 0}

    def blind_first(p):
        calls["n"] += 1
        return [] if calls["n"] == 1 else real(p)

    monkeypatch.setattr(DL, "_existing_versions", blind_first)
    bad = spark.range(3).select(F.col("id"), F.lit(1).alias("extra"))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta_pylog(bad, path)
    monkeypatch.undo()
    n_after = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(path)
    )
    assert n_after == n_before
    # and the table still reads as the original commit left it
    assert read_delta_pylog(spark, path).count() == 3


def test_delta_roundtrip_gate_scratch_is_session_owned(spark, sf_dir):
    """The registered round-trip gate writes its scratch table under the
    session's own root: a second session's table at the old fixed
    per-sf temp path (same sf) survives the run."""
    import tempfile

    from employee_activity_etl_poc_spark.plans.registry import REGISTRY
    from employee_activity_etl_poc_spark.sources.readers import load_table

    shared = os.path.join(tempfile.gettempdir(), "spark_graft_delta_rt_sf0.001")
    created = not os.path.exists(shared)
    os.makedirs(shared, exist_ok=True)
    marker = os.path.join(shared, "other_session_marker")
    open(marker, "w").close()
    try:
        got = {
            r["event_type"]: (r["n"], r["sum_v"], r["n_version1"])
            for r in REGISTRY["delta_roundtrip_stats"].fn(spark, sf_dir).collect()
        }
        assert os.path.exists(marker)
    finally:
        if os.path.exists(marker):
            os.remove(marker)
        if created and os.path.isdir(shared) and not os.listdir(shared):
            os.rmdir(shared)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 4).alias("v")
    )
    n_v1 = ev.where(F.col("event_id") % 2 == 0).count()
    want = {
        r["event_type"]: (r["n"], r["sum_v"], n_v1)
        for r in ev.where(F.col("event_id") % 3 == 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("v"), 4).alias("sum_v"))
        .collect()
    }
    assert got.keys() == want.keys() and got
    for k, (n, s, v1) in want.items():
        assert got[k][0] == n and got[k][2] == v1
        assert got[k][1] == pytest.approx(s, abs=1e-4)
