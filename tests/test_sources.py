"""Tests for the source layer (CSV sniffing, schema canonicalization)."""

from __future__ import annotations

import os

from employee_activity_etl_poc_spark.schemas import (
    ACTIVITY_ALIASES,
    EMPLOYEE_ALIASES,
    canonicalize,
)
from employee_activity_etl_poc_spark.sources.readers import (
    _parse_bytes_conf,
    _sniff_csv,
    read_csv_sniffed,
)


def test_parse_bytes_conf_accepts_spark_suffixes():
    # spark.sql.files.maxPartitionBytes takes one- and two-letter suffixes
    # in any case; a parse failure would silently fall back to 128 MiB
    mib = 1024**2
    assert _parse_bytes_conf("134217728") == 128 * mib
    assert _parse_bytes_conf("4194304b") == 4 * mib
    assert _parse_bytes_conf("128m") == 128 * mib
    assert _parse_bytes_conf("128mb") == 128 * mib
    assert _parse_bytes_conf("64MB") == 64 * mib
    assert _parse_bytes_conf("512KB") == 512 * 1024
    assert _parse_bytes_conf(" 1gb ") == 1024 * mib
    assert _parse_bytes_conf("1g") == 1024 * mib


def test_sniff_semicolon_latin1(tmp_path):
    p = tmp_path / "dim.csv"
    p.write_bytes("id;nom;ville\n1;René;Orléans\n".encode("latin-1"))
    sep, enc = _sniff_csv(str(p))
    assert sep == ";"
    assert enc == "ISO-8859-1"


def test_sniff_bom_comma(tmp_path):
    p = tmp_path / "x.csv"
    p.write_bytes(b"\xef\xbb\xbfa,b\n1,2\n")
    sep, enc = _sniff_csv(str(p))
    assert sep == ","
    assert enc == "UTF-8"


def test_read_csv_sniffed_roundtrip(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id;val\n1;aa\n2;bb\n")
    df = read_csv_sniffed(spark, str(p))
    assert sorted((r["id"], r["val"]) for r in df.collect()) == [(1, "aa"), (2, "bb")]


def test_canonicalize_activity_dialects(spark):
    # generator dialect
    df = spark.createDataFrame([(1, 2)], ["ID", "ID_salarie"])
    assert canonicalize(df, ACTIVITY_ALIASES).columns == ["activity_id", "employee_id"]
    # validator dialect (accents)
    df = spark.createDataFrame([(1, 100)], ["ID_salarié", "Distance"])
    assert canonicalize(df, ACTIVITY_ALIASES).columns == ["employee_id", "distance_m"]
    # xlsx dialect (spaces)
    df = spark.createDataFrame([(1, "Nom")], ["ID salarié", "Nom"])
    assert canonicalize(df, EMPLOYEE_ALIASES).columns == ["employee_id", "last_name"]
    # unknown columns pass through
    df = spark.createDataFrame([(1, "x")], ["ID", "mystery"])
    assert canonicalize(df, ACTIVITY_ALIASES).columns == ["activity_id", "mystery"]


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from employee_activity_etl_poc_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # simulate the reference's 10-rows-per-commit fragmentation
    for i in range(8):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    n_before = len([f for f in __import__("os").listdir(path) if f.endswith(".parquet")])
    assert n_before >= 8
    n_files = compact_parquet(spark, path, target_rows_per_file=50)
    assert n_files == 2
    out = spark.read.parquet(path)
    assert out.count() == 80
    assert sorted(r["id"] for r in out.collect()) == list(range(80))
    n_after = len([f for f in __import__("os").listdir(path) if f.endswith(".parquet")])
    assert n_after == 2
    # crash injection: a crash between the swap's two renames strands the
    # table at its backup name; the next compaction restores it first
    os.rename(path, path + "__pre_prune")
    assert compact_parquet(spark, path, target_rows_per_file=50) == 2
    assert spark.read.parquet(path).count() == 80
    assert not os.path.exists(path + "__pre_prune")


def test_chunk_tokens_overlap_and_coverage(spark):
    from employee_activity_etl_poc_spark.operators.textops import chunk_tokens
    from pyspark.sql import functions as F

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, "short doc"), (3, "")], ["doc_id", "text"])
    out = chunk_tokens(df, "text", "doc_id", chunk_tokens_n=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"].split(" ")
    # doc 1: chunks at starts 1 and 49 -> 64 and 52 tokens, 16-token overlap
    assert len(by_doc[1]) == 2
    assert by_doc[1][0] == [f"w{i}" for i in range(64)]
    assert by_doc[1][1] == [f"w{i}" for i in range(48, 100)]
    assert by_doc[1][0][-16:] == by_doc[1][1][:16]
    # short doc: one chunk, whole text; empty doc: the tokenizer yields one
    # empty token -> a single degenerate chunk (documented: pre-filter empties)
    assert by_doc[2] == {0: ["short", "doc"]}


def test_write_csv_roundtrip_with_header(spark, tmp_path):
    from employee_activity_etl_poc_spark.sources.sinks import write_csv
    from employee_activity_etl_poc_spark.sources.readers import read_csv_sniffed

    df = spark.createDataFrame(
        [(1, "Vélo", 12.5), (2, "Marche", None)], ["id", "sport", "km"]
    )
    write_csv(df, str(tmp_path / "out"))
    back = read_csv_sniffed(spark, str(tmp_path / "out"))
    assert back.columns == ["id", "sport", "km"]
    rows = {r["id"]: (r["sport"], r["km"]) for r in back.collect()}
    assert rows == {1: ("Vélo", 12.5), 2: ("Marche", None)}


def test_write_training_shards_layout_and_stability(spark, tmp_path):
    """Shard export: hive layout shard=0..n-1, lossless round-trip, every
    row in the shard its key hashes to, and re-export assigns identically
    (the property round-robin/monotonic ids lack)."""
    from employee_activity_etl_poc_spark.operators.sampling import assign_shards
    from employee_activity_etl_poc_spark.sources.sinks import write_training_shards

    df = spark.range(200).selectExpr("id AS doc_id", "id * 7 AS payload")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, "doc_id", n_shards=4)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    back = spark.read.parquet(path)
    assert back.count() == 200
    expected = {
        r["doc_id"]: r["shard"]
        for r in assign_shards(df, "doc_id", 4).select("doc_id", "shard").collect()
    }
    for r in back.select("doc_id", "shard").collect():
        assert int(r["shard"]) == expected[r["doc_id"]]
    # stability: writing a subset re-derives the same shard per key
    write_training_shards(
        df.where("doc_id < 50"), str(tmp_path / "shards2"), "doc_id", n_shards=4
    )
    back2 = spark.read.parquet(str(tmp_path / "shards2"))
    for r in back2.select("doc_id", "shard").collect():
        assert int(r["shard"]) == expected[r["doc_id"]]


def test_read_delta_falls_back_to_parquet_without_jar(spark, tmp_path):
    """S6 gating: in this image the Delta jar is absent, so read_delta must
    report unavailability and transparently read the parquet files (the
    append-only fallback documented in its docstring)."""
    from employee_activity_etl_poc_spark.sources.readers import (
        delta_available,
        read_delta,
    )

    assert delta_available(spark) is False
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    assert read_delta(spark, path).count() == 5


def test_jdbc_roundtrip_raises_cleanly_without_driver(spark, tmp_path):
    """S11/S12 gating: with no JDBC driver jar the wrappers must fail with
    the driver-class error at call time — not corrupt state or hang."""
    import pytest

    from employee_activity_etl_poc_spark.sources.readers import read_jdbc
    from employee_activity_etl_poc_spark.sources.sinks import write_jdbc

    url = "jdbc:postgresql://localhost:5/nope"
    props = {"driver": "org.postgresql.Driver"}
    with pytest.raises(Exception, match="(?i)driver|ClassNotFound"):
        read_jdbc(spark, url, "t", props).count()
    with pytest.raises(Exception, match="(?i)driver|ClassNotFound"):
        write_jdbc(spark.range(3), url, "t", properties=props)


DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _require_derby(spark) -> None:
    """Skip (not fail) when the Derby embedded driver is absent from
    Spark's classpath — same gating courtesy as the delta/jdbc tests
    above; Derby ships with Apache Spark distributions but not all."""
    import pytest

    try:
        spark._jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    except Exception:
        pytest.skip("Derby embedded driver not on Spark classpath")


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/jdbc_db;create=true"


def test_jdbc_roundtrip_derby(spark, tmp_path):
    """S11/S12 integration: real JDBC round-trip against the Derby embedded
    driver that ships on Spark's classpath — the same write path the
    reference points at Postgres (``import_to_postgre.ipynb:71-79``) and
    read path of ``find_unique_employee.ipynb:118``, swapped onto an
    in-process database so the full JVM JDBC stack is exercised."""
    _require_derby(spark)
    from employee_activity_etl_poc_spark.sources.readers import read_jdbc
    from employee_activity_etl_poc_spark.sources.sinks import write_jdbc

    url = _derby_url(tmp_path)
    df = spark.createDataFrame(
        [(1, "Vélo", 12.5), (2, "Marche", None)], "id int, sport string, km double"
    )
    write_jdbc(df, url, "activities", mode="overwrite", properties=DERBY_PROPS)
    back = read_jdbc(spark, url, "activities", DERBY_PROPS)
    rows = {r["id"]: (r["sport"], r["km"]) for r in back.collect()}
    assert rows == {1: ("Vélo", 12.5), 2: ("Marche", None)}

    # append mode accumulates instead of replacing
    write_jdbc(df, url, "activities", mode="append", properties=DERBY_PROPS)
    assert read_jdbc(spark, url, "activities", DERBY_PROPS).count() == 4


def test_jdbc_partitioned_parallel_read(spark, tmp_path):
    """S12 at scale: partitionColumn/bounds/numPartitions fan the scan out
    across executors (one JDBC connection per partition) — the knob that
    makes a 100 TB-adjacent dimension import parallel instead of a single
    driver-side cursor like the reference's ``pd.read_sql``."""
    _require_derby(spark)
    from employee_activity_etl_poc_spark.sources.readers import read_jdbc
    from employee_activity_etl_poc_spark.sources.sinks import write_jdbc

    url = _derby_url(tmp_path)
    write_jdbc(
        spark.range(100).withColumnRenamed("id", "k"),
        url, "nums", mode="overwrite", properties=DERBY_PROPS,
    )
    part = read_jdbc(
        spark, url, "nums",
        {**DERBY_PROPS, "partitionColumn": "k", "lowerBound": "0",
         "upperBound": "100", "numPartitions": "4"},
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100


def test_stream_to_jdbc_foreach_batch(spark, tmp_path):
    """ST6 x S11: the reference's Spark prototype shape — a streaming
    source micro-batched into a JDBC table via foreachBatch
    (``spark_consumer/spark_consumer.py:25-38`` writes each batch to
    Postgres; here the sink is Derby and the trigger availableNow)."""
    _require_derby(spark)
    from employee_activity_etl_poc_spark.sources.readers import read_jdbc
    from employee_activity_etl_poc_spark.sources.sinks import write_jdbc
    from employee_activity_etl_poc_spark.streaming.ingest import (
        incremental_foreach_batch,
        run_to_completion,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(10).selectExpr("id", "id * 2 as v").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir / "batch0"))

    stream = spark.readStream.schema("id bigint, v bigint").parquet(
        str(src_dir / "*")
    )
    url = _derby_url(tmp_path)
    # seed the table so append-mode batches have a target
    write_jdbc(
        spark.createDataFrame([], "id bigint, v bigint"),
        url, "gold", mode="overwrite", properties=DERBY_PROPS,
    )
    q = incremental_foreach_batch(
        stream,
        transform=lambda df: df.where("v >= 4"),
        sink=lambda df, _bid: write_jdbc(
            df, url, "gold", mode="append", properties=DERBY_PROPS
        ),
        checkpoint=str(tmp_path / "ckpt"),
    )
    run_to_completion(q)
    got = read_jdbc(spark, url, "gold", DERBY_PROPS)
    assert sorted(r["id"] for r in got.collect()) == list(range(2, 10))


def test_loader_normalizes_timestamps_to_ltz(spark, sf_dir):
    """Regression guard for the round-2 bench failure: driver testdata
    regenerations have flipped timestamp physical types (TIMESTAMP(NANOS)
    -> tz-naive timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ and
    unix_micros rejects). Whatever the parquet says, load_table must
    yield plain TIMESTAMP (LTZ) so every µs-epoch expression resolves."""
    from pyspark.sql import functions as F

    from employee_activity_etl_poc_spark.schemas import TESTDATA_TABLES
    from employee_activity_etl_poc_spark.sources.readers import load_table

    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        for col, dtype in df.dtypes:
            assert dtype != "timestamp_ntz", f"{name}.{col} leaked NTZ"
            if dtype == "timestamp":
                # must be consumable by the strictest LTZ-only function
                df.select(F.unix_micros(F.col(col))).limit(1).collect()
