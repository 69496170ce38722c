"""Sinks (jsonl/csv/parquet/jdbc-DDL) and multimodal plumbing tests."""

import glob

import pytest
from pyspark.sql import functions as F

from relationalize_spark.operators.multimodal import (
    audio_features,
    image_features,
    sample_frames,
)
from relationalize_spark.schema import Schema
from relationalize_spark.sinks.jdbc import (
    jdbc_column_types,
    postgres_load_plan,
    redshift_copy_sql,
    write_jdbc,
)
from relationalize_spark.sinks.writers import (
    TableWriteError,
    write_csv_sorted,
    write_each,
    write_jsonl,
    write_parquet,
    write_tables,
)


@pytest.fixture()
def small(spark):
    return spark.createDataFrame(
        [(2, "b", 2.5), (1, "a", 1.5)], "zid long, alpha string, m double"
    )


def test_jsonl_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "j")
    write_jsonl(small, p)
    back = spark.read.json(p)
    assert back.count() == 2


def test_csv_sorted_header(spark, small, tmp_path):
    p = str(tmp_path / "c")
    write_csv_sorted(small.repartition(1), p)
    [f] = glob.glob(f"{p}/part-*.csv")
    header = open(f).readline().strip()
    assert header == "alpha,m,zid"


def test_csv_with_choice_schema(spark, tmp_path):
    s = Schema({"a": "c-int-str", "b": "bool"})
    df = spark.createDataFrame(
        [(1, None, True)], "a_int long, a_str string, b boolean"
    )
    p = str(tmp_path / "cc")
    write_csv_sorted(df.repartition(1), p, schema=s)
    [f] = glob.glob(f"{p}/part-*.csv")
    assert open(f).readline().strip() == "a_int,a_str,b"
    with pytest.raises(ValueError):
        write_csv_sorted(df.drop("a_str"), str(tmp_path / "bad"), schema=s)


def test_write_tables(spark, small, tmp_path):
    write_tables({"t1": small, "t2": small}, str(tmp_path / "tabs"))
    assert spark.read.parquet(str(tmp_path / "tabs" / "t1")).count() == 2
    assert spark.read.parquet(str(tmp_path / "tabs" / "t2")).count() == 2


def test_write_tables_empty_is_noop(tmp_path):
    write_tables({}, str(tmp_path / "none"))
    assert not (tmp_path / "none").exists()


def test_write_each_runs_every_write_then_names_first_failure():
    """More writes and threads than cores, a short switch interval:
    every write runs exactly once, failures included, and the error
    names the first failed table in submission order."""
    import sys
    import threading

    targets = {f"t{i:02d}": f"/out/t{i:02d}" for i in range(64)}
    seen: list[str] = []
    lock = threading.Lock()

    def write(t, p):
        assert p == targets[t]
        with lock:
            seen.append(t)
        if t in ("t40", "t07", "t63"):
            raise OSError(f"disk full at {t}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(TableWriteError) as info:
            write_each(targets, write)
    finally:
        sys.setswitchinterval(old)
    assert sorted(seen) == sorted(targets)
    err = info.value
    assert (err.table, err.path) == ("t07", "/out/t07")
    assert isinstance(err.__cause__, OSError)
    assert "['t40', 't63']" in str(err)


def test_write_tables_failure_names_table_after_others_finish(
    spark, small, tmp_path
):
    base = tmp_path / "tabs"
    (base / "t1").mkdir(parents=True)
    with pytest.raises(TableWriteError) as info:
        write_tables({"t1": small, "t2": small}, str(base), mode="errorifexists")
    err = info.value
    assert err.table == "t1" and err.path == f"{base}/t1"
    assert "'t1'" in str(err) and f"{base}/t1" in str(err)
    # the failing table did not stop the other write
    assert spark.read.parquet(str(base / "t2")).count() == 2


def test_write_tables_parity_with_relationalize_json(spark, tmp_path):
    """Every table written through the pool reads back with the columns
    and rows of the frame that was passed in."""
    import json

    from relationalize_spark.sources.jsonl import relationalize_json

    objs = [
        {
            "id": i,
            "amount": i if i % 2 else i + 0.5,
            "tags": [f"t{i}", "x"],
            "items": [
                {
                    "sku": f"s{i}-{j}",
                    "opts": [j, "big" if j else 0],
                    "legs": [{"hops": [i, j]}],
                }
                for j in range(2)
            ],
        }
        for i in range(6)
    ]
    vdf = spark.createDataFrame(
        [(json.dumps(o),) for o in objs], "value string"
    ).select(F.parse_json("value").alias("v"))
    out = relationalize_json(vdf, "root")
    assert len(out.tables) >= 5
    base = str(tmp_path / "tabs")
    write_tables(out.tables, base)
    for name, df in out.tables.items():
        back = spark.read.parquet(f"{base}/{name}")
        assert back.columns == df.columns, name
        want = sorted(repr(tuple(r)) for r in df.collect())
        assert sorted(repr(tuple(r)) for r in back.collect()) == want, name
    out.unpersist()


def test_jdbc_plan(small):
    s = Schema({"a": "c-int-str", "b": "bool", "z": "none"})
    assert (
        jdbc_column_types(s)
        == "`a_int` BIGINT, `a_str` VARCHAR(65535), `b` BOOLEAN, `z` BOOLEAN"
    )
    w = write_jdbc(small, "jdbc:postgresql://h/db", "t", s)
    assert w is not None  # plan assembles without a driver
    plan = postgres_load_plan(s, "users")
    assert plan[0] == 'DROP TABLE IF EXISTS "public"."users";'
    assert "CREATE TABLE IF NOT EXISTS" in plan[1]
    sql = redshift_copy_sql("t", "s3://b/k", "arn:aws:iam::1:role/r")
    assert sql.startswith("COPY t FROM 's3://b/k'") and "GZIP" in sql


@pytest.fixture()
def binary_docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "abcdefgh" * 20), (3, None)],
        "doc_id long, text string",
    ).select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )


def test_image_features_deterministic(binary_docs):
    rows = {r.doc_id: r for r in image_features(binary_docs).collect()}
    r1 = rows[1]
    n = len(b"hello world")
    assert r1.n_bytes == n
    assert r1.width == n % 512 + 16
    assert r1.height == (n * 31) % 512 + 16
    assert abs(r1.mean_byte - sum(b"hello world") / n) < 1e-9
    assert len(r1.features) == 8
    assert abs(sum(r1.features) - 1.0) < 1e-6


def test_sample_frames(binary_docs):
    frames = sample_frames(binary_docs, n_frames=4).collect()
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    assert len(by_doc[2]) == 4
    assert sorted(f.frame_idx for f in by_doc[2]) == [0, 1, 2, 3]
    assert all(f.frame_bytes == 40 for f in by_doc[2])


def _wav_bytes(freq_hz, rate=8000, seconds=0.25, amplitude=0.5):
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    samples = [
        int(amplitude * 32767 * math.sin(2 * math.pi * freq_hz * i / rate))
        for i in range(n)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def test_audio_features_decodes_real_wav(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(440))),
            (2, bytearray(_wav_bytes(880))),
            (3, bytearray(b"not audio at all")),
            (4, None),
        ],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: r for r in audio_features(df).collect()}
    r1 = rows[1]
    assert r1.sample_rate == 8000 and r1.n_channels == 1
    assert r1.n_samples == 2000
    assert abs(r1.duration_s - 0.25) < 1e-9
    # sine RMS = amplitude/sqrt(2)
    assert abs(r1.rms - 0.5 / math.sqrt(2)) < 0.01
    # zero crossings of a sine ~ 2 * freq / rate
    assert abs(r1.zero_crossing_rate - 2 * 440 / 8000) < 0.01
    assert abs(rows[2].zero_crossing_rate - 2 * 880 / 8000) < 0.01
    # non-WAV payloads yield NULL features, not a failed job
    assert rows[3].sample_rate is None and rows[3].n_bytes == 16
    assert rows[4].n_bytes is None


def test_csv_reader_roundtrip(spark, small, tmp_path):
    from relationalize_spark.sources.readers import read_csv

    p = str(tmp_path / "csvsrc")
    write_csv_sorted(small.repartition(1), p)
    back = read_csv(spark, p, schema="alpha string, m double, zid long")
    assert back.count() == 2
    assert {r.alpha for r in back.collect()} == {"a", "b"}
