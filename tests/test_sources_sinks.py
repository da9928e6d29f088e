"""Source/sink surface tests (SURVEY.md §2.1): S1 JSON topic scan, S5
JDBC wrapper, S6 Kafka sink options, S7 retry policy, O3 sampling, and
batch writer round-trip with partitioned layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline400_spark.generator import ensure_fixtures
from tests.conftest import TEST_SF_DIR
from pinterest_data_pipeline400_spark.sources.readers import (
    read_jdbc,
    read_json_topic,
    read_kafka,
    sample_rows,
)
from pinterest_data_pipeline400_spark.sources.sinks import (
    with_retries,
    write_table,
)
from pinterest_data_pipeline400_spark import streaming
from pinterest_data_pipeline400_spark.streaming import ENVELOPE, write_stream_append
from tests.conftest import TEST_SF_NAME


def test_read_json_topic_explicit_schema(spark):
    """S1: topic-dir JSON scan with the explicit schema (the engine's
    default; the reference inferred — mount.py:69-74)."""
    fx = ensure_fixtures(TEST_SF_NAME)
    topic = os.path.join(fx, "stream", "pin")
    df = read_json_topic(spark, topic, schema=ENVELOPE)
    assert df.schema == ENVELOPE
    n = df.count()
    assert n > 0
    # every record decodes: no corrupt rows under the explicit schema
    assert df.filter(F.col("Data").isNull()).count() == 0


def test_read_json_topic_infer_compat(spark):
    """S1 compat mode: schema inference reproduces the reference's
    reader behavior when explicitly opted into."""
    fx = ensure_fixtures(TEST_SF_NAME)
    topic = os.path.join(fx, "stream", "geo")
    df = read_json_topic(spark, topic, infer_compat=True)
    assert set(df.columns) == {"StreamName", "PartitionKey", "Data"}


def test_read_json_topic_requires_schema(spark):
    with pytest.raises(ValueError, match="explicit schema required"):
        read_json_topic(spark, "/tmp/nowhere")


def test_read_jdbc_builds_reader(spark, monkeypatch):
    """S5: the JDBC wrapper forwards url/table/properties to the
    DataFrameReader (no database ships in CI — stub the terminal load)."""
    captured = {}

    class FakeReader:
        def format(self, f):
            captured["format"] = f
            return self

        def option(self, k, v):
            captured[k] = v
            return self

        def load(self):
            captured["loaded"] = True
            return "sentinel"

    monkeypatch.setattr(type(spark), "read", property(lambda self: FakeReader()))
    out = read_jdbc(spark, "jdbc:mysql://host/db", "pinterest_data", {"user": "u"})
    assert out == "sentinel"
    assert captured == {
        "format": "jdbc",
        "url": "jdbc:mysql://host/db",
        "dbtable": "pinterest_data",
        "user": "u",
        "loaded": True,
    }


class _FakeKafkaReader:
    def __init__(self, captured):
        self.captured = captured

    def format(self, f):
        self.captured["format"] = f
        return self

    def option(self, k, v):
        self.captured[k] = v
        return self

    def load(self):
        self.captured["loaded"] = True
        return "sentinel"


@pytest.mark.parametrize("streaming", [False, True])
def test_read_kafka_builds_reader(spark, monkeypatch, streaming):
    """Kafka source wrapper (mirror of S6's sink): forwards servers /
    topic / offsets through whichever reader the mode selects — batch
    ``read`` or ``readStream`` (no broker ships in CI)."""
    captured = {}
    attr = "readStream" if streaming else "read"
    monkeypatch.setattr(
        type(spark), attr, property(lambda self: _FakeKafkaReader(captured))
    )
    out = read_kafka(
        spark, "broker:9092", "pin_topic",
        streaming=streaming, options={"maxOffsetsPerTrigger": "1000"},
    )
    assert out == "sentinel"
    assert captured == {
        "format": "kafka",
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "pin_topic",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "1000",
        "loaded": True,
    }


def test_kafka_wire_shape_and_decode(spark):
    """S6 decode contract without a broker (VERDICT r11 task #7): the
    crafted Kafka-record frame must carry the EXACT schema the Spark
    Kafka source emits, and CAST(value)→decode_stream must reproduce
    the envelope decode byte-for-byte."""
    from pinterest_data_pipeline400_spark.sources.readers import (
        KAFKA_WIRE,
        envelope_to_kafka_records,
        kafka_value_as_envelope,
    )
    from pinterest_data_pipeline400_spark.streaming import (
        RAW_SCHEMAS,
        decode_stream,
    )

    fx = ensure_fixtures(TEST_SF_NAME)
    topic = os.path.join(fx, "stream", "pin")
    raw = read_json_topic(spark, topic, schema=ENVELOPE)
    records = envelope_to_kafka_records(raw, topic="pin")
    # exact Kafka source schema: names, types, AND order; nullability
    # may only be TIGHTER than the wire contract (literal metadata
    # columns are provably non-null — still valid Kafka-shaped input)
    assert [(f.name, f.dataType) for f in records.schema.fields] == [
        (f.name, f.dataType) for f in KAFKA_WIRE.fields
    ]
    for crafted, wire in zip(records.schema.fields, KAFKA_WIRE.fields):
        assert wire.nullable or not crafted.nullable
    # partitions land in the keyspace the default partitioner would use
    parts = {r.partition for r in records.select("partition").distinct().collect()}
    assert parts <= {0, 1, 2}
    # the Kafka-shaped decode equals the envelope decode, row for row
    via_kafka = decode_stream(
        kafka_value_as_envelope(records), RAW_SCHEMAS["pin"]
    )
    direct = decode_stream(raw, RAW_SCHEMAS["pin"])
    assert via_kafka.schema == direct.schema
    assert sorted(map(str, via_kafka.collect())) == sorted(
        map(str, direct.collect())
    )


def test_sample_rows_deterministic(spark):
    """O3: seeded sampling is stable and bounded."""
    df = spark.range(1000)
    a = sample_rows(df, n=3, seed=42).collect()
    b = sample_rows(df, n=3, seed=42).collect()
    assert a == b
    assert len(a) == 3


def test_write_table_partitioned_roundtrip(spark, tmp_path):
    """Partitioned batch sink: layout produces one directory per key
    (the physical partition-pruning contract) and reads back intact."""
    df = spark.createDataFrame(
        [(1, "2021", "a"), (2, "2021", "b"), (3, "2022", "c")],
        "id int, year string, v string",
    )
    path = str(tmp_path / "t")
    write_table(df, path, partition_by=["year"])
    dirs = {d for d in os.listdir(path) if d.startswith("year=")}
    assert dirs == {"year=2021", "year=2022"}
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition filter prunes to one directory's worth of rows
    assert back.filter(F.col("year") == "2022").count() == 1


def test_with_retries_backoff_and_success():
    """S7: 2**attempt backoff between failures, success short-circuits."""
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, max_retries=3, sleep=sleeps.append) == "ok"
    assert sleeps == [1.0, 2.0]  # 2**0, 2**1 — stream_emul.py:57-70


def test_with_retries_exhaustion_reraises():
    sleeps: list[float] = []

    def always_fail():
        raise RuntimeError("down")

    with pytest.raises(RuntimeError, match="down"):
        with_retries(always_fail, max_retries=3, sleep=sleeps.append)
    assert sleeps == [1.0, 2.0]  # no sleep after the final attempt


def test_envelope_datasource_partitions_and_pushdown(spark):
    """The custom V2 connector's two scale contracts: one input
    partition per JSONL part file (scan parallelism = shard count), and
    StreamName equality filters absorbed INSIDE the connector (no
    post-scan Filter left in the plan for the pushed predicate)."""
    import glob

    from pyspark.sql import functions as F

    from pinterest_data_pipeline400_spark.generator import fixture_dir_for
    from pinterest_data_pipeline400_spark.sources.envelope_datasource import (
        register_envelope_source,
    )

    register_envelope_source(spark)
    topic = os.path.join(fixture_dir_for(TEST_SF_DIR), "stream", "pin")
    n_files = len(glob.glob(os.path.join(topic, "*.jsonl")))
    assert n_files > 1  # the parallelism claim needs multiple splits

    raw = spark.read.format("kinesis_envelope").option("path", topic).load()
    assert raw.rdd.getNumPartitions() == n_files

    hit = raw.filter(F.col("StreamName") == "streaming-pin")
    miss = raw.filter(F.col("StreamName") == "streaming-nope")
    assert hit.count() == raw.count()
    assert miss.count() == 0
    # the equality predicate is pushed into the connector — only the
    # (unpushable, cheap) isnotnull residual may remain above the scan
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "= streaming-pin" not in plan


def test_envelope_datasource_streaming_exactly_once(spark, tmp_path):
    """The custom connector's streaming contract: micro-batch reads
    driven by the last-consumed-file-NAME offset, and a RESTART over
    the same checkpoint consumes only files that arrived after the
    last commit — no re-emission (exactly-once into the sink)."""
    import json as _json

    from pinterest_data_pipeline400_spark.sources.envelope_datasource import (
        register_envelope_source,
    )

    register_envelope_source(spark)
    topic = tmp_path / "topic"
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    topic.mkdir()

    def emit(fname: str, ids: range) -> None:
        with open(topic / fname, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({
                    "StreamName": "streaming-test",
                    "PartitionKey": str(i % 4),
                    "Data": _json.dumps({"id": i}),
                }) + "\n")

    def drain() -> None:
        raw = spark.readStream.format("kinesis_envelope").option("path", str(topic)).load()
        streaming.drain(
            spark, "custom-source stream", lambda: write_stream_append(raw, sink, ckpt)
        )

    emit("part-0000.jsonl", range(0, 50))
    emit("part-0001.jsonl", range(50, 80))
    drain()
    first = spark.read.parquet(sink)
    assert first.count() == 80

    emit("part-0002.jsonl", range(80, 100))
    drain()  # restart over the SAME checkpoint
    out = spark.read.parquet(sink).select("Data").toPandas()
    ids = sorted(_json.loads(d)["id"] for d in out.Data)
    assert ids == list(range(100))  # new rows exactly once, no re-emits

    # A file whose NAME sorts before the committed watermark arrives
    # late, together with a genuinely new file. The count-based offset
    # this connector used to have would positionally shift the listing
    # here — re-emitting an old file and permanently losing the new one
    # (ADVICE r3 #1). Name-based offsets: the late file is skipped
    # (late-beyond-watermark), the new file read exactly once, nothing
    # re-emitted.
    emit("a-late.jsonl", range(1000, 1010))  # sorts before every part-*
    emit("part-0003.jsonl", range(100, 120))
    drain()
    out = spark.read.parquet(sink).select("Data").toPandas()
    ids = sorted(_json.loads(d)["id"] for d in out.Data)
    assert ids == list(range(120))  # no dupes, no loss, late file skipped


def test_envelope_stream_reader_offsets_are_name_based(tmp_path):
    """Direct offset-protocol unit test (no Spark): strictly-greater
    name selection plus in-place upgrade of a legacy count-based
    checkpoint offset."""
    from pinterest_data_pipeline400_spark.sources.envelope_datasource import (
        EnvelopeStreamReader,
    )

    for name in ("b.jsonl", "d.jsonl"):
        (tmp_path / name).write_text("")
    r = EnvelopeStreamReader({"path": str(tmp_path)})
    assert r.initialOffset() == {"last_file": ""}
    first = r.latestOffset()
    assert first == {"last_file": "d.jsonl"}
    got = [p.path for p in r.partitions(r.initialOffset(), first)]
    assert [os.path.basename(p) for p in got] == ["b.jsonl", "d.jsonl"]

    # late out-of-order name + a new file: only the new file is emitted
    (tmp_path / "a.jsonl").write_text("")
    (tmp_path / "e.jsonl").write_text("")
    second = r.latestOffset()
    assert second == {"last_file": "e.jsonl"}
    got = [os.path.basename(p.path) for p in r.partitions(first, second)]
    assert got == ["e.jsonl"]

    # legacy {"n_files": N} checkpoints upgrade positionally: N=3 of the
    # current sorted listing [a, b, d, e] -> watermark "d.jsonl"
    got = [os.path.basename(p.path) for p in r.partitions({"n_files": 3}, second)]
    assert got == ["e.jsonl"]


def test_legacy_count_offset_with_missing_files_never_full_replays(tmp_path):
    """Legacy {'n_files': N} checkpoints with N beyond the current
    listing (files deleted — UB for a file source, but it happens)
    must fall to the LAST existing name, not to '' — '' would replay
    the entire directory into the sink as duplicates."""
    import json as _json
    import os as _os

    from pinterest_data_pipeline400_spark.sources.envelope_datasource import (
        EnvelopeStreamReader,
    )

    d = str(tmp_path)
    for name in ("a.jsonl", "b.jsonl"):
        with open(_os.path.join(d, name), "w") as fh:
            fh.write(_json.dumps({"StreamName": "s", "PartitionKey": "1", "Data": "{}"}) + "\n")
    r = EnvelopeStreamReader({"path": d})
    assert r._watermark({"n_files": 5}) == "b.jsonl"  # clamp, don't replay
    assert r._watermark({"n_files": 2}) == "b.jsonl"
    assert r._watermark({"n_files": 0}) == ""
    assert r._watermark({"last_file": "a.jsonl"}) == "a.jsonl"
