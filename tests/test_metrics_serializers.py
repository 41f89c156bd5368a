"""Metrics (A26) and serializer (A17–A19) coverage."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_big_query_connector_spark.sources.fake_bigquery import (
    DEFAULT_STREAM,
    FakeBigQuery,
)
from flink_big_query_connector_spark.streaming import serializers
from flink_big_query_connector_spark.streaming.config import (
    BatchTriggerSettings,
    WriterSettings,
)
from flink_big_query_connector_spark.streaming.metrics import (
    ObservedMetricsStore,
    SinkMetrics,
    with_observed_sink_metrics,
)
from flink_big_query_connector_spark.streaming.sinks import (
    DefaultStreamSink,
    write_with_retry,
)


def test_sink_metrics_count_appends_and_rows(spark, tmp_path):
    metrics = SinkMetrics.create(spark)
    df = spark.range(100).withColumnRenamed("id", "value")
    sink = DefaultStreamSink(
        str(tmp_path / "bq"),
        "p.d.t",
        trigger=BatchTriggerSettings(max_count=30),
        metrics=metrics,
    )
    sink.write_batch(df.coalesce(1), 0)
    snap = metrics.snapshot()
    assert snap["append_rows"] == 100
    assert snap["batch_count"] == 4  # ceil(100/30)
    assert snap["retry_count"] == 0
    assert FakeBigQuery(str(tmp_path / "bq")).table_count("p.d.t") == 100


def test_sink_metrics_count_retries_and_splits(spark, bq):
    metrics = SinkMetrics.create(spark)
    bq.script_append_failures(["UNAVAILABLE", "UNAVAILABLE"], table="p.d.t")
    rows = [{"value": i} for i in range(10)]
    write_with_retry(
        bq, "p.d.t", DEFAULT_STREAM, rows, -1, WriterSettings(), metrics=metrics
    )
    assert metrics.snapshot()["retry_count"] == 2

    # oversized batch -> recursive halving counted
    big = [{"value": "x" * 6_000_000} for _ in range(2)]
    write_with_retry(
        bq, "p.d.t2", DEFAULT_STREAM, big, -1, WriterSettings(), metrics=metrics
    )
    assert metrics.snapshot()["split_batch_count"] >= 1


def test_sink_metrics_count_append_bytes(spark, bq):
    """append_bytes adds the UTF-8 bytes (newlines included) of every
    append that landed — the bytes the backend stored — and feeds the
    same figure to the per-stream gauge."""
    from flink_big_query_connector_spark.streaming.metrics import StreamMetrics

    metrics = SinkMetrics.create(spark)
    gauge = StreamMetrics("p.d.t", DEFAULT_STREAM)
    rows = [json.dumps({"value": i, "s": "é" * i}, ensure_ascii=False) for i in range(10)]
    bq.script_append_failures(["UNAVAILABLE"], table="p.d.t")
    write_with_retry(
        bq, "p.d.t", DEFAULT_STREAM, rows, -1, WriterSettings(),
        sleep=lambda s: None, metrics=metrics, stream_metrics=gauge,
    )
    stored = sum(len(r.encode("utf-8")) + 1 for r in rows)
    assert metrics.snapshot()["append_bytes"] == stored
    assert metrics.snapshot()["retry_count"] == 1
    assert gauge.snapshot()["batch_size_mb"] == stored / 1_000_000.0
    stream_file = bq._stream_paths("p.d.t", DEFAULT_STREAM)[0]
    assert os.path.getsize(stream_file) == stored


def test_observed_metrics_via_listener(spark, tmp_path):
    import time

    store = ObservedMetricsStore.attach(spark)
    try:
        src_dir = tmp_path / "src"
        src_dir.mkdir()
        spark.range(50).withColumnRenamed("id", "v").coalesce(1).write.parquet(
            str(src_dir / "f0")
        )
        schema = spark.read.parquet(str(src_dir / "f0")).schema
        stream = spark.readStream.schema(schema).parquet(str(src_dir / "f0"))
        observed = with_observed_sink_metrics(stream)
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_m_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is async relative to query termination
        for _ in range(40):
            if store.totals().get("rows", 0) >= 50:
                break
            time.sleep(0.25)
        totals = store.totals()
        assert totals["rows"] == 50
        assert totals["bytes"] > 0
    finally:
        store.detach()


def test_json_serializer_roundtrip(spark):
    df = spark.range(3).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    out = df.select(serializers.json_rows(df).alias("payload")).collect()
    decoded = sorted(
        (json.loads(bytes(r.payload)) for r in out), key=lambda d: d["a"]
    )
    assert decoded == [{"a": 0, "b": 0}, {"a": 1, "b": 2}, {"a": 2, "b": 4}]


def test_json_size_matches_payload_length(spark):
    df = spark.range(5).select(F.col("id").alias("a"))
    rows = df.select(
        serializers.json_rows(df).alias("p"), serializers.json_size(df).alias("n")
    ).collect()
    assert all(len(bytes(r.p)) == r.n for r in rows)


def test_noop_serializer_requires_binary(spark):
    df = spark.range(1).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("raw")
    )
    assert df.select(serializers.noop_rows(df, "raw")).collect()
    not_bin = spark.range(1).select(F.col("id").alias("raw"))
    with pytest.raises(TypeError):
        serializers.noop_rows(not_bin, "raw")


def test_per_stream_gauges_multi_stream_buffered_write(spark, tmp_path):
    """Reference metrics-table parity (README.md:129-162): after a
    buffered (exactly-once) write fanned over several per-partition
    streams, the registry exposes per-(table, stream) gauges with the
    stream's own offset, last batch_count, and batch_size_mb."""
    from flink_big_query_connector_spark.streaming.metrics import (
        StreamMetricsRegistry,
    )
    from flink_big_query_connector_spark.streaming.sinks import (
        BufferedStreamSink,
    )

    registry = StreamMetricsRegistry.create(spark)
    df = spark.range(90).withColumnRenamed("id", "value").repartition(3)
    sink = BufferedStreamSink(
        str(tmp_path / "bq"), "p.d.t", stream_registry=registry
    )
    sink.write_batch(df, 0)

    gauges = registry.gauges()
    streams = {s for (t, s, _w) in gauges if t == "p.d.t"}
    assert len(streams) == 3  # one buffered stream per partition
    total_offset = 0
    for s in streams:
        g = registry.stream_gauges("p.d.t", s)
        assert g["offset"] == g["batch_count"]  # one append per stream
        assert g["batch_size_mb"] > 0
        assert g["split_batch_count"] == 0
        total_offset += g["offset"]
    assert total_offset == 90


def test_per_stream_gauges_default_stream_offset_zero(spark, tmp_path):
    """At-least-once default-stream writes keep stream_offset at 0 —
    'When using at least once, the offset is always 0' (reference
    README metrics table) — while batch gauges still update."""
    from flink_big_query_connector_spark.streaming.metrics import (
        StreamMetricsRegistry,
    )

    registry = StreamMetricsRegistry.create(spark)
    df = spark.range(50).withColumnRenamed("id", "value")
    sink = DefaultStreamSink(
        str(tmp_path / "bq"),
        "p.d.t",
        trigger=BatchTriggerSettings(max_count=20),
        metrics=None,
        stream_registry=registry,
    )
    sink.write_batch(df.coalesce(1), 0)
    g = registry.stream_gauges("p.d.t", DEFAULT_STREAM)
    assert g["offset"] == 0
    assert g["batch_count"] == 10  # last chunk: 50 = 20+20+10
    assert g["batch_size_mb"] > 0


def test_inflight_wait_seconds_gauge_under_backpressure(spark, tmp_path):
    """The async sink's writer-level inflight_wait_seconds gauge
    (BigQuerySinkWriter.java:72-78) must accumulate real wall time when
    the in-flight quota throttles submissions."""
    from flink_big_query_connector_spark.streaming.metrics import (
        StreamMetricsRegistry,
    )
    from flink_big_query_connector_spark.streaming.sinks import AsyncSink

    registry = StreamMetricsRegistry.create(spark)
    slow_root = str(tmp_path / "bq")
    df = spark.range(80).withColumnRenamed("id", "value")
    sink = AsyncSink(
        slow_root,
        "p.d.t",
        trigger=BatchTriggerSettings(max_count=10),
        max_inflight=1,  # every submit must wait for the prior append
        stream_registry=registry,
    )
    sink.write_batch(df.coalesce(1), 0)
    g = registry.stream_gauges("p.d.t", DEFAULT_STREAM)
    assert g["inflight_wait_seconds"] > 0.0
    assert g["callback_timeouts"] == 0
    assert FakeBigQuery(slow_root).table_count("p.d.t") == 80
