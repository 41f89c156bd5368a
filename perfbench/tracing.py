"""Spans recorded from outside the package, and the timing proxy client.

The traced run records a span (name, start, end, parent, trace id) around
each call the benchmark makes into a package layer, keeps the spans in
memory and writes them out at exit.  Calls that happen inside executor
tasks (the sink writers' Storage Write verbs) are timed by
:class:`TimingClient`, which a :class:`TimingClientProvider` hands to the
sinks through their public ``client_provider=`` seam; those timings travel
back to the Spark driver through a list-valued accumulator.

All times are ``time.time()`` wall-clock seconds: executor tasks run on
the same host in local mode, so driver, executor and streaming-progress
timestamps share one clock and executor spans can be placed inside the
Spark-driver spans that caused them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.accumulators import AccumulatorParam

from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
from flink_big_query_connector_spark.streaming.batching import json_size_of
from flink_big_query_connector_spark.streaming.client_provider import ClientProvider

from benchstats import union_length

# Which package layer each span name belongs to (self time is reported
# per layer).  "round" spans are the roots: one per timed round.
LAYER_OF = {
    "stream.query_start": "streaming.engine",
    "stream.batch": "streaming.engine",
    "stream.await": "streaming.engine",
    "sinks.write_batch": "streaming.sinks",
    "backend.append": "sources.fake_bigquery",
    "backend.create_stream": "sources.fake_bigquery",
    "backend.get_stream": "sources.fake_bigquery",
    "backend.flush": "sources.fake_bigquery",
    "backend.finalize": "sources.fake_bigquery",
    "datasource.load": "sources.bq_datasource",
    "datasource.scan": "sources.bq_datasource",
    "plans.build": "plans",
    "plans.execute": "plans",
    "cache.release": "cache",
}

# Clock slack when deciding containment: streaming-progress timestamps
# carry millisecond resolution.
_SLACK_S = 0.005


class Tracer:
    """In-memory span store.  ``enabled=False`` records nothing, so an
    untraced round pays only for the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, trace=None, **attrs):
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "trace": trace, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name, parent=None, trace=None, **attrs):
        """Time the block; yields the span id (``None`` when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), None, parent, trace, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()


class ListParam(AccumulatorParam):
    """Accumulator of a list: executor tasks ship their call records."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _task_tag():
    """(stage, partition) of the running executor task; None on the Spark driver."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    return None if tc is None else (tc.stageId(), tc.partitionId())


class TimingClient:
    """Storage Write client that times each verb of a wrapped client.

    Every call is forwarded unchanged and every exception re-raised
    unchanged, so the sinks' retry machine (ALREADY_EXISTS trimming,
    oversized-batch splitting, FlushRows visibility) sees exactly what the
    wrapped client does.  One record per call goes to ``sink.add``:
    ``(verb, start, end, rows, bytes, outcome, task, stream)``."""

    def __init__(self, inner, sink):
        self._inner = inner
        self._sink = sink

    def _timed(self, verb, stream, fn, rows=0, nbytes=0):
        t0 = time.time()
        outcome = "ok"
        try:
            return fn()
        except Exception as e:
            outcome = type(e).__name__
            raise
        finally:
            self._sink.add(
                [(verb, t0, time.time(), rows, nbytes, outcome, _task_tag(), stream)]
            )

    def create_write_stream(self, table, stream_type="BUFFERED", name=None):
        return self._timed(
            "create_stream", name,
            lambda: self._inner.create_write_stream(table, stream_type, name),
        )

    def get_write_stream(self, table, stream):
        return self._timed(
            "get_stream", stream, lambda: self._inner.get_write_stream(table, stream)
        )

    def finalize_stream(self, table, stream):
        return self._timed(
            "finalize", stream, lambda: self._inner.finalize_stream(table, stream)
        )

    def append(self, table, stream, rows, offset=-1):
        return self._timed(
            "append", stream,
            lambda: self._inner.append(table, stream, rows, offset),
            rows=len(rows), nbytes=sum(json_size_of(r) for r in rows),
        )

    def flush_rows(self, table, stream, offset):
        return self._timed(
            "flush", stream, lambda: self._inner.flush_rows(table, stream, offset)
        )


@dataclass(frozen=True)
class TimingClientProvider(ClientProvider):
    """Picklable provider of :class:`TimingClient` over ``FakeBigQuery``."""

    backend_root: str
    sink: object  # a ListParam accumulator (or anything with .add(list))

    def client(self):
        return TimingClient(FakeBigQuery(self.backend_root), self.sink)


def backend_spans(tracer: Tracer, records: list, trace=None) -> None:
    """Turn the proxy's call records into ``backend.*`` spans."""
    for verb, start, end, rows, nbytes, outcome, task, stream in records:
        tracer.add(
            f"backend.{verb}", start, end, trace=trace, rows=rows,
            bytes=nbytes, outcome=outcome,
            task=list(task) if task else None, stream=stream,
        )


def assign_parents(spans: list[dict]) -> None:
    """Give each parentless non-root span the innermost span that
    contains it in time (executor and progress spans are recorded without
    a parent; containment on the shared clock places them)."""
    containers = sorted(
        (s for s in spans if not s["name"].startswith("backend.")),
        key=lambda s: s["end"] - s["start"],
    )
    for s in spans:
        if s["parent"] is not None or s["name"] == "round":
            continue
        for c in containers:
            if c is s or c["name"] == s["name"]:
                continue
            if (c["start"] - _SLACK_S <= s["start"]
                    and s["end"] <= c["end"] + _SLACK_S):
                s["parent"] = c["id"]
                break


def _own_times(spans: list[dict]) -> list[tuple[dict, float]]:
    """Each span with the part of its duration no child span covers
    (children that ran in parallel, like executor tasks, count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered = union_length([
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ])
        out.append((s, max(0.0, s["end"] - s["start"] - covered)))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer."""
    out: dict[str, float] = {}
    for s, own in _own_times(spans):
        if s["name"] != "round":
            layer = LAYER_OF.get(s["name"], s["name"])
            out[layer] = out.get(layer, 0.0) + own
    return out


def unattributed_s(spans: list[dict]) -> tuple[float, float]:
    """(timed wall, wall no layer span covers), summed over rounds."""
    rounds = [(s, own) for s, own in _own_times(spans) if s["name"] == "round"]
    return (sum(s["end"] - s["start"] for s, _ in rounds),
            sum(own for _, own in rounds))
