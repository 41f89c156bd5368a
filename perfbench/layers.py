"""Per-layer metrics of a traced run, named as in BENCHMARK.json.

Every name is emitted on every workload.  A layer the workload does not
use reports 0 (no calls, no time): ``query_mix`` reports zero appends,
which is the prediction that sink changes leave it alone, and
``connector`` reports zero plan builds.
"""

from __future__ import annotations

from benchstats import median

STREAM_PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                 "walCommit", "commitOffsets")


def _med(values) -> float:
    values = [v for v in values if v is not None]
    return median(values) if values else 0.0


def session_layer(setup: dict) -> dict:
    return {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.jvm_peak_rss_mb": setup["jvm_peak_rss_mb"],
    }


def sink_layer(spans: list[dict], kind: str, sink_delta: dict, batch_rows: int) -> dict:
    """One sink (``buffered`` or ``default``) as the traced rounds saw it:
    its wrapped ``write_batch`` spans, the proxy-client calls inside them
    and its own ``SinkMetrics``."""
    wb = [s for s in spans if s["name"] == "sinks.write_batch" and s.get("sink") == kind]
    ids = {w["id"] for w in wb}
    calls = [s for s in spans
             if s["name"].startswith("backend.") and s["parent"] in ids]
    appends = [s for s in calls if s["name"] == "backend.append"]
    # partitions that appended, per micro-batch (assign_parents placed each
    # executor call inside the write_batch span it ran under)
    by_batch: dict[int, set] = {}
    for s in calls:
        if s.get("task") is not None:
            by_batch.setdefault(s["parent"], set()).add(tuple(s["task"]))
    parts = [len(by_batch.get(i, ())) for i in ids]
    offered = sum(s["rows"] for s in appends)
    p = f"sinks.{kind}."
    return {
        p + "write_batch_ms.p50": _med([(s["end"] - s["start"]) * 1000 for s in wb]),
        p + "partitions_per_batch": sum(parts) / len(parts) if parts else 0.0,
        p + "appends": sink_delta.get("batch_count", 0),
        p + "append_rows": sink_delta.get("append_rows", 0),
        p + "append_bytes": sum(s["bytes"] for s in appends if s["outcome"] == "ok"),
        p + "retries": sink_delta.get("retry_count", 0),
        p + "splits": sink_delta.get("split_batch_count", 0),
        p + "rows_kept_ratio": batch_rows / offered if offered else 0.0,
    }


def backend_layer(spans: list[dict]) -> dict:
    """``sources.fake_bigquery`` through the timing proxy, both sinks."""
    calls = [s for s in spans if s["name"].startswith("backend.")]

    def ms(verb):
        return [(s["end"] - s["start"]) * 1000 for s in calls
                if s["name"] == f"backend.{verb}"]

    return {
        "backend.append_calls": len(ms("append")),
        "backend.append_ms.total": sum(ms("append")),
        "backend.append_ms.p50": _med(ms("append")),
        "backend.create_stream_ms.total": sum(ms("create_stream")),
        "backend.flush_ms.total": sum(ms("flush")),
        "backend.get_stream_ms.total": sum(ms("get_stream")),
    }


def stream_layer(batches: list[dict]) -> dict:
    """Structured Streaming phases from ``recentProgress`` durationMs."""
    out = {
        f"stream.{p}_ms.p50": _med([b["phases"].get(p) for b in batches])
        for p in STREAM_PHASES
    }
    out["stream.non_sink_ms.p50"] = _med([
        b["phases"].get("triggerExecution", 0) - b["phases"].get("addBatch", 0)
        for b in batches
    ])
    return out


def datasource_layer(loads, scans, scan_partitions, stored_bytes_per_row) -> dict:
    stored = sum(s["rows"] for s in scans)
    return {
        "datasource.load_s": _med([o["ms"] / 1000 for o in loads]),
        "datasource.scan_s": _med([o["ms"] / 1000 for o in scans]),
        "datasource.scan_partitions": _med(scan_partitions),
        "datasource.rows_out_per_row_stored": (
            sum(s["rows_out"] for s in scans) / stored if stored else 0.0),
        "backend.stored_bytes_per_row": stored_bytes_per_row,
    }


def plans_layer(keys, phase_ms: dict, build_jobs: dict, released: dict) -> dict:
    out = {}
    for key in keys:
        ph = phase_ms.get(key, {})
        out[f"plans.{key}.build_s"] = _med([v / 1000 for v in ph.get("build", [])])
        out[f"plans.{key}.build_jobs"] = _med(build_jobs.get(key, []))
        out[f"plans.{key}.execute_s"] = _med([v / 1000 for v in ph.get("execute", [])])
        out[f"cache.{key}.released"] = _med(released.get(key, []))
    return out
