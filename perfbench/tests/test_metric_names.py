"""Every metric BENCHMARK.json names is emitted, with its unit, on every
workload, from the same assembly code the benchmark runs."""

from types import SimpleNamespace

import pytest

import benchstats
import run

SPEC = benchstats.load_spec()
SETUP = {"get_spark_s": 6.0, "warmup_s": 20.0, "jvm_peak_rss_mb": 800.0}


def _connector():
    ops = []
    for traced in (False, True):
        for i in range(4):
            ops.append({"kind": "eo_batch", "id": i, "ms": 600.0 + i, "rows": 834,
                        "traced": traced,
                        "phases": {"triggerExecution": 600, "addBatch": 400,
                                   "getBatch": 10, "latestOffset": 40,
                                   "queryPlanning": 20, "walCommit": 40,
                                   "commitOffsets": 50}})
        ops.append({"kind": "ingest", "id": 9, "ms": 700.0, "rows": 12500,
                    "traced": traced, "phases": {"triggerExecution": 700}})
        ops.append({"kind": "load", "id": 0, "ms": 950.0, "rows": 12500, "traced": traced})
        ops.append({"kind": "scan", "id": "s", "ms": 1500.0, "rows": 12500,
                    "traced": traced, "rows_out": 900})
    wl = SimpleNamespace(
        name="connector", ops=ops, scan_partitions=[8],
        op_kinds=lambda: ("eo_batch", "ingest", "load", "scan"),
        stored_bytes_per_row=lambda: 113.0,
    )
    delta = {"batch_count": 4, "append_rows": 3336, "append_bytes": 0,
             "split_batch_count": 0, "retry_count": 0, "callback_timeouts": 0}
    rounds = [
        {"traced": False, "rows": 41000, "wall_s": 6.0, "start": 0.0, "end": 6.0},
        {"traced": True, "rows": 41000, "wall_s": 6.0, "start": 6.0, "end": 12.0,
         "sink_delta": {"buffered": delta, "default": delta}},
    ]
    spans = [
        {"id": 0, "name": "round", "start": 6.0, "end": 12.0, "parent": None, "trace": "r"},
        {"id": 1, "name": "stream.await", "start": 6.1, "end": 9.0, "parent": 0, "trace": None},
        {"id": 2, "name": "sinks.write_batch", "start": 6.2, "end": 6.6, "parent": None,
         "trace": "b", "sink": "buffered"},
        {"id": 3, "name": "backend.append", "start": 6.3, "end": 6.31, "parent": None,
         "trace": None, "rows": 834, "bytes": 90000, "outcome": "ok", "task": [3, 0],
         "stream": "s"},
        {"id": 4, "name": "datasource.load", "start": 9.5, "end": 10.4, "parent": 0,
         "trace": None},
    ]
    return wl, rounds, spans


def _query_mix():
    from workloads import QueryMix

    ops = [{"kind": k, "id": k, "ms": 1000.0 + i, "rows": 5000, "traced": t}
           for t in (False, True) for i, k in enumerate(QueryMix.KEYS)]
    wl = SimpleNamespace(
        name="query_mix", ops=ops, op_kinds=lambda: QueryMix.KEYS,
        stored_bytes_per_row=lambda: 0.0,
        phase_ms={k: {"build": [10.0], "execute": [900.0]} for k in QueryMix.KEYS},
        build_jobs={k: [1] for k in QueryMix.KEYS},
        released={k: [0] for k in QueryMix.KEYS},
    )
    rounds = [{"traced": t, "rows": 20000, "wall_s": 4.5, "start": 0.0, "end": 4.5}
              for t in (False, True)]
    spans = [
        {"id": 0, "name": "round", "start": 0.0, "end": 4.5, "parent": None, "trace": "r"},
        {"id": 1, "name": "plans.build", "start": 0.1, "end": 0.2, "parent": 0, "trace": "q"},
        {"id": 2, "name": "plans.execute", "start": 0.2, "end": 1.2, "parent": 0, "trace": "q"},
    ]
    return wl, rounds, spans


@pytest.mark.parametrize("make", [_connector, _query_mix])
def test_every_named_metric_is_emitted_with_its_unit(make):
    wl, rounds, spans = make()
    e2e_u = run._e2e(wl, rounds, 26.0, traced=False)
    e2e_t = run._e2e(wl, rounds, 26.0, traced=True)
    for kind, values in (("end_to_end", e2e_u),
                         ("per_layer", run._per_layer(wl, rounds, spans, SETUP,
                                                      e2e_u, e2e_t)[0])):
        names = [m["name"] for m in SPEC[kind]]
        assert sorted(values) == sorted(names), kind
        emitted = benchstats.with_units(values, SPEC[kind])
        assert list(emitted) == names
        for m in SPEC[kind]:
            assert emitted[m["name"]]["unit"] == m["unit"]
            assert isinstance(emitted[m["name"]]["value"], float)
    assert all(v > 0 for v in e2e_u.values())  # end-to-end figures are never 0


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        benchstats.with_units({"setup_s": 1.0}, SPEC["end_to_end"])


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    from workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
