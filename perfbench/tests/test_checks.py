"""A deliberately corrupted output must raise the failure count."""

from decimal import Decimal
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
from workloads import Connector


def _events(n, start=0):
    return pa.table({
        "event_id": pa.array(range(start, start + n), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000 + i for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
        "event_type": ["click", "purchase", "view", "signup"] * (n // 4),
        "value": [round(10.25 * (i % 9), 2) for i in range(n)],
        "props": [None if i % 3 else f'{{"k":{i}}}' for i in range(n)],
    })


@pytest.fixture()
def stream_run(tmp_path):
    """Two exactly-once micro-batches written through the 2PC verbs, as
    the connector workload's buffered sink leaves them."""
    wl = Connector(SimpleNamespace(work=str(tmp_path), log=lambda m: None))
    wl.root = str(tmp_path / "bq")
    wl.eo_fed, wl.ingested, wl.loaded, wl.scans = {}, {}, {}, []
    bq = FakeBigQuery(wl.root)
    for b in range(2):
        path = str(tmp_path / f"chunk-{b}.parquet")
        pq.write_table(_events(8, start=100 * b), path)
        wl.eo_fed[b] = path
        tbl, _ = checks_rows(path)
        stream = bq.create_write_stream(wl.EO_TABLE, "BUFFERED",
                                        name=f"{wl.EO_TABLE}/streams/b{b}-p0")
        bq.append(wl.EO_TABLE, stream, [_json(r) for r in tbl], 0)
        bq.flush_rows(wl.EO_TABLE, stream, len(tbl) - 1)
    return wl, bq


def checks_rows(path):
    tbl = pq.read_table(path)
    tbl = tbl.append_column("mts", tbl["ts"].cast(pa.int64())).select(list(checks.COLUMNS))
    return tbl.to_pylist(), checks.rows_of_table(tbl)


def _json(row):
    import json

    return json.dumps(row)


def _rewrite(bq, table, stream, transform):
    data, _ = bq._stream_paths(table, stream)
    with open(data) as f:
        lines = f.read().splitlines()
    with open(data, "w") as f:
        f.write("\n".join(transform(lines)) + "\n")


def test_clean_output_passes(stream_run):
    wl, _ = stream_run
    assert wl.check() == (2, 0)


def test_altered_row_fails_its_batch(stream_run):
    wl, bq = stream_run
    _rewrite(bq, wl.EO_TABLE, f"{wl.EO_TABLE}/streams/b1-p0",
             lambda ls: [ls[0].replace('"value": ', '"value": 1')] + ls[1:])
    assert wl.check() == (2, 1)


def test_duplicated_and_dropped_rows_fail(stream_run):
    wl, bq = stream_run
    data0, _ = bq._stream_paths(wl.EO_TABLE, f"{wl.EO_TABLE}/streams/b0-p0")
    with open(data0) as f:
        first_of_b0 = f.readline().rstrip("\n")
    # batch 1 loses its last row; a row of batch 0 shows up twice
    _rewrite(bq, wl.EO_TABLE, f"{wl.EO_TABLE}/streams/b1-p0",
             lambda ls: ls[:-1] + [first_of_b0])
    assert wl.check() == (2, 2)


def test_exactly_once_failures_names_each_fault():
    a = [(1, 1, "click", 1.0, None, 5), (2, 1, "view", 2.0, None, 6)]
    b = [(3, 2, "view", 3.0, None, 7)]
    ok = a + b
    assert checks.exactly_once_failures({"a": a, "b": b}, ok) == set()
    assert checks.exactly_once_failures({"a": a, "b": b}, a) == {"b"}  # missing
    assert checks.exactly_once_failures({"a": a, "b": b}, ok + b) == {"b"}  # duplicate
    extra = ok + [(9, 9, "x", 0.0, None, 0)]
    assert checks.exactly_once_failures({"a": a, "b": b}, extra) == {"unexpected"}


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_scan_aggregate_fails(stream_run, corrupt):
    wl, _ = stream_run
    chunk = wl.eo_fed[0]
    types = ("click", "purchase")
    got = checks.expected_scan(_expected_table(chunk), types)
    assert got  # the sample has rows on both sides of the filter
    if corrupt:
        got = {k: (n, s + Decimal("0.01")) for k, (n, s) in got.items()}
    wl.scans = [("scan-0", chunk, types, got)]
    assert wl.check() == (3, int(corrupt))


def _expected_table(path):
    tbl = pq.read_table(path)
    return tbl.append_column("mts", tbl["ts"].cast(pa.int64()))
