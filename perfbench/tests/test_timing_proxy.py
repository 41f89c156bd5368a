"""The timing proxy must not change what the sinks see from the backend."""

import pickle

from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery
from flink_big_query_connector_spark.streaming.client_provider import StorageWriteClient
from flink_big_query_connector_spark.streaming.config import WriterSettings
from flink_big_query_connector_spark.streaming.sinks import write_with_retry
from tracing import TimingClient, TimingClientProvider

TABLE = "proj.ds.t"


class Recorder:
    def __init__(self):
        self.records = []

    def add(self, batch):
        self.records.extend(batch)


def _proxy(root, **kw):
    rec = Recorder()
    return TimingClient(FakeBigQuery(str(root), **kw), rec), rec


def test_proxy_satisfies_the_client_protocol(tmp_path):
    client, _ = _proxy(tmp_path)
    assert isinstance(client, StorageWriteClient)


def test_provider_is_picklable(tmp_path):
    p = TimingClientProvider(str(tmp_path), Recorder())
    assert isinstance(pickle.loads(pickle.dumps(p)).client(), TimingClient)


def test_already_exists_trims_through_the_proxy(tmp_path):
    client, rec = _proxy(tmp_path)
    stream = client.create_write_stream(TABLE, "BUFFERED", name=f"{TABLE}/streams/s")
    rows = [f'{{"i":{i}}}' for i in range(5)]
    client.append(TABLE, stream, rows[:3], 0)  # a replayed batch's first attempt
    n = write_with_retry(client, TABLE, stream, rows, 0, WriterSettings())
    assert n == 2
    assert client.get_write_stream(TABLE, stream).offset == 5
    outcomes = [r[5] for r in rec.records if r[0] == "append"]
    assert outcomes == ["ok", "OffsetAlreadyExistsError", "ok"]
    client.flush_rows(TABLE, stream, 4)
    assert [r["i"] for r in FakeBigQuery(str(tmp_path)).read_rows(TABLE)] == list(range(5))


def test_oversized_batch_splits_through_the_proxy(tmp_path):
    client, rec = _proxy(tmp_path / "proxy", max_append_bytes=64)
    plain = FakeBigQuery(str(tmp_path / "plain"), max_append_bytes=64)
    rows = [f'{{"i":{i},"pad":"xxxx"}}' for i in range(16)]
    n_proxy = write_with_retry(client, TABLE, "_default", rows, -1, WriterSettings())
    n_plain = write_with_retry(plain, TABLE, "_default", rows, -1, WriterSettings())
    assert n_proxy == n_plain == 16
    appends = [r for r in rec.records if r[0] == "append"]
    assert any(r[5] == "MessageTooLargeError" for r in appends)
    assert sum(r[3] for r in appends if r[5] == "ok") == 16
    proxied = FakeBigQuery(str(tmp_path / "proxy")).read_rows(TABLE)
    assert proxied == plain.read_rows(TABLE)


def test_flush_rows_visibility_through_the_proxy(tmp_path):
    client, rec = _proxy(tmp_path)
    stream = client.create_write_stream(TABLE, "BUFFERED", name=f"{TABLE}/streams/b0")
    client.append(TABLE, stream, ['{"i":0}', '{"i":1}'], 0)
    bq = FakeBigQuery(str(tmp_path))
    assert bq.table_count(TABLE) == 0  # buffered rows stay invisible
    assert client.flush_rows(TABLE, stream, 1) == 2
    assert bq.table_count(TABLE) == 2
    assert [r[0] for r in rec.records] == ["create_stream", "append", "flush"]
    assert all(r[2] >= r[1] for r in rec.records)
