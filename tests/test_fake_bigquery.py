"""FakeBigQuery backend semantics (the MockJsonClientProvider analogue)."""

import pytest

from flink_big_query_connector_spark.sources.fake_bigquery import (
    DEFAULT_STREAM,
    FakeBigQuery,
)
from flink_big_query_connector_spark.streaming.errors import (
    BigQueryError,
    MessageTooLargeError,
    OffsetAlreadyExistsError,
    OffsetOutOfRangeError,
    StatusCode,
    StreamFinalizedError,
    StreamNotFoundError,
)


def rows(n, start=0):
    return [{"value": i} for i in range(start, start + n)]


def test_default_stream_append_visible(bq):
    bq.append("t1", DEFAULT_STREAM, rows(3))
    assert bq.table_count("t1") == 3
    assert bq.read_rows("t1") == rows(3)


def test_default_stream_rejects_explicit_offset(bq):
    """Storage API semantics: offsets are only meaningful on BUFFERED
    (and PENDING/COMMITTED) streams; the default stream rejects them with
    INVALID_ARGUMENT instead of silently ignoring the offset."""
    import pytest

    from flink_big_query_connector_spark.streaming.errors import (
        BigQueryError,
        StatusCode,
    )

    bq.append("t1", DEFAULT_STREAM, rows(2))  # offset -1: fine
    with pytest.raises(BigQueryError) as e:
        bq.append("t1", DEFAULT_STREAM, rows(2), 2)
    assert e.value.code == StatusCode.INVALID_ARGUMENT
    assert bq.table_count("t1") == 2  # rejected append stored nothing


def test_buffered_stream_offsets(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    assert bq.append("t1", s, rows(2), 0) == 2
    assert bq.append("t1", s, rows(2, 2), 2) == 4
    # buffered rows invisible until flushed
    assert bq.table_count("t1") == 0
    bq.flush_rows("t1", s, 3)
    assert bq.table_count("t1") == 4


def test_offset_already_exists_carries_expected_actual(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(4), 0)
    with pytest.raises(OffsetAlreadyExistsError) as e:
        bq.append("t1", s, rows(4), 2)
    assert e.value.expected_offset == 2
    assert e.value.actual_offset == 4


def test_offset_out_of_range(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    with pytest.raises(OffsetOutOfRangeError):
        bq.append("t1", s, rows(1), 5)


def test_finalized_stream_rejects_appends(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.finalize_stream("t1", s)
    with pytest.raises(StreamFinalizedError):
        bq.append("t1", s, rows(1), 0)


def test_get_write_stream_not_found(bq):
    with pytest.raises(StreamNotFoundError):
        bq.get_write_stream("t1", "missing")


def test_message_size_limit(bq):
    big = [{"value": "x" * 11_000_000}]
    with pytest.raises(MessageTooLargeError):
        bq.append("t1", DEFAULT_STREAM, big)


def test_scripted_failures_fifo(bq):
    bq.script_append_failures(["UNAVAILABLE", "OK"])
    with pytest.raises(BigQueryError) as e:
        bq.append("t1", DEFAULT_STREAM, rows(1))
    assert e.value.code == StatusCode.UNAVAILABLE
    bq.append("t1", DEFAULT_STREAM, rows(1))  # second entry is OK
    assert bq.table_count("t1") == 1


def test_flush_replay_tolerated(bq):
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(3), 0)
    bq.flush_rows("t1", s, 2)
    bq.flush_rows("t1", s, 2)  # committer replay: ALREADY_EXISTS tolerated
    assert bq.table_count("t1") == 3


def test_cross_handle_durability(tmp_path):
    root = str(tmp_path / "bq")
    FakeBigQuery(root).append("t1", DEFAULT_STREAM, rows(2))
    assert FakeBigQuery(root).table_count("t1") == 2


def test_message_size_limit_counts_utf8_bytes(tmp_path):
    """Two rows of 2-byte characters: 88 characters, under a 100-byte
    limit, but 158 UTF-8 bytes, over it.  The append is refused, and the
    retry machine splits it into two appends that land."""
    from flink_big_query_connector_spark.streaming.batching import json_size_of
    from flink_big_query_connector_spark.streaming.config import WriterSettings
    from flink_big_query_connector_spark.streaming.sinks import write_with_retry

    bq = FakeBigQuery(str(tmp_path / "bq"), max_append_bytes=100)
    payload = ['{"s":"' + "é" * 35 + '"}'] * 2
    assert sum(len(p) + 1 for p in payload) < 100
    assert sum(json_size_of(p) for p in payload) == 158
    with pytest.raises(MessageTooLargeError):
        bq.append("t1", DEFAULT_STREAM, payload)
    assert bq.table_count("t1") == 0
    assert write_with_retry(bq, "t1", DEFAULT_STREAM, payload, -1, WriterSettings()) == 2
    assert bq.read_rows("t1") == [{"s": "é" * 35}] * 2
    assert len(bq._append_index("t1", DEFAULT_STREAM)[0]) == 2


def test_append_index_records_first_row_and_byte_offset(bq):
    """One ``<first row> <byte offset>`` entry per append; windows hold
    exactly the appends that cover a row range."""
    s = bq.create_write_stream("t1", "BUFFERED")
    bq.append("t1", s, rows(3), 0)
    bq.append("t1", s, [], 3)  # an empty append stores nothing
    bq.append("t1", s, rows(2, 3), 3)
    bq.append("t1", s, rows(4, 5), 5)
    first_rows, offsets = bq._append_index("t1", s)
    assert first_rows == [0, 3, 5]
    line = len('{"value": 0}\n')
    assert offsets == [0, 3 * line, 5 * line]
    assert bq.read_window("t1", s, 3, 5) == (3, b'{"value": 3}\n{"value": 4}\n')
    first, data = bq.read_window("t1", s, 4, 6)
    assert first == 3 and data.count(b"\n") == 6
    assert bq.stored_bytes("t1", s, 3) == 3 * line
    assert bq.stored_bytes("t1", s, 4) == 5 * line
    assert bq.stored_bytes("t1", s, 9) == 9 * line
