"""The fakebigquery DSv2 JSON path: the column-at-a-time encoder both
writers use, range-local split reads and byte-sized split planning."""

import json
import os
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from flink_big_query_connector_spark.sources import bq_datasource as dsrc
from flink_big_query_connector_spark.sources.fake_bigquery import (
    FakeBigQuery,
    default_stream_name,
)

# ---------------------------------------------------------------------------
# encoder parity with json.dumps of to_pylist (what the writers stored before)
# ---------------------------------------------------------------------------

_ARROW_SCHEMA = pa.schema(
    [
        ("i", pa.int64()),
        ("i32", pa.int32()),
        ("d", pa.float64()),
        ("f", pa.float32()),
        ("b", pa.bool_()),
        ("s", pa.string()),
        ("dt", pa.date32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("ts_ist", pa.timestamp("us", tz="Asia/Kolkata")),
        ("tn", pa.timestamp("us")),
        ("dec", pa.decimal128(14, 4)),
        ("dec18", pa.decimal128(38, 18)),
        ("arr", pa.list_(pa.float64())),
        ("nested", pa.list_(pa.list_(pa.string()))),
        ("st", pa.struct([("x", pa.int64()), ("y", pa.string())])),
    ]
)

_doubles = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from(
        [0.0, -0.0, 1.0, 100.0, 1e16, 5e-324, 1e15, 1e-5, float("nan"),
         float("inf"), float("-inf"), 2.0**53]
    ),
)
_text = st.text(max_size=20) | st.sampled_from(
    ['a"b', "back\\slash", "\x00\x01\n\r\t\x08\x0c\x1f\x7f", "é日本🎉", ""]
)
_naive = st.datetimes(min_value=datetime(1, 1, 2), max_value=datetime(9999, 12, 30))


def _decimals(int_digits, places):
    bound = 10**int_digits
    return st.decimals(
        min_value=-bound, max_value=bound, places=places,
        allow_nan=False, allow_infinity=False,
    )


def _opt(strategy):
    return st.none() | strategy


_row = st.fixed_dictionaries(
    {
        "i": _opt(st.integers(-(2**63), 2**63 - 1)),
        "i32": _opt(st.integers(-(2**31), 2**31 - 1)),
        "d": _opt(_doubles),
        "f": _opt(st.floats(width=32)),
        "b": _opt(st.booleans()),
        "s": _opt(_text),
        "dt": _opt(st.dates()),
        "ts": _opt(_naive.map(lambda v: v.replace(tzinfo=timezone.utc))),
        # a zone whose offset has had no seconds part since 1945
        "ts_ist": _opt(
            st.datetimes(min_value=datetime(1950, 1, 1), max_value=datetime(2100, 1, 1))
            .map(lambda v: v.replace(tzinfo=timezone.utc))
        ),
        "tn": _opt(_naive),
        "dec": _opt(_decimals(9, 4)),
        "dec18": _opt(_decimals(6, 18)),
        "arr": _opt(st.lists(_opt(_doubles), max_size=4)),
        "nested": _opt(st.lists(_opt(st.lists(_opt(_text), max_size=3)), max_size=3)),
        "st": _opt(st.fixed_dictionaries({"x": _opt(st.integers(-5, 5)), "y": _opt(_text)})),
    }
)


def _canon(v):
    """json.loads value with types kept apart: 1 vs 1.0 vs True, -0.0 vs
    0.0, and NaN equal to itself."""
    if isinstance(v, float):
        return ("float", repr(v))
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return (type(v).__name__, v)


@settings(max_examples=150, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=12), cut=st.integers(0, 11))
def test_encoder_matches_json_dumps_under_json_loads(rows, cut):
    batch = pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)
    batch = batch.slice(min(cut, len(rows) - 1))  # sliced arrays keep offsets
    got = dsrc._json_lines(batch).to_pylist()
    want = [
        json.dumps(r, separators=(",", ":"), default=str) for r in batch.to_pylist()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert "\n" not in g
        assert _canon(json.loads(g)) == _canon(json.loads(w)), (g, w)


def test_encoder_keeps_float_forms_and_tokens():
    batch = pa.RecordBatch.from_pydict(
        {
            "d": pa.array([1.0, -0.0, float("nan"), float("inf"), float("-inf"), 29.27]),
            "f": pa.array([0.1, 2.0, None, 1.5, 3.0, 0.5], pa.float32()),
        }
    )
    assert dsrc._json_lines(batch).to_pylist() == [
        '{"d":1.0,"f":0.10000000149011612}',
        '{"d":-0.0,"f":2.0}',
        '{"d":NaN,"f":null}',
        '{"d":Infinity,"f":1.5}',
        '{"d":-Infinity,"f":3.0}',
        '{"d":29.27,"f":0.5}',
    ]


def test_encoder_lines_byte_identical_for_event_columns(sf_dir):
    """The connector benchmark's columns (ints, ASCII strings holding
    quotes, two-decimal doubles, integer micros) encode to exactly the
    bytes json.dumps wrote."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.append_column("mts", tbl["ts"].cast(pa.int64())).drop(["ts"])
    for batch in tbl.to_batches(max_chunksize=997):
        want = [json.dumps(r, separators=(",", ":")) for r in batch.to_pylist()]
        assert dsrc._json_lines(batch).to_pylist() == want


def test_chunks_bounded_by_rows_and_utf8_bytes():
    """Greedy cut on UTF-8 bytes (2-byte characters count twice), rows
    carried across batch boundaries, an oversized row alone."""
    lines = [{"s": "é" * 40}] * 7 + [{"s": "x" * 500}] + [{"s": "a"}] * 5
    batches = [
        pa.RecordBatch.from_pylist(lines[:4]),
        pa.RecordBatch.from_pylist(lines[4:]),
    ]
    max_bytes = 400  # budget 200 bytes: two 89-byte lines per append
    chunks = list(dsrc._json_chunks(iter(batches), 1000, max_bytes))
    assert [r for c in chunks for r in c] == [
        json.dumps(r, separators=(",", ":"), ensure_ascii=False) for r in lines
    ]
    assert [len(c) for c in chunks] == [2, 2, 2, 1, 1, 5]
    for c in chunks:
        assert len(c) == 1 or sum(len(r.encode()) + 1 for r in c) <= max_bytes // 2
    by_rows = list(dsrc._json_chunks(iter(batches), 3, 10_000_000))
    assert [len(c) for c in by_rows] == [3, 3, 3, 3, 1]


# ---------------------------------------------------------------------------
# range-local reads
# ---------------------------------------------------------------------------

_RT_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("score", DoubleType())]
)


def _reader(root, table, **options):
    reader = dsrc.FakeBigQueryReader(_RT_SCHEMA, {"root": root, "table": table, **options})
    reader.session_tz = "UTC"
    return reader


def _rows_of(reader, split):
    out = []
    for item in reader.read(split):
        if hasattr(item, "to_pylist"):
            out.extend((d["id"], d["score"]) for d in item.to_pylist())
        else:
            out.append(item)
    return out


@pytest.mark.parametrize("nan_in_window", [False, True])
def test_split_reads_only_its_appends(tmp_path, nan_in_window):
    """Bytes outside the appends that hold a split's rows are never
    parsed: garbling them leaves the split's read intact, on the Arrow
    path and on the row fallback (a NaN token forces it)."""
    root, table = str(tmp_path), "p/d/t"
    bq = FakeBigQuery(root)
    stream = default_stream_name(table)
    for a in range(3):
        rows = [{"id": a * 10 + i, "score": i / 2} for i in range(10)]
        if a == 1 and nan_in_window:
            rows[9]["score"] = float("nan")
        bq.append(table, stream, [json.dumps(r) for r in rows])
    data = bq._stream_paths(table, stream)[0]
    _, offsets = bq._append_index(table, stream)
    assert len(offsets) == 3
    with open(data, "rb") as f:
        raw = bytearray(f.read())
    raw[: offsets[1]] = b"\xff" * offsets[1]
    raw[offsets[2] :] = b"not json\n" * 3
    with open(data, "wb") as f:
        f.write(bytes(raw))

    reader = _reader(root, table)
    got = _rows_of(reader, dsrc._RangeSplit(stream, 12, 17))
    assert got == [(12 + i, (2 + i) / 2) for i in range(5)]
    whole = _rows_of(reader, dsrc._RangeSplit(stream, 10, 20))
    assert [r[0] for r in whole] == list(range(10, 20))


def test_stream_without_index_is_read_whole(tmp_path):
    """Streams written before the append index existed still read."""
    root, table = str(tmp_path), "p/d/t"
    bq = FakeBigQuery(root)
    stream = default_stream_name(table)
    for a in range(2):
        bq.append(table, stream, [json.dumps({"id": a * 5 + i, "score": 1.0}) for i in range(5)])
    os.remove(bq._index_path(table, stream))
    assert _rows_of(_reader(root, table), dsrc._RangeSplit(stream, 3, 8)) == [
        (i, 1.0) for i in range(3, 8)
    ]
    assert bq.stored_bytes(table, stream, 10) == os.path.getsize(
        bq._stream_paths(table, stream)[0]
    )


# ---------------------------------------------------------------------------
# split planning
# ---------------------------------------------------------------------------


def _fill(root, table, n_appends, rows_per_append=50):
    bq = FakeBigQuery(root)
    stream = default_stream_name(table)
    for a in range(n_appends):
        bq.append(
            table, stream,
            # fixed-width ids: every append stores the same bytes
            [json.dumps({"id": 10_000 + a * rows_per_append + i, "score": 0.5})
             for i in range(rows_per_append)],
        )
    return bq.stored_bytes(table, stream, n_appends * rows_per_append)


def test_default_split_count_follows_stored_bytes(tmp_path, monkeypatch):
    root = str(tmp_path)
    one_append = _fill(root, "p/d/one", 1)
    monkeypatch.setattr(dsrc, "_SPLIT_BYTES", one_append)
    for table, n_appends, want in (("p/d/one", 1, 1), ("p/d/three", 3, 3),
                                   ("p/d/twenty", 20, 8)):
        if n_appends > 1:
            _fill(root, table, n_appends)
        splits = _reader(root, table).partitions()
        assert len(splits) == want, table
        assert splits[0].start == 0
        assert splits[-1].end == n_appends * 50
        assert all(a.end == b.start for a, b in zip(splits, splits[1:]))


@pytest.mark.parametrize("n", [1, 3, 6, 7, 16])
def test_partitions_option_is_the_split_count(tmp_path, n):
    root = str(tmp_path)
    _fill(root, "p/d/t", 2)  # 100 rows, far under one default split
    splits = _reader(root, "p/d/t", partitions=str(n)).partitions()
    assert len(splits) == n
    assert sum(s.end - s.start for s in splits) == 100


# ---------------------------------------------------------------------------
# on-disk text is stable through write -> read -> write
# ---------------------------------------------------------------------------


def _stored_lines(root, table):
    bq = FakeBigQuery(root)
    out = []
    for stream in bq.list_streams(table):
        with open(bq._stream_paths(table, stream)[0], "rb") as f:
            out.extend(f.read().splitlines())
    return sorted(out)


def test_write_read_write_is_byte_stable(spark, tmp_path):
    dsrc.register(spark)
    root = str(tmp_path / "bq")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", TimestampType()),
            StructField("tn", TimestampNTZType()),
            StructField("d", DateType()),
            StructField("dec", DecimalType(14, 4)),
            StructField("arr", ArrayType(DoubleType())),
        ]
    )
    rows = [
        (
            i,
            datetime(2024, 3, 1 + i % 28, 12, i % 60, 7, 1000 * i % 1_000_000),
            datetime(2024, 3, 1, 0, 0, i % 60),
            date(2024, 1, 1 + i % 28),
            Decimal(f"{i}.{i % 10}001"),
            [float(i), i / 3.0, None],
        )
        for i in range(60)
    ] + [(999, None, None, None, None, None)]

    def write(df, table):
        (df.write.format(dsrc.SOURCE_NAME).option("root", root)
         .option("table", table).mode("overwrite").save())

    write(spark.createDataFrame(rows, schema).repartition(3), "p/d/a")
    back = spark.read.format(dsrc.SOURCE_NAME).option("root", root).option(
        "table", "p/d/a").load()
    write(back, "p/d/b")
    first, second = _stored_lines(root, "p/d/a"), _stored_lines(root, "p/d/b")
    assert first == second
    line = json.loads(next(ln for ln in first if b'"id":1,' in ln))
    # the offset-carrying timestamp text is the on-disk form
    assert line["ts"] == "2024-03-02 12:01:07.001000+00:00"
    assert line["tn"] == "2024-03-01 00:00:01"
