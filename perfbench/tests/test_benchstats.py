import math

import pytest

import benchstats
from benchstats import MIN_TAIL_SAMPLES, percentile


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(100)), 90) == 89  # 10 samples beyond
    assert percentile(list(range(99)), 90) is None  # only 9 beyond
    assert percentile(list(range(40)), 75) == 29
    assert percentile(list(range(39)), 75) is None
    assert percentile([], 90) is None


@pytest.mark.parametrize("n", [1, 5, 20, 100, 250])
@pytest.mark.parametrize("q", [75, 90, 95, 99])
def test_reported_percentiles_always_have_enough_tail(n, q):
    values = [float(i) for i in range(n)]
    v = percentile(values, q)
    if v is not None:
        assert sum(x > v for x in values) >= MIN_TAIL_SAMPLES


def test_median_is_always_reported():
    assert benchstats.median([3.0]) == 3.0
    assert benchstats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_op_geomean_weights_each_kind_equally():
    one = benchstats.op_geomean_ms({"a": [10.0, 10.0], "b": [40.0]})
    twice_faster = benchstats.op_geomean_ms({"a": [5.0, 5.0], "b": [40.0]})
    assert one == pytest.approx(20.0)
    assert one / twice_faster == pytest.approx(math.sqrt(2))


def test_union_length_counts_overlap_once():
    assert benchstats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert benchstats.union_length([]) == 0


def test_self_time_and_unattributed_time():
    import tracing

    spans = [
        {"id": 0, "name": "round", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "stream.await", "start": 1.0, "end": 5.0, "parent": 0},
        {"id": 2, "name": "sinks.write_batch", "start": 2.0, "end": 4.0, "parent": None},
        # two executor calls in parallel inside the write_batch span
        {"id": 3, "name": "backend.append", "start": 2.5, "end": 3.0, "parent": None},
        {"id": 4, "name": "backend.append", "start": 2.6, "end": 3.2, "parent": None},
        {"id": 5, "name": "datasource.load", "start": 6.0, "end": 9.0, "parent": 0},
    ]
    tracing.assign_parents(spans)
    assert [s["parent"] for s in spans] == [None, 0, 1, 2, 2, 0]
    own = tracing.self_times(spans)
    assert own["streaming.engine"] == pytest.approx(2.0)
    assert own["streaming.sinks"] == pytest.approx(1.3)
    assert own["sources.fake_bigquery"] == pytest.approx(1.1)
    assert own["sources.bq_datasource"] == pytest.approx(3.0)
    assert tracing.unattributed_s(spans) == pytest.approx((10.0, 3.0))
