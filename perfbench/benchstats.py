"""Order statistics and metric assembly for the benchmark.

Everything here is pure Python over plain lists and dicts, so the rules
the benchmark reports by (which percentile may be reported, how a
workload's operations fold into one latency figure) are unit-tested
without a Spark session.
"""

from __future__ import annotations

import json
import math
import os

# A percentile is reported only when at least this many samples lie
# strictly beyond it; below that the tail is one or two unlucky samples.
MIN_TAIL_SAMPLES = 10

_SPEC_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)


def load_spec(path: str = _SPEC_PATH) -> dict:
    """The benchmark's own metric contract (names, units, bounds)."""
    with open(path) as f:
        return json.load(f)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile above the median, or ``None`` when
    fewer than ``MIN_TAIL_SAMPLES`` samples lie beyond it (the median
    itself is always reported: see :func:`median`)."""
    if not 50 < q < 100:
        raise ValueError(f"tail percentile {q} outside (50, 100)")
    n = len(values)
    rank = math.ceil(q / 100.0 * n)  # 1-based nearest rank
    if n == 0 or n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank - 1]


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive samples, got {values!r}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def op_geomean_ms(ops_by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.

    One kind (the micro-batch of ``stream_eo_small``) reduces to that
    kind's median; several kinds (ingest batch, load and scan, or one kind
    per registry key) each get equal weight, so a 2x gain on any one of
    them moves the figure by the same factor."""
    kinds = {k: v for k, v in ops_by_kind.items() if v}
    if not kinds:
        raise ValueError("no completed operations")
    return geomean([median(v) for v in kinds.values()])


def end_to_end(
    ops_by_kind: dict[str, list[float]],
    rows: int,
    wall_s: float,
    setup_s: float,
) -> dict[str, float]:
    """The end-to-end figures every workload reports (see BENCHMARK.json)."""
    if wall_s <= 0 or rows <= 0:
        raise ValueError(f"no work measured (rows={rows}, wall={wall_s})")
    return {
        "setup_s": setup_s,
        "op_geomean_ms": op_geomean_ms(ops_by_kind),
        "rows_per_s": rows / wall_s,
    }


def with_units(values: dict[str, float], specs: list[dict]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for exactly the metrics in ``specs``.

    A name in ``specs`` with no measured value is an error: the benchmark
    must never silently drop a metric it promises."""
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in specs
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
