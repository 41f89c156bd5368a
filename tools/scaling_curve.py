"""Tri-scale wall-time curves for the heaviest registry entries.

The bench set proves per-query speed at one scale; this tool proves the
GROWTH SHAPE — the 100x-scale-up evidence.  Each query runs at
sf0.001 / sf0.01 / sf0.1 (100x data growth across the sweep) and the
table reports wall time plus the growth ratio per 10x data step.  A
near-linear operator should grow well under 10x per step on local[32]
at these sizes (fixed overheads — session, micro-batch replay, plan
build — dominate small scales, so ratios below ~3 are typical; a ratio
APPROACHING 10 means the data term dominates and anything clearly above
10 is super-linear and a scale bug).

Usage:  python tools/scaling_curve.py [label=dir ...] [query ...]
        (default queries: the slowest multi-batch/iterative registry
        entries; default scales: the three driver dirs)

Args of the form ``label=dir`` override the scale points — e.g. an sf1
decade generated by tools/gen_testdata.py:

    python tools/gen_testdata.py /tmp/sf1 1 42
    python tools/scaling_curve.py sf0.1=/root/testdata/sf0.1 \
        sf1=/tmp/sf1 llm_bpe_encode ...

Prints one JSON line {"query": {"<label>": s, ..., "ratio_<label>": r}}
after a human table; each ratio divides by the previous scale point.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_big_query_connector_spark import plans  # noqa: E402
from flink_big_query_connector_spark.cache import release_caches  # noqa: E402
from flink_big_query_connector_spark.session import get_spark  # noqa: E402

DEFAULT_QUERIES = [
    "b24_stream_neardup_history",
    "llm_dedup_canonical_centrality",
    "llm_dedup_cluster",
    "b21_stream_three_way_join",
    "llm_dedup_minhash_lsh",
    "b26_dsv2_roundtrip",
    "llm_bpe_encode",
]

DEFAULT_SCALES = [
    ("sf0.001", "/root/testdata/sf0.001"),
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
]


def main() -> None:
    scales: list[tuple[str, str]] = []
    names: list[str] = []
    for arg in sys.argv[1:]:
        if "=" in arg:
            label, path = arg.split("=", 1)
            scales.append((label, path))
        else:
            names.append(arg)
    scales = scales or DEFAULT_SCALES
    names = names or DEFAULT_QUERIES
    spark = get_spark()
    out: dict[str, dict] = {}
    for name in names:
        fn = plans.REGISTRY[name].fn
        row: dict[str, float] = {}
        for label, sf_dir in scales:
            # time plan build + execution the way the driver observes it
            t0 = time.monotonic()
            fn(spark, sf_dir).collect()
            row[label] = round(time.monotonic() - t0, 2)
            release_caches(spark)
        for (pl, _), (cl, _) in zip(scales, scales[1:]):
            row[f"ratio_{cl}"] = round(row[cl] / row[pl], 2) if row[pl] else None
        out[name] = row
        cells = " ".join(f"{row[l]:9.2f}s" for l, _ in scales)
        ratios = " ".join(
            f"x{row[f'ratio_{l}']}" for l, _ in scales[1:]
        )
        print(f"{name:34s} {cells}   {ratios}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
