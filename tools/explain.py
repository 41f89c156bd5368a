"""Print the formatted physical plan of any registry query.

Usage:  python tools/explain.py <query_name> [sf_dir]

The plan is the scale argument: look for PushedFilters/PartitionFilters on
scans, BroadcastHashJoin on dim joins, partial_* aggregates before
exchanges, and the absence of unexpected Exchange nodes.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_big_query_connector_spark import plans  # noqa: E402
from flink_big_query_connector_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        names = sorted(plans.REGISTRY)
        print(f"{len(names)} registry queries:")
        for n in names:
            print(" ", n)
        return
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark("explain", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    df = plans.REGISTRY[name].fn(spark, sf_dir)
    df.explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
