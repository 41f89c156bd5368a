"""Output checks.  Every check runs after the timed loop, never inside it.

Each check returns the ids of the operations whose output is wrong, so a
run reports ``failed`` per operation (micro-batch, load, scan, query), not
one flag per run.
"""

from __future__ import annotations

from collections import Counter
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

# The event columns every connector workload moves; ``mts`` is the event
# time as integer microseconds (JSON-exact, like the connector queries).
COLUMNS = ("event_id", "user_id", "event_type", "value", "props", "mts")


def rows_of_table(tbl: pa.Table) -> list[tuple]:
    cols = [tbl.column(c).to_pylist() for c in COLUMNS]
    return list(zip(*cols))


def rows_of_dicts(dicts: list[dict]) -> list[tuple]:
    return [tuple(d.get(c) for c in COLUMNS) for d in dicts]


def exactly_once_failures(
    expected: dict[object, list[tuple]], visible: list[tuple]
) -> set:
    """Operations whose rows are not visible exactly as often as written.

    ``expected`` maps an operation id (a micro-batch, a load) to the rows
    it wrote.  An operation fails when any of its rows is missing,
    duplicated or altered.  When every operation passes, visible rows that
    no operation wrote fail the pseudo-operation ``"unexpected"``, so the
    count never exceeds the operations attempted."""
    want: Counter = Counter()
    for rows in expected.values():
        want.update(rows)
    got = Counter(visible)
    bad_rows = {r for r in want if got.get(r, 0) != want[r]}
    failed = {
        op for op, rows in expected.items() if any(r in bad_rows for r in rows)
    }
    if not failed and any(r not in want for r in got):
        failed.add("unexpected")
    return failed


def _cents(values: pa.Array) -> int:
    if len(values) == 0:
        return 0
    return int(pc.sum(pc.round(pc.multiply(values, 100.0)).cast(pa.int64())).as_py())


def expected_scan(tbl: pa.Table, types) -> dict[str, tuple[int, Decimal]]:
    """{event_type: (rows, sum of value)} where value > 50 and event_type
    is one of ``types``, computed with Arrow over the written rows (values
    carry two decimals, so the sum is exact in cents)."""
    out = {}
    for et in types:
        mask = pc.and_(
            pc.greater(tbl["value"], 50.0), pc.equal(tbl["event_type"], et)
        )
        sub = tbl.filter(mask)
        if sub.num_rows:
            out[et] = (sub.num_rows, Decimal(_cents(sub["value"])) / 100)
    return out


def query_matches(canon_rows, spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    """Hash-compare a registry key's Spark result with its DuckDB oracle
    using the correctness harness's own canonicalization."""
    sc, sr = canon_rows(spark_cols, spark_rows)
    oc, orr = canon_rows(oracle_cols, oracle_rows)
    return sc == oc and sr == orr
