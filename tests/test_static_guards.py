"""Static source guards.

Round 2 died on a testdata physical-type flip (events.ts shipped as both
int64-nanos and timestamp[us] across driver rounds); the fix was to route
ALL event-time access through ``ts_micros`` / ``ts_event_time`` in
``sources/tables.py``.  These tests make a recurrence impossible to land:
any raw ``ts`` arithmetic outside the helper module fails the suite
before it can fail a driver round.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "flink_big_query_connector_spark"

# Each pattern is one way a plan can hard-wire the physical type of
# events.ts.  `col("ts").cast(...)` breaks on the int64-nanos read
# (interprets nanos as seconds); `ts div 1000` and `unix_micros(col("ts"))`
# break on the timestamp read; `withWatermark("ts", ...)` rejects the NTZ
# read.  All four must go through the helpers instead.
FORBIDDEN = [
    re.compile(r"""col\(['"]ts['"]\)\s*\.\s*cast"""),
    re.compile(r"""['"`]ts div 1000"""),
    re.compile(r"""unix_micros\(\s*F\.col\(['"]ts['"]\)\s*\)"""),
    re.compile(r"""withWatermark\(\s*['"]ts['"]"""),
    re.compile(r"""timestamp_micros\(\s*F\.col\(['"]ts['"]\)"""),
]

ALLOWED_FILES = {PKG / "sources" / "tables.py"}


def test_no_raw_ts_arithmetic_outside_tables_helpers():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path in ALLOWED_FILES:
            continue
        text = path.read_text()
        for lineno, line in enumerate(text.splitlines(), 1):
            for pat in FORBIDDEN:
                if pat.search(line):
                    offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, (
        "raw events.ts arithmetic outside sources/tables.py — use "
        "ts_micros()/ts_event_time() instead:\n" + "\n".join(offenders)
    )


def test_vector_contract_no_raw_embeddings_in_similarity_oracles():
    """The vector contract (NULL embeddings never reach a similarity
    operator; registry.py::_finalize_oracle) cannot be bypassed by a new
    query: any registered oracle that touches the embeddings table must
    read it through the materialized ``embx`` CTE, and any Spark query in
    llm_ops must go through ``_emb(t)`` rather than ``t["embeddings"]``."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    from flink_big_query_connector_spark.plans import REGISTRY

    offenders = [
        name
        for name, d in REGISTRY.items()
        if d.oracle is not None
        and re.search(r"\bFROM\s+embeddings\b", d.oracle)
        and "embx" not in d.oracle
    ]
    assert offenders == [], offenders

    src = (PKG / "plans" / "llm_ops.py").read_text()
    raw_uses = [
        lineno
        for lineno, line in enumerate(src.splitlines(), 1)
        if 't["embeddings"]' in line and "def _emb" not in line
        # the helper's own body is the single allowed access
        and "return t" not in line
    ]
    assert raw_uses == [], raw_uses


def test_driver_rotation_order_is_derived_from_audit_files():
    """The queries()/oracle_sql() surface order is LOAD-BEARING (an
    external correctness driver samples a prefix): keys whose latest
    driver row FAILED come first (name-sorted — a red row must re-enter
    the very next window), then never-driver-checked keys (name-sorted),
    then green keys least-recently-checked first.  This pins the
    self-maintaining rule in plans/registry.py::_surface_order so a
    refactor cannot silently regress failed or new queries out of the
    audit window."""
    import __spark_entry__ as entry
    from flink_big_query_connector_spark.plans.registry import (
        _driver_checked_rounds,
    )

    order = list(entry.queries())
    last_seen = _driver_checked_rounds()
    failed = [
        n for n in order if n in last_seen and not last_seen[n][1]
    ]
    never = [n for n in order if n not in last_seen]
    green = [n for n in order if n in last_seen and last_seen[n][1]]
    # contiguous tiers: failed, then never-checked, then green-LRU
    assert order == failed + never + green
    assert failed == sorted(failed)
    assert never == sorted(never)
    rounds = [last_seen[n][0] for n in green]
    assert rounds == sorted(rounds)
    # the audit trail exists
    assert last_seen, "no CORRECTNESS_r*.json audit files found"


def test_driver_rotation_failure_tier_semantics(tmp_path):
    """_driver_checked_rounds green rule on synthetic artifacts: latest
    row wins; err / rows / schema / explicit hash False are failures;
    null hash (rows-only check) is green."""
    import json

    from flink_big_query_connector_spark.plans import registry

    def row(err=None, rows=True, schema=True, hash_=True):
        return {
            "err": err, "rows_match": rows, "schema_match": schema,
            "hash_match": hash_, "spark_rows": 1, "oracle_rows": 1,
        }

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green_then_red": row(),
        "red_then_green": row(err="boom", rows=None, schema=None,
                              hash_=None),
        "rows_only": row(hash_=None),
        "hash_red": row(hash_=False),
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "green_then_red": row(err="crash", rows=None, schema=None,
                              hash_=None),
        "red_then_green": row(),
    }))

    seen = registry._driver_checked_rounds(root=tmp_path)
    assert seen["green_then_red"] == (2, False)
    assert seen["red_then_green"] == (2, True)
    assert seen["rows_only"] == (1, True)
    assert seen["hash_red"] == (1, False)


def test_every_batch_registry_key_is_sweep_covered():
    """A new registry query must land in the robustness BATCH_SWEEP
    (empty-table + partitioning-invariance; NULL_SWEEP separately where
    dirty columns apply) — this guard turns the hand-maintained list
    into a checked invariant instead of reviewer memory.  Streaming
    prefixes replay chunk streams and have their own machinery (several
    opt IN anyway); b01_compaction's >=64-row layout precondition raises
    loudly by design and is the one documented exclusion."""
    import re
    from pathlib import Path

    from flink_big_query_connector_spark.plans import REGISTRY

    src = (Path(__file__).parent / "test_robustness.py").read_text()
    m = re.search(r"BATCH_SWEEP = \[(.*?)\]", src, re.S)
    swept = set(re.findall(r'"([^"]+)"', m.group(1)))
    stream_prefixes = (
        "b21_", "b22_", "b23_", "b24_", "b25_", "b26_", "b28_stream"
    )
    excluded = {"b01_compaction"}
    missing = [
        k
        for k in sorted(REGISTRY)
        if k not in swept
        and not k.startswith(stream_prefixes)
        and k not in excluded
    ]
    assert not missing, f"registry keys missing from BATCH_SWEEP: {missing}"


def test_every_oracle_output_is_driver_canonicalizable():
    """No registered oracle may produce a top-level column type the
    DRIVER's pandas-based result canonicalizer cannot hash/sort: BLOB
    and LIST cells are unhashable (r9 driver reds on frame_sample /
    resize / inverted_index), and HUGEINT / DECIMAL(p>18) fetch as
    float64/Decimal that hash-mismatch Spark's int64 even when every
    value is equal (the r8/r9 llm_corpus_export red — an uncast
    SUM(BIGINT)).  DuckDB DESCRIBE types the result without executing
    it, so this covers the whole registry in seconds; schema_match then
    extends the guarantee to the Spark side."""
    import sys

    import duckdb

    sys.path.insert(0, str(PKG.parent))
    from flink_big_query_connector_spark.plans import REGISTRY
    from flink_big_query_connector_spark.sources.tables import TABLES

    sys.path.insert(0, str(PKG.parent / "tools"))
    from check_correctness import duck_type_violations

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    offenders = []
    for name in sorted(REGISTRY):
        sql = REGISTRY[name].oracle
        if sql is None:
            continue
        bad = duck_type_violations(con, sql)
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "driver-uncanonicalizable oracle output columns (surface as "
        "hex/joined string/exploded rows, CAST aggregates to BIGINT):\n"
        + "\n".join(offenders)
    )


def test_bench_headline_line_fits_driver_tail_window():
    """The driver records only the last ~2000 chars of bench output and
    parses the headline JSON line from that window.  Round 10 lost its
    official bench number because in-line telemetry pushed the line past
    the window ("parsed": null in BENCH_r10.json).  Guard both invariants:
    the worst-case headline line stays well under 2000 chars, and bench.py
    writes telemetry to the side file rather than the headline line."""
    import json
    import sys

    sys.path.insert(0, str(PKG.parent))
    import bench

    worst = json.dumps(
        {
            "metric": "headline_query_set_wall_clock",
            "value": 99999.999,
            "unit": "sec",
            "shared21_subtotal": 99999.999,
            "queries": {k: 99999.999 for k in bench.HEADLINE},
            "sf": 0.1,
        }
    )
    assert len(worst) < 1800, (
        f"headline JSON line would be {len(worst)} chars; the driver tail "
        "window is ~2000 — trim HEADLINE or move fields to "
        "BENCH_TELEMETRY.json"
    )

    src = (PKG.parent / "bench.py").read_text()
    assert "BENCH_TELEMETRY.json" in src
    assert '"query_cpu_sec": cpu_s' not in src.split("line = json.dumps")[-1], (
        "per-query CPU telemetry must not ride the headline line"
    )
    # spark.stop() must precede the final print so no shutdown logging
    # lands inside the tail window after the headline line.
    assert src.index("spark.stop()") < src.index("print(line)")


# Sites allowed to use an unpartitioned Window.orderBy, pinned as
# (relative path, exact expected count).  Every such line must ALSO carry
# an inline justification marker: `bounded-window-ok:` (input is already
# top-K/model-sized by construction) or `global-order-ok:` (canonical
# exact-semantics check whose docstring documents the at-scale
# substitute).  Growing this map is a reviewed decision, not a drift.
_GLOBAL_WINDOW_ALLOWLIST = {
    "plans/relational.py": 3,   # b18_median_manual (rank + count-over-all), b11_window_ntile
    "plans/llm_ops.py": 2,      # llm_text_bm25 (<=20 rows), llm_hybrid_rrf (<=40 rows)
}
_WINDOW_MARKERS = ("bounded-window-ok:", "global-order-ok:")


def test_no_unpartitioned_window_orderby_outside_allowlist():
    """An unpartitioned Window.orderBy funnels the whole input through
    ONE task — the r11 verdict's two perf-weak findings
    (llm_quality_cascade calibration rank over 20% of the corpus,
    llm_text_bm25 global row_number) were exactly this shape.  Both are
    fixed (orderBy().limit(k) / TakeOrderedAndProject); this guard bans
    the class from re-entering plans/ and operators/: every
    `Window.orderBy(` not preceded by `.partitionBy(` on the same line
    must carry a justification marker AND sit in the pinned allowlist."""
    counts: dict[str, int] = {}
    offenders = []
    for sub in ("plans", "operators"):
        for path in sorted((PKG / sub).rglob("*.py")):
            rel = str(path.relative_to(PKG))
            for lineno, line in enumerate(path.read_text().splitlines(), 1):
                # two single-partition shapes: an orderBy with no
                # partitioning, and an ARGLESS partitionBy() (a global
                # frame in one task either way)
                unpart_order = (
                    "Window.orderBy" in line and "partitionBy" not in line
                )
                argless_part = "Window.partitionBy()" in line
                if not (unpart_order or argless_part):
                    continue
                if not any(m in line for m in _WINDOW_MARKERS):
                    offenders.append(
                        f"{rel}:{lineno}: unpartitioned Window.orderBy "
                        f"without a bounded-window-ok/global-order-ok "
                        f"marker: {line.strip()}"
                    )
                    continue
                counts[rel] = counts.get(rel, 0) + 1
    assert not offenders, (
        "single-partition global sort risk — partitionBy the window, or "
        "use orderBy().limit(k) (TakeOrderedAndProject) and rank the k "
        "survivors; if the input is provably bounded, add a marker AND "
        "extend _GLOBAL_WINDOW_ALLOWLIST:\n" + "\n".join(offenders)
    )
    assert counts == _GLOBAL_WINDOW_ALLOWLIST, (
        f"marked unpartitioned-window sites {counts} != pinned allowlist "
        f"{_GLOBAL_WINDOW_ALLOWLIST} — update the map ONLY with a "
        "documented bounded/canonical justification"
    )


def test_worker_daemon_imports_only_stdlib_before_path_rewrite():
    """``_worker_path/fbqcs_daemon.py`` drops Spark's archives from the
    worker's path; any import of pyspark, py4j or this package above that
    rewrite would load it from the archives first and bring the per-task
    zip-cache cost back.  Imports above the ``sys.path[:] =`` line must be
    absolute standard-library ones, ``pyspark.daemon`` must run after it,
    and the directory must stay a plain one (an ``__init__.py`` would make
    ``-m`` import the package)."""
    import ast
    import sys

    worker_path = PKG / "_worker_path"
    src = (worker_path / "fbqcs_daemon.py").read_text()
    assert not (worker_path / "__init__.py").exists()
    lines = src.splitlines()
    rewrite = next(i for i, line in enumerate(lines, 1)
                   if line.strip().startswith("sys.path[:] ="))
    run = next(i for i, line in enumerate(lines, 1)
               if "run_module(\"pyspark.daemon\"" in line)
    assert run > rewrite
    offenders = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] if node.level == 0 else ["."]
        else:
            continue
        if node.lineno > rewrite:
            continue
        for name in names:
            top = name.split(".")[0]
            if top != "__future__" and top not in sys.stdlib_module_names:
                offenders.append(f"line {node.lineno}: {name}")
    assert not offenders, offenders
