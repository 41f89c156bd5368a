"""The two workloads: what each stages, warms up, times and checks.

A workload runs in *rounds*.  The timed loop runs whole rounds until the
run's ``--seconds`` have passed, so every timed operation completes and is
checked.  In a traced run rounds alternate untraced/traced, so the tracing
overhead is measured inside one process on the same warm JVM.

Each round appends its completed operations to ``ops`` as
``{"kind", "id", "ms", "rows", "traced"}``; the end-to-end metrics fold
these (see ``benchstats.end_to_end``).
"""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from tracing import TimingClientProvider, backend_spans

EVENTS = "events.parquet"


def _stage_chunks(events: pa.Table, n_chunks: int, seed: int, pool: str) -> list[str]:
    """Cut the generated events (kept in their generated ts order) into
    ``n_chunks`` contiguous files and return them in a seed-permuted
    order: the same seed always stages the same files in the same order."""
    os.makedirs(pool, exist_ok=True)
    per = -(-events.num_rows // n_chunks)
    paths = []
    for i in range(n_chunks):
        p = os.path.join(pool, f"chunk-{i:04d}.parquet")
        pq.write_table(events.slice(i * per, per), p)
        paths.append(p)
    order = np.random.default_rng(seed).permutation(n_chunks)
    return [paths[i] for i in order]


def _event_columns(df):
    """The connector columns, event time as integer micros (JSON-exact)."""
    from flink_big_query_connector_spark.sources.tables import ts_micros

    return df.select(*checks.COLUMNS[:-1], ts_micros(df).alias("mts"))


def _expected_rows(path: str) -> tuple[pa.Table, list[tuple]]:
    tbl = pq.read_table(path)
    tbl = tbl.append_column("mts", tbl["ts"].cast(pa.int64())).select(
        list(checks.COLUMNS)
    )
    return tbl, checks.rows_of_table(tbl)


def _progress_start(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamFeed:
    """A file-source stream fed one staged chunk file per micro-batch.

    Each ``segment`` links the next chunk files into the watched
    directory (with increasing mtimes, so the source takes them in order),
    then drains them with an ``available_now`` query that restarts from
    the same checkpoint: batch ids keep increasing across segments and
    the sink sees one closed-loop caller."""

    def __init__(self, ctx, name: str, chunks: list[str]):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, f"{name}_src")
        self.ckpt = os.path.join(ctx.work, f"{name}_ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.chunks = chunks
        self.fed = 0
        self.df = None

    def stream_df(self):
        if self.df is None:
            spark = self.ctx.spark
            schema = spark.read.parquet(self.chunks[0]).schema
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(self.src)
            )
            self.df = _event_columns(raw)
        return self.df

    def feed(self, n: int) -> list[str]:
        """Link the next ``n`` chunks in; returns their source paths."""
        out = []
        base = time.time() - 86_400
        for _ in range(n):
            k = self.fed
            chunk = self.chunks[k % len(self.chunks)]
            dst = os.path.join(self.src, f"in-{k:05d}.parquet")
            os.link(chunk, dst)
            os.utime(dst, (base + k, base + k))
            out.append(chunk)
            self.fed += 1
        return out

    def segment(self, sink, tracer, span):
        """Run one available-now drain under round span ``span``; returns
        per-batch progress."""
        with tracer.span("stream.query_start", parent=span):
            q = sink.start(self.stream_df(), self.ckpt, available_now=True)
        with tracer.span("stream.await", parent=span):
            q.awaitTermination()
        batches = []
        for p in q.recentProgress:
            if p.numInputRows <= 0:
                continue
            d = dict(p.durationMs)
            start = _progress_start(p.timestamp)
            batches.append({
                "batch": p.batchId, "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0), "phases": d,
                "start": start,
            })
            tracer.add(
                "stream.batch", start, start + d.get("triggerExecution", 0) / 1000,
                trace=f"batch-{p.batchId}", batch=p.batchId,
            )
        return batches


def _traced_sink(sink, kind, tracer):
    """Wrap the sink instance's ``write_batch`` in a per-micro-batch span."""
    inner = sink.write_batch

    def write_batch(df, batch_id):
        with tracer.span("sinks.write_batch", trace=f"{kind}-batch-{batch_id}",
                         batch=batch_id, sink=kind):
            inner(df, batch_id)

    sink.write_batch = write_batch
    return sink


class Workload:
    """Stages inputs (``prepare``), warms up, runs timed rounds and checks
    their outputs (``check`` returns ``(attempted, failed)``)."""

    name = ""
    uses_datasource = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.raised = 0  # operations that raised (their output is unchecked)
        self.inputs: dict = {}

    # -- helpers ------------------------------------------------------------
    def _op(self, kind, op_id, ms, rows, traced, **extra):
        """Record one completed operation's latency."""
        self.ops.append({"kind": kind, "id": op_id, "ms": ms, "rows": rows,
                         "traced": traced, **extra})

    def stored_bytes_per_row(self) -> float:
        """Backend bytes per stored row of the tables the run wrote."""
        return 0.0


class Connector(Workload):
    """Each round: three ~830-row micro-batches through the exactly-once
    2PC sink, two 12.5k-row micro-batches through the at-least-once sink,
    all generated events (100k rows) through the DSv2 batch writer, and
    two filtered, partitioned DSv2 scans of what was loaded."""

    name = "connector"
    uses_datasource = True
    EO_CHUNKS = 120  # ~830 rows each at sf0.1: per-batch fixed costs dominate
    EO_SEGMENT = 3  # exactly-once micro-batches per round
    BULK_CHUNKS = 8  # 12.5k rows each
    BULK_SEGMENT = 2  # at-least-once micro-batches per round
    # event types each scan keeps (with value > 50); both push down
    SCAN_TYPES = (("click", "purchase"), ("error", "signup", "view"))
    EO_TABLE = "proj.ds.events_eo"
    INGEST_TABLE = "proj.ds.events_ingest"

    def prepare(self):
        ctx = self.ctx
        self.events_path = os.path.join(ctx.data, EVENTS)
        events = pq.read_table(self.events_path)
        self.eo_chunks = _stage_chunks(
            events, self.EO_CHUNKS, ctx.seed, os.path.join(ctx.work, "eo_pool"))
        self.bulk_chunks = _stage_chunks(
            events, self.BULK_CHUNKS, ctx.seed, os.path.join(ctx.work, "bulk_pool"))
        self.inputs = {
            "events_rows": events.num_rows,
            "eo_rows_per_batch": -(-events.num_rows // self.EO_CHUNKS),
            "bulk_rows_per_batch": -(-events.num_rows // self.BULK_CHUNKS),
        }

    # -- the four paths ---------------------------------------------------------
    def _sink(self, kind, root, traced, tracer):
        from flink_big_query_connector_spark.streaming.sinks import (
            BufferedStreamSink,
            DefaultStreamSink,
        )

        if kind == "buffered":
            cls, table = BufferedStreamSink, self.EO_TABLE
        else:
            cls, table = DefaultStreamSink, self.INGEST_TABLE
        kwargs = {}
        if traced:
            kwargs = {"metrics": self.ctx.sink_metrics[kind],
                      "client_provider": TimingClientProvider(root, self.ctx.backend_acc)}
        sink = cls(root, table, **kwargs)
        return _traced_sink(sink, kind, tracer) if traced else sink

    def _load(self, path, table, root):
        from flink_big_query_connector_spark.sources import bq_datasource as dsrc

        df = _event_columns(self.ctx.spark.read.parquet(path))
        (df.write.format(dsrc.SOURCE_NAME).option("root", root)
         .option("table", table).mode("overwrite").save())

    def _scan(self, table, root, types):
        """Events with value > 50 of the given types, counted and summed
        per type (both predicates push down into the reader).  Returns
        (result, rows the filter let through)."""
        from pyspark.sql import functions as F

        from flink_big_query_connector_spark.sources import bq_datasource as dsrc

        rows = (self.ctx.spark.read.format(dsrc.SOURCE_NAME)
                .option("root", root).option("table", table).load()
                .filter((F.col("value") > 50.0) & F.col("event_type").isin(*types))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(14,2)")).alias("s"))
                .collect())
        got = {r["event_type"]: (r["n"], r["s"]) for r in rows}
        return got, sum(n for n, _ in got.values())

    def warmup(self, tracer):
        """Every path once, on its own tables: both sinks, a load, the scans."""
        ctx = self.ctx
        root = os.path.join(ctx.work, "bq_warm")
        eo = StreamFeed(ctx, "warm_eo", self.eo_chunks[-2:])
        eo.feed(2)
        eo.segment(self._sink("buffered", root, False, tracer), tracer, None)
        bulk = StreamFeed(ctx, "warm_bulk", self.bulk_chunks[-1:])
        bulk.feed(1)
        bulk.segment(self._sink("default", root, False, tracer), tracer, None)
        self._load(self.events_path, "proj.ds.warm", root)
        for types in self.SCAN_TYPES:
            self._scan("proj.ds.warm", root, types)

    # -- timed rounds -----------------------------------------------------------
    def start_timed(self):
        self.root = os.path.join(self.ctx.work, "bq")
        self.eo_feed = StreamFeed(self.ctx, "eo", self.eo_chunks)
        self.bulk_feed = StreamFeed(self.ctx, "bulk", self.bulk_chunks)
        self.eo_fed: dict = {}  # feed index -> chunk file (one micro-batch)
        self.ingested: dict = {}  # feed index -> chunk file (one micro-batch)
        self.loaded: dict = {}  # round -> (table, ok)
        self.scans: list = []  # (id, source file, types, result)
        self.scan_partitions: list = []

    def _stream_step(self, kind, feed, n, rid, span, traced, tracer, fed):
        files = feed.feed(n)
        first = feed.fed - len(files)
        fed.update((first + k, f) for k, f in enumerate(files))
        try:
            batches = feed.segment(self._sink(kind, self.root, traced, tracer),
                                   tracer, span)
        except Exception as e:  # its batches' rows fail the check
            self.ctx.log(f"round {rid}: {kind} stream failed: {e!r}")
            batches = []
        op = "eo_batch" if kind == "buffered" else "ingest"
        for b in batches:
            self._op(op, b["batch"], b["trigger_ms"], b["rows"], traced,
                     phases=b["phases"])
        return sum(b["rows"] for b in batches)

    def _timed_scan(self, rid, k, types, table, n_rows, span, traced, tracer):
        """One scan of the loaded table; returns rows read from storage."""
        ctx = self.ctx
        gid = f"scan-{rid}-{k}"
        if traced:
            ctx.spark.sparkContext.setJobGroup(gid, gid)
        t = time.perf_counter()
        got = None
        try:
            with tracer.span("datasource.scan", parent=span, trace=gid):
                got, out_rows = self._scan(table, self.root, types)
        except Exception as e:
            ctx.log(f"round {rid}: scan failed: {e!r}")
            self.raised += 1
        ms = (time.perf_counter() - t) * 1000
        if traced:
            ctx.spark.sparkContext.setJobGroup("perfbench-idle", "")
            self.scan_partitions.append(ctx.scan_tasks(gid))
        self.scans.append((gid, self.events_path, types, got))
        if got is None:
            return 0
        self._op("scan", gid, ms, n_rows, traced, rows_out=out_rows)
        return n_rows

    def round(self, rid, span, traced, tracer):
        ctx = self.ctx
        rec = {}
        t0 = time.perf_counter()
        # 1. small micro-batches through the exactly-once sink
        eo_rows = self._stream_step("buffered", self.eo_feed, self.EO_SEGMENT,
                                    rid, span, traced, tracer, self.eo_fed)
        rec["eo_s"] = time.perf_counter() - t0
        # 2. large micro-batches through the at-least-once sink
        t = time.perf_counter()
        ingest_rows = self._stream_step("default", self.bulk_feed, self.BULK_SEGMENT,
                                        rid, span, traced, tracer, self.ingested)
        rec["ingest_s"] = time.perf_counter() - t
        if traced:  # the proxy's call records become backend.* spans
            backend_spans(tracer, self.ctx.backend_acc.value, f"round-{rid}")
            self.ctx.backend_acc.value = []
        # 3. load: all generated events through the DSv2 batch writer
        table = f"proj.ds.load_{rid}"
        n_rows = self.inputs["events_rows"]
        t = time.perf_counter()
        ok = True
        try:
            with tracer.span("datasource.load", parent=span, trace=f"load-{rid}"):
                self._load(self.events_path, table, self.root)
        except Exception as e:
            ctx.log(f"round {rid}: load failed: {e!r}")
            ok = False
            self.raised += 1
        rec["load_s"] = time.perf_counter() - t
        self.loaded[rid] = (table, ok)
        if ok:
            self._op("load", rid, rec["load_s"] * 1000, n_rows, traced)
        # 4. scans: filtered, partitioned reads of the loaded table
        t = time.perf_counter()
        scanned = sum(
            self._timed_scan(rid, k, types, table, n_rows, span, traced, tracer)
            for k, types in enumerate(self.SCAN_TYPES)
        )
        rec["scan_s"] = time.perf_counter() - t
        rec.update(wall_s=time.perf_counter() - t0,
                   rows=eo_rows + ingest_rows + (n_rows if ok else 0) + scanned,
                   eo_rows=eo_rows, ingest_rows=ingest_rows)
        return rec

    def check(self):
        """The exactly-once table holds every fed micro-batch exactly once,
        the at-least-once table every ingested row (exactly once: no
        failures are injected), each loaded table the generated events,
        and each scan aggregate equals Arrow's over the loaded rows."""
        from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery

        bq = FakeBigQuery(self.root)
        failed = self.raised
        expected_of: dict = {}  # source file -> (table, rows), read once

        def expected(path):
            if path not in expected_of:
                expected_of[path] = _expected_rows(path)
            return expected_of[path]

        for table, fed in ((self.EO_TABLE, self.eo_fed),
                           (self.INGEST_TABLE, self.ingested)):
            want = {k: expected(f)[1] for k, f in fed.items()}
            visible = checks.rows_of_dicts(bq.read_rows(table))
            self.inputs[f"{table}_visible_rows"] = len(visible)
            failed += len(checks.exactly_once_failures(want, visible))
        self.stored_tables = []
        for rid, (table, ok) in self.loaded.items():
            if not ok:
                continue  # counted when the load raised
            self.stored_tables.append(table)
            rows = checks.rows_of_dicts(bq.read_rows(table))
            if checks.exactly_once_failures({rid: expected(self.events_path)[1]}, rows):
                failed += 1
        for _gid, path, types, got in self.scans:
            if got is not None and got != checks.expected_scan(expected(path)[0], types):
                failed += 1
        attempted = (len(self.eo_fed) + len(self.ingested) + len(self.loaded)
                     + len(self.scans))
        return attempted, failed

    def stored_bytes_per_row(self) -> float:
        return _bytes_per_row(self.root, self.stored_tables)

    def op_kinds(self):
        return ("eo_batch", "ingest", "load", "scan")


class QueryMix(Workload):
    """Registry batch keys with no connector or sink work.  Each timed
    execution builds the key's plan and collects its result (every result
    is small), so every execution's output is checked."""

    name = "query_mix"
    # operators-heavy LLM keys, then Catalyst-only controls
    KEYS = (
        "llm_dedup_simhash",
        "llm_dedup_semantic",
        "b08_q1_pricing_summary",
    )
    # the second execution of a key is still ~1.3x slower than the ones
    # after it (JIT), so two passes warm up
    WARMUP_PASSES = 2

    def prepare(self):
        self.inputs = {"keys": list(self.KEYS)}
        self.results: list = []  # (key, columns, rows) per execution

    def _execute(self, key, rid, traced, tracer, span):
        """Build and collect one key; returns (build ms, execute ms, plan)."""
        from flink_big_query_connector_spark import plans

        sc = self.ctx.spark.sparkContext
        gid = f"q-{rid}-{key}"
        if traced:
            sc.setJobGroup(gid, gid)
        t = time.perf_counter()
        with tracer.span("plans.build", parent=span, trace=gid, key=key):
            df = plans.REGISTRY[key].fn(self.ctx.spark, self.ctx.data)
        b_ms = (time.perf_counter() - t) * 1000
        if traced:
            sc.setJobGroup("perfbench-idle", "")
            self.build_jobs[key].append(self.ctx.group_jobs(gid))
        t = time.perf_counter()
        with tracer.span("plans.execute", parent=span, trace=gid, key=key):
            rows = [tuple(r) for r in df.collect()]
        e_ms = (time.perf_counter() - t) * 1000
        self.results.append((key, df.columns, rows))
        return b_ms, e_ms, df

    def warmup(self, tracer):
        """``WARMUP_PASSES`` passes over the keys (their outputs are
        checked with the timed ones); also sizes each key's input."""
        from flink_big_query_connector_spark import plans
        from flink_big_query_connector_spark.cache import release_caches

        ctx = self.ctx
        self.build_jobs = {k: [] for k in self.KEYS}
        self.input_rows = {}
        for p in range(self.WARMUP_PASSES):
            for key in self.KEYS:
                try:
                    df = self._execute(key, f"warm{p}", False, tracer, None)[2]
                    self.input_rows.setdefault(key, _input_rows(df, ctx.data))
                except Exception as e:
                    ctx.log(f"warm-up {key} failed: {e!r}")
                    self.raised += 1
                finally:
                    release_caches(ctx.spark)
        self.inputs["input_rows"] = dict(self.input_rows)

    def start_timed(self):
        self.released: dict = {k: [] for k in self.KEYS}
        self.build_jobs = {k: [] for k in self.KEYS}
        self.phase_ms: dict = {k: {"build": [], "execute": []} for k in self.KEYS}

    def round(self, rid, span, traced, tracer):
        from flink_big_query_connector_spark.cache import release_caches

        ctx = self.ctx
        rows = 0
        t0 = time.perf_counter()
        for key in self.KEYS:
            try:
                b_ms, e_ms, _ = self._execute(key, rid, traced, tracer, span)
            except Exception as e:
                ctx.log(f"round {rid}: {key} failed: {e!r}")
                self.raised += 1
                b_ms = None
            finally:
                if traced:
                    ctx.spark.sparkContext.setJobGroup("perfbench-idle", "")
                with tracer.span("cache.release", parent=span, key=key):
                    n = release_caches(ctx.spark)
            if traced:
                self.released[key].append(n)
            if b_ms is not None:
                if traced:
                    self.phase_ms[key]["build"].append(b_ms)
                    self.phase_ms[key]["execute"].append(e_ms)
                rows += self.input_rows.get(key, 0)
                self._op(key, f"q-{rid}-{key}", b_ms + e_ms,
                         self.input_rows.get(key, 0), traced)
        return {"wall_s": time.perf_counter() - t0, "rows": rows}

    def check(self):
        """Every collected result hash-matches its key's DuckDB oracle."""
        import duckdb

        from flink_big_query_connector_spark import plans
        from flink_big_query_connector_spark.sources.tables import TABLES

        canon_rows = self.ctx.canon_rows()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(self.ctx.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        oracle = {}
        for key in self.KEYS:
            try:
                cur = con.execute(plans.REGISTRY[key].oracle)
                oracle[key] = ([d[0] for d in cur.description], cur.fetchall())
            except Exception as e:
                self.ctx.log(f"oracle {key} failed: {e!r}")
        con.close()
        failed = self.raised
        for key, cols, rows in self.results:
            if key not in oracle or not checks.query_matches(
                    canon_rows, cols, rows, *oracle[key]):
                self.ctx.log(f"check failed: {key}")
                failed += 1
        return len(self.results) + self.raised, failed

    def op_kinds(self):
        return self.KEYS


def _bytes_per_row(root: str, tables: list[str]) -> float:
    """Bytes of the backend's stream files per visible row."""
    from flink_big_query_connector_spark.sources.fake_bigquery import FakeBigQuery

    bq = FakeBigQuery(root)
    nbytes = rows = 0
    for table in tables:
        d = os.path.join(root, "tables", table.replace("/", "__"), "streams")
        nbytes += sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "*.jsonl")))
        rows += bq.table_count(table)
    return nbytes / rows if rows else 0.0


def _input_rows(df, data_dir: str) -> int:
    """Rows of the generated tables this plan reads (parquet footers)."""
    total = 0
    for uri in df.inputFiles():
        path = urlparse(uri).path
        if os.path.abspath(path).startswith(os.path.abspath(data_dir)):
            total += pq.ParquetFile(path).metadata.num_rows
    return total


WORKLOADS = {w.name: w for w in (Connector, QueryMix)}
