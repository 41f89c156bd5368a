"""Seeded benchmark of the sink, connector and query layers.

    python3 perfbench/run.py --workload connector --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 7 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` by
``tools/gen_testdata.py`` into a work directory inside the checkout; the
program only ever sees the generated files.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``).  A side file with the host
context, inputs, every round and, when traced, the spans goes to
``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_big_query_connector_spark"
GEN = os.path.join(ROOT, "tools", "gen_testdata.py")
CHECKER = os.path.join(ROOT, "tools", "check_correctness.py")
SCALE = "0.1"
# Spark driver heap.  The package defaults to 16g, which on a shared
# 16 GB host leaves no room for the Python workers; the workloads' sf0.1
# inputs need well under 4g.  Pinned (not inherited from the caller's
# environment) and recorded in the side file.
DRIVER_MEM = "4g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot: time the hypervisor gave the
    machine's CPUs to someone else, a host-wide slowdown no code causes."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = tmp


class Context:
    """What the workloads share: the session, paths, seed and the
    traced-run instruments."""

    def __init__(self, args, work: str, data: str, cores: int):
        self.seed = args.seed
        self.work = work
        self.data = data
        self.cores = cores
        self.spark = None
        self.sink_metrics = None
        self.backend_acc = None
        self.log = _log

    def _conf(self) -> dict:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def session_setup(self, uses_datasource: bool) -> tuple[float, float]:
        """(seconds in get_spark, seconds for the whole session set-up):
        JVM launch and session start, package shipping, DataSource
        registration and the first Python-worker start."""
        from flink_big_query_connector_spark.session import (
            ensure_package_on_executors,
            get_spark,
        )

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self._conf())
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_package_on_executors(self.spark)
        if uses_datasource:
            from flink_big_query_connector_spark.sources import bq_datasource

            bq_datasource.register(self.spark)
        n = self.cores
        self.spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
        return t1 - t0, time.perf_counter() - t0

    def instruments(self) -> None:
        """Accumulators the traced rounds report through."""
        from pyspark import cloudpickle

        import tracing
        from flink_big_query_connector_spark.streaming.metrics import SinkMetrics

        # executor tasks unpickle the timing proxy without importing this
        # directory; by value it joins the package's own pickle graph
        cloudpickle.register_pickle_by_value(tracing)
        self.sink_metrics = {k: SinkMetrics.create(self.spark)
                             for k in ("buffered", "default")}
        self.backend_acc = self.spark.sparkContext.accumulator([], tracing.ListParam())

    def group_jobs(self, gid: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def scan_tasks(self, gid: str) -> int:
        """Tasks of the first stage a job group ran (the scan stage)."""
        st = self.spark.sparkContext.statusTracker()
        stages = []
        for j in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        if not stages:
            return 0
        info = st.getStageInfo(min(stages))
        return info.numTasks if info is not None else 0

    def canon_rows(self):
        """The correctness harness's canonicalization, loaded from tools/."""
        spec = importlib.util.spec_from_file_location("check_correctness", CHECKER)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.canon_rows

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def host(self) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        out = {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_cores": self.cores,
            "driver_mem": DRIVER_MEM,
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        }
        if self.spark is not None:
            out["java"] = self.spark._jvm.java.lang.System.getProperty("java.version")
        return out

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None and proc.poll() is None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def _timed_loop(wl, ctx, tracer, seconds: float, trace: bool) -> list[dict]:
    """Whole rounds until ``seconds`` have passed.  Traced runs alternate
    untraced and traced rounds and run at least one of each."""
    import tracing

    untraced = tracing.Tracer(enabled=False)
    rounds = []
    wl.start_timed()
    t0 = time.perf_counter()
    rid = 0
    while True:
        traced = trace and rid % 2 == 1
        tr = tracer if traced else untraced
        if traced:
            before = {k: m.snapshot() for k, m in ctx.sink_metrics.items()}
        t = time.time()
        with tr.span("round", trace=f"round-{rid}") as span:
            rec = wl.round(rid, span, traced, tr)
        rec.update(id=rid, traced=traced, start=t, end=time.time())
        if traced:
            rec["sink_delta"] = {
                k: {c: v - before[k][c] for c, v in m.snapshot().items()}
                for k, m in ctx.sink_metrics.items()
            }
        rounds.append(rec)
        rid += 1
        done = time.perf_counter() - t0 >= seconds
        if done and (not trace or rid >= 2):
            return rounds


def _e2e(wl, rounds, setup_s, traced: bool) -> dict:
    import benchstats

    sel = [r for r in rounds if r["traced"] == traced]
    ops = [o for o in wl.ops if o["traced"] == traced]
    by_kind = {k: [o["ms"] for o in ops if o["kind"] == k] for k in wl.op_kinds()}
    return benchstats.end_to_end(
        by_kind, sum(r["rows"] for r in sel), sum(r["wall_s"] for r in sel), setup_s
    )


def _per_layer(wl, rounds, spans, setup, e2e_u, e2e_t) -> tuple[dict, dict]:
    import layers
    import tracing
    from workloads import QueryMix

    tracing.assign_parents(spans)
    traced_ops = [o for o in wl.ops if o["traced"]]
    out = layers.session_layer(setup)
    for kind, op in (("buffered", "eo_batch"), ("default", "ingest")):
        delta: dict = {}
        for r in rounds:
            for c, v in r.get("sink_delta", {}).get(kind, {}).items():
                delta[c] = delta.get(c, 0) + v
        rows = sum(o["rows"] for o in traced_ops if o["kind"] == op)
        out.update(layers.sink_layer(spans, kind, delta, rows))
    out.update(layers.backend_layer(spans))
    out.update(layers.stream_layer([o for o in traced_ops if o["kind"] == "eo_batch"]))
    out.update(layers.datasource_layer(
        [o for o in traced_ops if o["kind"] == "load"],
        [o for o in traced_ops if o["kind"] == "scan"],
        getattr(wl, "scan_partitions", []),
        wl.stored_bytes_per_row(),
    ))
    out.update(layers.plans_layer(
        QueryMix.KEYS, getattr(wl, "phase_ms", {}),
        getattr(wl, "build_jobs", {}), getattr(wl, "released", {}),
    ))
    wall, gap = tracing.unattributed_s(spans)
    out["trace.unattributed_s"] = gap
    out["trace.overhead_op_geomean_ms"] = e2e_t["op_geomean_ms"] - e2e_u["op_geomean_ms"]
    out["trace.overhead_rows_per_s"] = e2e_t["rows_per_s"] - e2e_u["rows_per_s"]
    extra = {
        "self_s": tracing.self_times(spans),
        "traced_wall_s": wall,
        "unattributed_s": gap,
        "overhead": {k: e2e_t[k] - e2e_u[k] for k in e2e_u},
        "traced_e2e": e2e_t,
    }
    return out, extra


def run_one(args) -> int:
    import benchstats

    spec = benchstats.load_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    _isolate(work, cores)
    load_before, steal_before = os.getloadavg(), _cpu_steal()
    marks = [("start", time.perf_counter())]
    data = os.path.join(work, "data")
    subprocess.run(
        [sys.executable, GEN, data, SCALE, str(args.seed)],
        check=True, stdout=subprocess.DEVNULL,
    )
    marks.append(("generate", time.perf_counter()))
    import tracing
    from workloads import WORKLOADS

    ctx = Context(args, work, data, cores)
    wl = WORKLOADS[args.workload](ctx)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    try:
        wl.prepare()
        marks.append(("stage", time.perf_counter()))
        get_spark_s, session_s = ctx.session_setup(wl.uses_datasource)
        ctx.instruments()
        marks.append(("session", time.perf_counter()))
        wl.warmup(tracing.Tracer(enabled=False))
        marks.append(("warmup", time.perf_counter()))
        warmup_s = marks[-1][1] - marks[-2][1]
        setup_s = session_s + warmup_s
        rounds = _timed_loop(wl, ctx, tracer, args.seconds, bool(args.trace))
        marks.append(("timed", time.perf_counter()))
        attempted, failed = wl.check()
        marks.append(("check", time.perf_counter()))
        e2e_u = _e2e(wl, rounds, setup_s, traced=False)
        setup = {"session_s": session_s, "get_spark_s": get_spark_s,
                 "warmup_s": warmup_s, "jvm_peak_rss_mb": ctx.jvm_peak_rss_mb()}
        side = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": float(SCALE),
            "host": ctx.host(),
            "inputs": dict(wl.inputs, data_bytes={
                f: os.path.getsize(os.path.join(data, f)) for f in sorted(os.listdir(data))
            }),
            "setup": setup,
            "rounds": [{k: v for k, v in r.items() if k != "sink_delta"} for r in rounds],
            "ops": wl.ops,
            "attempted": attempted, "failed": failed,
            "end_to_end": e2e_u,
        }
        if args.trace:
            e2e_t = _e2e(wl, rounds, setup_s, traced=True)
            values, extra = _per_layer(wl, rounds, tracer.spans, setup, e2e_u, e2e_t)
            metrics = benchstats.with_units(values, spec["per_layer"])
            side.update(per_layer=values, trace_summary=extra)
        else:
            metrics = benchstats.with_units(e2e_u, spec["end_to_end"])
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
    marks.append(("stop", time.perf_counter()))
    side["run_phases_s"] = {
        name: t - marks[i][1] for i, (name, t) in enumerate(marks[1:])
    }
    side["host"]["loadavg_before"] = load_before
    side["host"]["loadavg_after"] = os.getloadavg()
    steal, total = (a - b for a, b in zip(_cpu_steal(), steal_before))
    side["host"]["cpu_steal_share"] = steal / total if total else 0.0
    stem = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(side, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.spans, f, default=str)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own process (fresh JVM); one line per result."""
    import benchstats

    results = {}
    for w in (x["name"] for x in benchstats.load_spec()["workloads"]):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        if proc.returncode != 0:
            _log(f"{w} exited {proc.returncode}")
            return proc.returncode
        results[w] = json.loads(proc.stdout.strip().splitlines()[-1])
        line = ", ".join(f"{k}={m['value']:.6g} {m['unit']}"
                         for k, m in results[w]["metrics"].items())
        print(f"{w}: correct={results[w]['correct']} {line}", flush=True)
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [x for x in (os.path.join(ROOT, PACKAGE), GEN, CHECKER)
               if not os.path.exists(x)]
    if missing:
        _log(f"not a checkout of the program: missing {missing}")
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
