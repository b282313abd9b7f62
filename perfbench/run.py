#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print one JSON line.

    python3 perfbench/run.py --workload remote_scan --seed 1 --seconds 1 --trace 0

Workloads: relational, remote_scan, llm_pipeline, write_layout
(perfbench/workloads.py). One run:

1. links the fixed tables and writes the corpus generated from
   ``--seed`` (perfbench/datagen.py) under ``perfbench/out/`` —
   excluded from every metric;
2. starts a ``local[N]`` SparkSession (N = min(4, usable cores)) and
   sets up the workload's fixtures three times on fresh sessions;
3. runs every operation once and checks its output against DuckDB
   over the same parquet (outside the timed region; this pass also
   warms the JVM, codegen and Python workers);
4. runs passes over the operations, in an order permuted by the seed,
   one operation at a time, until ``--seconds`` have passed and at
   least MIN_SAMPLES executions were timed (a pass is never cut short).
   Each operation is built and forced with a ``noop`` write (or its
   write) and timed;
5. stops Spark, the fleet and every worker, deletes its inputs and
   outputs, and prints ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced executions of each operation and reports the
per-layer metrics (per pass, over the traced executions), read from
spans around public calls, from Spark's status stores after each
operation, and from the fleet's handler; the spans are written to
``perfbench/out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from probe import (  # noqa: E402
    SparkStores, Tracer, covered, cpu_times, descendants, peak_rss_mb,
    reset_peak_rss, steal_share,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# Fixed tables (perfbench/data/<sf>), seeded corpus size (documents,
# embeddings). See METRICS.md for why these sizes.
INPUTS = ("sf0.01", 300, 120)
SMOKE = ("sf0.001", 50, 20)
SETUP_REPEATS = 3
TAIL_BEYOND = 10
# Executions a run times at least. A pass is never cut short, so with
# --seconds below one pass every run of a workload makes the same
# number of passes: one of llm_pipeline's 22 operations, two of
# remote_scan's 9 and of write_layout's 8. A stop that --seconds
# decided flipped runs between pass counts as the host's speed changed.
MIN_SAMPLES = 16
CPUS = min(4, len(os.sched_getaffinity(0)))
MIB = float(1 << 20)

REQUIRED = (
    "__spark_entry__.py",
    "bench.py",
    "dazzleduck_sql_duckdb_spark/__init__.py",
    "tools/check_parity.py",
    "tools/scale_proof.py",
)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 tables and a 50-doc corpus (smoke test)")
    return p.parse_args(argv)


# ------------------------------------------------------------ session
def start_session(work: str):
    from dazzleduck_sql_duckdb_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.memory": "1g",
            # a pre-touched fixed-size heap: the JVM's share of
            # peak_rss_mb is then constant, not the GC's resizing
            # history, and the metric follows the Python processes and
            # off-heap memory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g"
                " -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every Python worker the
    JVM started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.05)
    for k in kids:
        try:
            os.kill(k, 9)
        except ProcessLookupError:
            pass


# -------------------------------------------------------- statistics
def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples above it."""
    s = sorted(samples)
    k = max(0, len(s) - TAIL_BEYOND - 1)
    return s[k], 100.0 * (k + 1) / len(s)


def sum_of_medians(times: dict[str, list[float]], names=None) -> float:
    return sum(
        statistics.median(v) for n, v in times.items()
        if v and (names is None or n in names)
    )


# -------------------------------------------------------------- trace
class Layers:
    """Per-layer accumulators for the traced passes."""

    def __init__(self, spark, tracer) -> None:
        self.stores = SparkStores(spark)
        self.tracer = tracer
        self.m: dict[str, float] = {}
        self.traced = 0  # traced operation executions
        self.fleet_log: list = []
        self.log0 = self.cancels0 = 0

    def add(self, key: str, v: float) -> None:
        self.m[key] = self.m.get(key, 0.0) + v

    def peak(self, key: str, v: float) -> None:
        self.m[key] = max(self.m.get(key, 0.0), v)

    def drain(self) -> None:
        self.stores.settle()
        self.stores.new_executions()

    def timed(self, spark, op, op_id: str, parent: int) -> float:
        tr, sc = self.tracer, spark.sparkContext
        self.drain()
        self.traced += 1
        root = tr.open("op", parent, op_id)
        tr.active = (root, op_id)
        opened = [root]
        try:
            sc.setJobGroup(f"{op_id}:build", op.name)
            t = time.perf_counter()
            b = tr.open("remote.probe" if op.path else "plans.build", root, op_id)
            opened.append(b)
            df = op.build()
            tr.close(opened.pop())
            sc.setJobGroup(f"{op_id}:exec", op.name)
            x = tr.open("driver.execute", root, op_id)
            opened.append(x)
            op.execute(df)
            tr.close(opened.pop())
            dt = time.perf_counter() - t
        except Exception as e:
            for sid in opened:  # a failed operation's spans end here
                tr.close(sid, error=type(e).__name__)
            raise
        finally:
            tr.active = (None, None)
            sc.setJobGroup("perfbench:untraced", "")
        tr.close(root)
        self._collect(spark, op, op_id, df, b, x)
        return dt

    def _jobs(self, group: str, parent: int, op_id: str) -> list[dict]:
        jobs = self.stores.jobs_for(group)
        for j in jobs:
            if j["start"] is None or j["end"] is None:
                continue
            js = self.tracer.add("spark.job", j["start"], j["end"], parent,
                                 op_id, job=j["id"])
            for s in j["stages"]:
                if s["start"] is not None and s["end"] is not None:
                    self.tracer.add("spark.stage", s["start"], s["end"], js,
                                    op_id, stage=s["id"], tasks=s["tasks"])
        return jobs

    def _collect(self, spark, op, op_id, df, b_span, x_span) -> None:
        tr = self.tracer
        self.stores.settle()
        b, x = tr.spans[b_span - 1], tr.spans[x_span - 1]
        build_jobs = self._jobs(f"{op_id}:build", b_span, op_id)
        exec_jobs = self._jobs(f"{op_id}:exec", x_span, op_id)
        if op.path is None:
            self.add("plans.build_s", b.end - b.start)
            self.add("plans.build_jobs", len(build_jobs))
        starts = [j["start"] for j in exec_jobs if j["start"] is not None]
        if starts:
            self.add("driver.plan_s", max(0.0, min(starts) - x.start))
        stages = [s for j in build_jobs + exec_jobs for s in j["stages"]]
        busy = covered(
            (max(s["start"], x.start), min(s["end"], x.end))
            for j in exec_jobs for s in j["stages"]
            if s["start"] is not None and s["end"] is not None
        )
        self.add("driver.gap_s", (x.end - x.start) - busy)
        self.add("driver.jobs", len(build_jobs) + len(exec_jobs))
        self.add("driver.stages", len(stages))
        self.add("driver.tasks", sum(s["tasks"] for s in stages))
        for key, field_, scale in (
            ("scan.input_mb", "input_b", MIB),
            ("scan.input_rows", "input_rows", 1),
            ("exchange.shuffle_write_mb", "shuffle_write_b", MIB),
            ("exchange.shuffle_read_mb", "shuffle_read_b", MIB),
            ("exchange.fetch_wait_s", "fetch_wait_s", 1),
            ("compute.run_s", "run_s", 1),
            ("compute.cpu_s", "cpu_s", 1),
            ("compute.gc_s", "gc_s", 1),
            ("memory.spill_mb", "spill_b", MIB),
        ):
            self.add(key, sum(s[field_] for s in stages) / scale)
        self.peak("memory.peak_exec_mb",
                  max((s["peak_exec_b"] for s in stages), default=0) / MIB)
        self.peak("memory.cached_mb", self.stores.cached_bytes() / MIB)

        pyre = self.stores.PY_NODE
        scan_rows = 0.0
        for e in self.stores.new_executions():
            nodes = e["nodes"]
            self.add("exchange.count", sum(
                1 for n in nodes if "Exchange" in n and n != "ReusedExchange"))
            self.add("exchange.reused", nodes.count("ReusedExchange"))
            self.add("compute.codegen_stages", sum(
                1 for n in nodes if n.startswith("WholeStageCodegen")))
            self.add("compute.python_nodes", sum(
                1 for n in nodes if pyre.search(n)))
            for k, v in e["metrics"].items():
                node, metric = k.split("|", 1)
                if node.startswith("Scan") and metric == "scan time":
                    self.add("scan.time_s", v)
                elif node.startswith("BatchScan"):
                    # a Python data source's worker metrics accumulate
                    # over the process, so only its row count is used
                    if metric == "number of output rows":
                        scan_rows += v
                elif metric == "data sent to Python workers":
                    self.add("compute.python_in_mb", v / MIB)
                elif metric == "data returned from Python workers":
                    self.add("compute.python_out_mb", v / MIB)
        if df is not None:
            spark.sparkContext.setJobGroup("perfbench:aux", "")
            self.add("scan.result_rows", df.count())
            self.drain()
        if op.path:
            self._remote(op, op_id, b, x, scan_rows)

    def _remote(self, op, op_id, b, x, rows) -> None:
        pre = f"remote.{op.path}."
        self.add(pre + "probe_s", b.end - b.start)
        self.add(pre + "rows", rows)
        log = [r for r in self.fleet_log if r[6] == op_id]
        plans = [r for r in log if r[0] == "plan"]
        data = [r for r in log if r[0] == "query"]
        self.add(pre + "plan_s", sum(r[3] - r[1] for r in plans))
        self.add(pre + "splits", len(data))
        if data:
            t0, t1 = min(r[1] for r in data), max(r[3] for r in data)
            self.tracer.add("remote.plan", x.start, t0, x.span_id, op_id)
            self.tracer.add("remote.scan", t0, t1, x.span_id, op_id)
            self.add(pre + "scan_s", t1 - t0)


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.prepare_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "driver.plan_s": "s", "driver.gap_s": "s", "driver.jobs": "count",
    "driver.stages": "count", "driver.tasks": "count",
    "scan.input_mb": "MiB", "scan.input_rows": "count", "scan.time_s": "s",
    "scan.rows_per_result": "ratio",
    "exchange.count": "count", "exchange.reused": "count",
    "exchange.shuffle_write_mb": "MiB", "exchange.shuffle_read_mb": "MiB",
    "exchange.fetch_wait_s": "s",
    "compute.run_s": "s", "compute.cpu_s": "s", "compute.gc_s": "s",
    "compute.codegen_stages": "count", "compute.python_nodes": "count",
    "compute.python_in_mb": "MiB", "compute.python_out_mb": "MiB",
    "memory.spill_mb": "MiB", "memory.peak_exec_mb": "MiB",
    "memory.cached_mb": "MiB",
    **{f"remote.{p}.{k}": u for p in ("dd_read_arrow", "dd_arrow_dsv2")
       for k, u in (("probe_s", "s"), ("plan_s", "s"), ("splits", "count"),
                    ("scan_s", "s"), ("rows", "count"))},
    "fleet.requests": "count", "fleet.query_s": "s", "fleet.ttfb_s": "s",
    "fleet.wire_mb": "MiB", "fleet.cancels": "count", "fleet.ok_ratio": "ratio",
    "storage.write_s": "s", "storage.write_mb": "MiB", "storage.files": "count",
    "workload.write_wall_s": "s",
    "workload.readback_wall_s": "s", "workload.space_amp": "ratio",
    "workload.failed_ratio": "ratio",
    "trace.total_wall_s": "s", "trace.overhead_s": "s", "trace.spans": "count",
    **{f"self.{n}": "s" for n in (
        "op", "plans.build", "remote.probe", "remote.plan", "remote.scan",
        "driver.execute", "spark.job", "spark.stage", "fleet.request")},
}
# Additive per-operation sums, reported per pass; the rest are peaks
# or ratios computed at the end.
_PEAKS = ("memory.peak_exec_mb", "memory.cached_mb")


# --------------------------------------------------------------- main
def main(argv=None) -> int:
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = parse_args(argv)
    from workloads import WORKLOADS, Ctx

    import datagen

    work = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every temporary file of this process, the JVM and the Python
    # workers stays inside the run's own directory; the workers import
    # the engine from the checkout root
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no JVM perf-data files under /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    t = time.perf_counter()
    data = os.path.join(work, "data")
    paths = datagen.generate(data, *(SMOKE if args.smoke else INPUTS), args.seed, ROOT)
    gen_s = time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    ctx = Ctx(ROOT, data, paths, work, args.seed, [tracer])
    spark = wl = None
    bad: dict[str, str] = {}
    errors: dict[str, str] = {}
    attempted = failed = 0
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](ctx)
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            s = spark.newSession()
            wl.fixtures(s)
            prep.append(time.perf_counter() - t)
        spark = s
        wl.bind(spark)
        setup_s = (time.perf_counter() - T0) - gen_s - sum(prep) + statistics.median(prep)

        t = time.perf_counter()
        bad = wl.check(spark)
        check_s = time.perf_counter() - t
        for name, why in bad.items():
            print(f"perfbench: {args.workload}/{name} failed its check: {why}",
                  file=sys.stderr)

        # peak_rss_mb covers the timed loop only: input generation and
        # the oracles of the check pass ran in this process before it
        reset_peak_rss(spark.sparkContext._gateway.proc.pid)
        layers = Layers(spark, tracer) if tracer else None
        if layers:
            fleet = getattr(wl, "fleet", None)
            if fleet is not None:
                layers.fleet_log = fleet.log
                layers.log0 = len(fleet.log)
                layers.cancels0 = len(fleet.cancelled)
            layers.drain()
            wspan = tracer.open("workload", None, None)
        cpu0 = cpu_times()
        rng = random.Random(args.seed)
        times: dict[str, list[float]] = {op.name: [] for op in wl.ops}
        traced: dict[str, list[float]] = {op.name: [] for op in wl.ops}
        deadline = time.perf_counter() + args.seconds
        n_pass = 0
        # in a traced run each operation alternates traced and untraced
        # executions, half of them starting traced, so the two halves
        # see the same warm-up and their difference is the overhead
        parity = {op.name: i % 2 for i, op in enumerate(wl.ops)}
        # a traced run needs two passes: one traced and one untraced
        # execution of every operation
        min_passes = 2 if layers else 1
        while (n_pass < min_passes or attempted < MIN_SAMPLES
               or time.perf_counter() < deadline):
            order = list(wl.ops)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for i, op in enumerate(order):
                attempted += 1
                k = len(times[op.name]) + len(traced[op.name])
                try:
                    if layers is not None and (k + parity[op.name]) % 2 == 0:
                        dt = layers.timed(spark, op, f"p{n_pass}.{i}.{op.name}",
                                          wspan)
                        traced[op.name].append(dt)
                    else:
                        t = time.perf_counter()
                        op.execute(op.build())
                        times[op.name].append(time.perf_counter() - t)
                    if op.name in bad:
                        failed += 1
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    failed += 1
                    errors.setdefault(op.name, f"{type(e).__name__}: {e}")
                wl.after_op(spark, op)
            print(f"perfbench: pass {n_pass} {time.perf_counter() - t_pass:.3f}s",
                  file=sys.stderr)
            n_pass += 1
        for name, why in errors.items():
            print(f"perfbench: {args.workload}/{name} raised: {why[:500]}",
                  file=sys.stderr)
        loop_s = time.perf_counter() - deadline + args.seconds
        jvm = spark.sparkContext._gateway.proc.pid
        rss = peak_rss_mb(jvm)

        if layers is None:
            samples = [v for vs in times.values() for v in vs]
            tail_v, tail_p = tail(samples)
            print(f"perfbench: {args.workload} seed={args.seed} gen_s={gen_s:.2f}"
                  f" setup_s={setup_s:.2f} check_s={check_s:.2f}"
                  f" loop_s={loop_s:.2f} passes={n_pass}"
                  f" samples={len(samples)} tail=p{tail_p:.1f}:{tail_v:.4f}s"
                  f" steal={steal_share(cpu0, cpu_times()):.3f}",
                  file=sys.stderr)
            for name, v in times.items():
                if v:
                    print(f"perfbench:   {name:28s} n={len(v):3d}"
                          f" median={statistics.median(v):.4f}", file=sys.stderr)
            metrics = {
                "setup_s": (setup_s, "s"),
                "total_wall_s": (sum_of_medians(times), "s"),
                "op_p50_s": (statistics.median(samples), "s"),
                "peak_rss_mb": (rss, "MiB"),
            }
        else:
            tracer.close(wspan)
            metrics = per_layer(args, wl, layers, tracer, times, traced,
                                session_s, prep, attempted, failed)
    finally:
        t = time.perf_counter()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: teardown_s={time.perf_counter() - t:.2f}", file=sys.stderr)

    # an operation that raises is a failure, counted in `failed`; one
    # that fails its check without raising returned a wrong result
    result = {
        "correct": not set(bad) - set(errors),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def per_layer(args, wl, layers, tracer, times, traced, session_s, prep,
              attempted, failed) -> dict:
    n = max(1, layers.traced) / len(wl.ops)  # traced passes' worth
    m = {k: (v if k in _PEAKS else v / n) for k, v in layers.m.items()}
    m["session.start_s"] = session_s
    m["session.prepare_s"] = statistics.median(prep)
    res = m.pop("scan.result_rows", 0.0)
    m["scan.rows_per_result"] = m.get("scan.input_rows", 0.0) / res if res else 0.0

    log = [r for r in layers.fleet_log[layers.log0:] if r[6] is not None]
    if log:
        data = [r for r in log if r[0] == "query" and r[2] is not None]
        m["fleet.requests"] = len(log) / n
        m["fleet.query_s"] = sum(r[3] - r[1] for r in log) / n
        m["fleet.ttfb_s"] = (statistics.mean(r[2] - r[1] for r in data)
                             if data else 0.0)
        m["fleet.wire_mb"] = sum(r[4] for r in log) / MIB / n
        m["fleet.ok_ratio"] = sum(1 for r in log if 200 <= r[5] < 300) / len(log)
        # cancels are not tied to a request, so they count over all passes
        m["fleet.cancels"] = ((len(wl.fleet.cancelled) - layers.cancels0)
                              * len(wl.ops) / attempted)

    halves = {op.name: op.half for op in wl.ops}
    if args.workload == "write_layout":
        writes = {k for k, h in halves.items() if h == "write"}
        m["workload.write_wall_s"] = sum_of_medians(times, writes)
        m["workload.readback_wall_s"] = sum_of_medians(
            times, set(halves) - writes)
        m["storage.write_s"] = sum_of_medians(traced, writes)
        nbytes, nfiles = wl.written_bytes()
        m["storage.write_mb"] = nbytes / MIB
        m["storage.files"] = nfiles
        m["workload.space_amp"] = nbytes / wl.source_bytes()
    m["workload.failed_ratio"] = failed / attempted

    total_t = sum_of_medians(traced)
    m["trace.total_wall_s"] = total_t
    m["trace.overhead_s"] = total_t - sum_of_medians(times)
    m["trace.spans"] = len(tracer.spans)
    selfs = tracer.self_times()
    for k in PER_LAYER_UNITS:
        if k.startswith("self."):
            m[k] = selfs.get(k[5:], 0.0) / n

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "spans": [s.as_dict() for s in tracer.spans]}, f)
    return {k: (float(m.get(k, 0.0)), u) for k, u in PER_LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
