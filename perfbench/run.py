"""Benchmark runner: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run. The last line of standard
output is the result object; the line before it carries the details
(failure ratio, tail percentile and sample count, job totals, and in
the traced run the full per-layer report with self times and tracing
overhead). A loop stops only between whole decks or rounds, so
``--seconds 0`` runs exactly one.

Inputs are generated from the seed and cached, with their expected
outputs, under ``perfbench/.cache/``; Spark scratch space, rollups and
temp files live under ``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CATALOGUE = os.path.join(ROOT, "__spark_entry__.py")
# set-up is repeated and the median reported; the first repetition
# already runs in a warm JVM (see ``warm``)
SETUP_REPS = 3
DRIVER_MEMORY = "4g"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_catalogue_module():
    """A fresh instance of the catalogue module (fresh layer caches)."""
    spec = importlib.util.spec_from_file_location("__spark_entry__", CATALOGUE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # queries() records its sampling order in a file at the repository
    # root; the benchmark keeps the catalogue order and writes nothing there
    mod._sample_order = lambda names: list(names)
    return mod


def guard_catalogue(mod, workload) -> None:
    """Fail with one message naming every catalogue entry, oracle or
    operator the workload needs but cannot find."""
    need = workload.required()
    missing = []
    entries = mod.queries()
    oracles = mod.oracle_sql()
    missing += [f"entry {n}" for n in need.get("entries", []) if n not in entries]
    missing += [f"oracle {n}" for n in need.get("oracles", []) if n not in oracles]
    for module, names in need.get("attributes", {}).items():
        m = importlib.import_module(module)
        missing += [f"{module}.{a}" for a in names if not hasattr(m, a)]
    if missing:
        fail(f"workload {workload.name}: missing from the catalogue: {', '.join(missing)}")


class Context:
    def __init__(self, args, work_dir, cache_dir):
        self.seed = args.seed
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = tracing.OFF
        self.spark = None
        self.entry = load_catalogue_module()
        self.queries = None
        self.data_dir = None

    def load_catalogue(self):
        self.entry = load_catalogue_module()
        if self.tracer.enabled:
            trace_boundary(self.tracer, self.entry)
        self.queries = self.entry.queries()

    def register_views(self, data_dir):
        from sidemantic_spark.models import tpch

        tpch.register_tables(self.spark, data_dir)


def start_session(ctx):
    from pyspark.sql import SparkSession

    cores = ctx.cores
    tmp = os.path.join(ctx.work_dir, "tmp")
    local = os.path.join(ctx.work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # every JVM the launch starts (the launcher and the driver) keeps its
    # temp files in the work dir and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a fixed heap and young generation: with adaptive sizing G1 grows
    # eden by up to a gigabyte, and the heap after slow GCs, on some runs
    # and not others, which makes the peak RSS a coin toss
    java_opts = f"-Xms{DRIVER_MEMORY} -Xmn512m -Dderby.system.home={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(ctx.work_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def trace_boundary(tr, mod):
    """Span the catalogue's contract boundary: ``entry.boundary`` covers
    _canon(_dbl(fn)), ``entry.inner`` covers fn itself, so the boundary's
    self time is the canonicalization work."""
    canon, dbl = mod._canon, mod._dbl

    def spanned(name, fn):
        def run(*a, **kw):
            with tr.span(name):
                return fn(*a, **kw)
        return run

    mod._dbl = lambda fn: dbl(spanned("entry.inner", fn))
    mod._canon = lambda fn: spanned("entry.boundary", canon(fn))


def install_tracer(ctx, workload):
    from sidemantic_spark.core import transport_security
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.models import tpch
    from sidemantic_spark.preagg.manager import PreAggManager
    from sidemantic_spark.sql.generator import SqlGenerator

    tr = tracing.Tracer(ctx.spark)
    tr.count_py4j()

    def cache_probe(tracer, gen, spec):
        tracer.count("sql.generator.calls")
        if gen._cache_key(spec) in gen._cache:
            tracer.count("sql.generator.cache_hits")

    def used_preagg(tracer, sql):
        if "used_preagg=" in sql:
            tracer.count("preagg.router.used_preagg")

    # the compiled SQL of a layer.query / layer.sql request carries the
    # router's choice
    tr.wrap(SparkSemanticLayer, "compile", "core.layer.compile", after=used_preagg)
    tr.wrap(SqlGenerator, "generate", "sql.generator.generate", before=cache_probe)
    tr.wrap(transport_security, "rewrite_transport_sql", "sql.rewriter.rewrite",
            after=used_preagg)
    tr.wrap(tpch, "register_tables", "models.tpch.register")
    tr.wrap(tpch, "build_layer", "models.tpch.build_layer")
    tr.wrap(PreAggManager, "refresh", "preagg.manager.refresh")
    tr.wrap(PreAggManager, "materialize", "preagg.manager.materialize")
    for module, names in workload.required().get("attributes", {}).items():
        m = importlib.import_module(module)
        for n in names:
            tr.wrap_operator(m, n)
    ctx.tracer = tr
    return tr


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------

def tail(values):
    """Highest percentile with at least 10 samples beyond it
    (nearest rank); the maximum when there are 10 samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    pct = math.floor(100.0 * (n - 10) / n)
    idx = max(math.ceil(pct / 100.0 * n) - 1, 0)
    return xs[idx], float(pct), n


def peak_rss_mb(spark) -> float:
    def hwm(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return hwm(os.getpid()) + hwm(jvm_pid)


def jobs_launched(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


# span or counter -> per-layer metric name, unit, reduction
LAYER_TIMES = [
    ("core.layer.compile_ms", "core.layer.compile", "total"),
    ("sql.generator.generate_ms", "sql.generator.generate", "total"),
    ("sql.rewriter.rewrite_ms", "sql.rewriter.rewrite", "total"),
    ("entry.boundary_ms", "entry.boundary", "self"),
    ("spark.build_ms", "spark.build", "total"),
    ("spark.exec.action_ms", "spark.exec.action", "total"),
]
LAYER_COUNTS = [
    ("spark.py4j_calls", "spark.py4j_calls.build", "count"),
    ("spark.catalyst.analysis_ms", "spark.catalyst.analysis_ms", "ms"),
    ("spark.catalyst.optimization_ms", "spark.catalyst.optimization_ms", "ms"),
    ("spark.catalyst.planning_ms", "spark.catalyst.planning_ms", "ms"),
    ("spark.scheduler.jobs", "spark.scheduler.jobs", "count"),
    ("spark.scheduler.stages", "spark.scheduler.stages", "count"),
    ("spark.scheduler.tasks", "spark.scheduler.tasks", "count"),
    ("spark.exec.executor_run_ms", "spark.exec.executor_run_ms", "ms"),
    ("spark.exec.shuffle_write_bytes", "spark.exec.shuffle_write_bytes", "bytes"),
]


def layer_metrics(ctx, tr, reqs, setup_spans):
    """Per-layer metrics (median per request) plus the full report."""
    med = tracing.median
    per = tr.per_request()
    by_rid = {r.rid: r for r in reqs}
    queries = [rid for rid, r in by_rid.items() if r.kind == "query" and rid in per]
    metrics = {}
    for name, span, which in LAYER_TIMES:
        vals = [per[rid][which][span] * 1000 for rid in queries if span in per[rid][which]]
        metrics[name] = {"value": med(vals), "unit": "ms"}
    for name, counter, unit in LAYER_COUNTS:
        vals = [per[rid]["counts"].get(counter, 0) for rid in queries]
        # Spark reports these times in whole milliseconds; a mean keeps
        # the digits a median of integers would drop
        value = statistics.fmean(vals) if unit == "ms" and vals else med(vals)
        metrics[name] = {"value": value, "unit": unit}
    calls = sum(per[rid]["counts"].get("sql.generator.calls", 0) for rid in queries)
    hits = sum(per[rid]["counts"].get("sql.generator.cache_hits", 0) for rid in queries)
    metrics["sql.generator.cache_hit_ratio"] = {
        "value": hits / calls if calls else 0.0, "unit": "ratio"}
    busy = [
        per[rid]["counts"].get("spark.exec.executor_run_ms", 0)
        / (by_rid[rid].latency_s * 1000 * ctx.cores)
        for rid in queries if by_rid[rid].latency_s > 0
    ]
    metrics["spark.exec.core_busy_ratio"] = {"value": med(busy), "unit": "ratio"}
    register = setup_spans.get("models.tpch.register", [])
    metrics["models.tpch.register_ms"] = {"value": med(register) * 1000, "unit": "ms"}
    overhead = [
        per[rid]["counts"].get("trace.hook_s", 0) / by_rid[rid].latency_s
        for rid in queries if by_rid[rid].latency_s > 0
    ]
    metrics["trace.overhead_ratio"] = {"value": med(overhead), "unit": "ratio"}

    # full report: every span's median total and self time per request,
    # per request name (catalogue entry / operator), router and refresh
    named = [rid for rid, r in by_rid.items() if r.kind != "refresh" and rid in per]
    spans = sorted({s for rid in per for s in per[rid]["total"]})
    report = {"span_ms": {
        s: {"requests": sum(1 for rid in per if s in per[rid]["total"]),
            "total_median": med(per[rid]["total"][s] * 1000 for rid in per if s in per[rid]["total"]),
            "self_median": med(per[rid]["self"][s] * 1000 for rid in per if s in per[rid]["self"])}
        for s in spans}}
    by_name: dict = {}
    operators: dict = {}
    for rid in named:
        r = by_rid[rid]
        c = per[rid]["counts"]
        action_s = per[rid]["total"].get("spark.exec.action", 0.0)
        entry = by_name.setdefault(r.name, {"latency_ms": [], "jobs": [], "stages": [],
                                            "out_rows": []})
        entry["latency_ms"].append(r.latency_s * 1000)
        entry["jobs"].append(c.get("spark.scheduler.jobs", 0))
        entry["stages"].append(c.get("spark.scheduler.stages", 0))
        entry["out_rows"].append(r.rows)
        # operators.<op>: driver time inside the call (eager probes
        # included), the jobs launched inside it, and the request's
        # collect time and output rows
        for span in (s for s in per[rid]["total"] if s.startswith("operators.")):
            op = operators.setdefault(span.split(".")[1], {
                "call_ms": [], "probe_jobs": [], "action_s": [], "out_rows": []})
            op["call_ms"].append(per[rid]["total"][span] * 1000)
            op["probe_jobs"].append(c.get(f"{span}.probe_jobs", 0))
            op["action_s"].append(action_s)
            op["out_rows"].append(r.rows)
    for key, table in (("by_request_name", by_name), ("operators", operators)):
        report[key] = {n: {k: med(v) for k, v in e.items()} for n, e in sorted(table.items())}
    should = [rid for rid in queries if per[rid]["counts"].get("preagg.router.should_route")]
    if should:
        routed = sum(1 for rid in should if per[rid]["counts"].get("preagg.router.used_preagg"))
        report["preagg.router.routed_ratio"] = {"value": routed / len(should), "base": len(should)}
    refresh = [rid for rid, r in by_rid.items() if r.kind == "refresh" and rid in per]
    if refresh:
        report["preagg.manager.refresh_s"] = med(by_rid[rid].latency_s for rid in refresh)
        report["preagg.manager.bytes_written"] = med(
            per[rid]["counts"].get("preagg.manager.bytes_written", 0) for rid in refresh)
    report["sql.generator.cache_hit_ratio_base"] = calls
    report["trace_overhead"] = {
        "hook_ms_median": med(per[rid]["counts"].get("trace.hook_s", 0) * 1000 for rid in queries),
        "readout_ms_median": med(per[rid]["counts"].get("trace.readout_s", 0) * 1000 for rid in queries),
        "traced_latency_p50_ms": med(by_rid[rid].latency_s * 1000 for rid in queries),
    }
    report["setup_spans_ms"] = {k: med(v) * 1000 for k, v in setup_spans.items()}
    return metrics, report


# ----------------------------------------------------------------------

def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.exists(CATALOGUE) or not os.path.isdir(os.path.join(ROOT, "sidemantic_spark")):
        fail(f"no sidemantic_spark checkout at {ROOT}")
    workload = WORKLOADS[args.workload]()
    cache_dir = os.path.join(HERE, ".cache", f"{args.workload}-seed{args.seed}")
    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(work_dir, exist_ok=True)
    # python workers import the library from this checkout; temp files
    # of every process stay inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SIDEMANTIC_SPARK_PREAGG_PATH"] = os.path.join(work_dir, "preaggs")
    sys.path.insert(0, ROOT)
    ctx = Context(args, work_dir, cache_dir)
    spark = None
    try:
        guard_catalogue(ctx.entry, workload)
        t0 = time.perf_counter()
        workload.prepare(ctx)  # inputs + expected outputs, untimed
        prepare_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = ctx.spark = start_session(ctx)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.warm(ctx)
        warm_s = time.perf_counter() - t0
        tr = install_tracer(ctx, workload) if args.trace else tracing.OFF

        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.setup(ctx)
            setup_times.append(time.perf_counter() - t0)
        setup_spans = tr.unattached() if args.trace else {}
        workload.before_loop(ctx)

        jobs0 = jobs_launched(spark)
        t0 = time.perf_counter()
        reqs = workload.run(ctx, t0 + args.seconds)
        wall_s = time.perf_counter() - t0
        jobs = jobs_launched(spark) - jobs0

        failed = [r for r in reqs if not r.ok]
        summ = workload.summary(ctx, reqs, wall_s)
        lat = summ["latencies_s"]
        t_val, t_pct, t_n = tail(lat)
        details = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "requests": len(reqs), "failed": len(failed),
            "failed_ratio": len(failed) / max(len(reqs), 1),
            "failures": [f"{r.rid}:{r.name}: {r.error}" for r in failed[:5]],
            "p50_ms": statistics.median(lat) * 1000,
            "tail_ms": t_val * 1000, "tail_percentile": t_pct, "tail_samples": t_n,
            "rate_per_s": summ["rate_per_s"], "rate_unit": summ["rate_unit"],
            "loop_wall_s": wall_s, "spark_jobs": jobs,
            "prepare_s": prepare_s, "session_s": session_s, "warm_s": warm_s,
            "setup_reps_s": setup_times,
            "cores": ctx.cores,
        }
        details.update(summ.get("details", {}))
        if args.trace:
            tr.uninstall()
            metrics, report = layer_metrics(ctx, tr, reqs, setup_spans)
            details["per_request_counts"] = {
                r.rid: [r.name, tr.counts.get(r.rid, {}).get("spark.scheduler.jobs", 0),
                        tr.counts.get(r.rid, {}).get("spark.scheduler.stages", 0), r.rows]
                for r in reqs}
            details["layers"] = report
        else:
            metrics = {
                "setup_s": {"value": session_s + statistics.median(setup_times), "unit": "s"},
                "p50_ms": {"value": details["p50_ms"], "unit": "ms"},
                "tail_ms": {"value": details["tail_ms"], "unit": "ms"},
                "rate_per_s": {"value": summ["rate_per_s"], "unit": "1/s"},
                "peak_rss_mb": {"value": peak_rss_mb(spark), "unit": "MB"},
            }
        print(json.dumps(details, default=str))
        print(json.dumps({"correct": not failed, "attempted": len(reqs),
                          "failed": len(failed), "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
