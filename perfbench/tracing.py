"""Spans and counters for the traced run.

The untraced run uses :data:`OFF`, whose spans are no-ops, so the
end-to-end numbers carry no tracing cost. The traced run installs a
:class:`Tracer`: it wraps the library's layer entry points from the
benchmark's own code (nothing inside ``sidemantic_spark`` changes),
counts Py4J round trips, and after each request reads Catalyst phase
times and the scheduler counts of the request's Spark job group from the
driver. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time


class _Off:
    """Tracing disabled: every hook is a no-op."""

    enabled = False

    def span(self, name):
        return contextlib.nullcontext()

    def request(self, rid):
        return contextlib.nullcontext()

    def count(self, name, n=1):
        pass

    def after_request(self, rid, df):
        pass


OFF = _Off()


def job_group(rid) -> str:
    """Spark job group of request ``rid`` (set by the request runner in
    traced and untraced runs alike)."""
    return f"perfbench-{rid}"


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[object, dict[str, float]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_names(self) -> list[str]:
        return [name for _, name in self._stack()]

    @contextlib.contextmanager
    def span(self, name: str):
        t_hook = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._ids
            self._ids += 1
        parent = stack[-1][0] if stack else None
        stack.append((sid, name))
        self._charge(t_hook)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "req": getattr(self._local, "req", None)}
            with self._lock:
                self.spans.append(rec)
            self._charge(end)

    @contextlib.contextmanager
    def request(self, rid):
        """Root span of one request."""
        self._local.req = rid
        with self._lock:
            self.counts.setdefault(rid, {})
        try:
            with self.span("request"):
                yield
        finally:
            self._local.req = None

    def count(self, name: str, n: float = 1) -> None:
        rid = getattr(self._local, "req", None)
        if rid is None:
            return
        c = self.counts[rid]
        c[name] = c.get(name, 0) + n

    def _charge(self, since: float) -> None:
        """Book the tracer's own time against the current request."""
        self.count("trace.hook_s", time.perf_counter() - since)

    # -- per-request driver reads (outside the request's timed window) --

    def after_request(self, rid, df) -> None:
        t0 = time.perf_counter()
        self._local.req = rid
        self._local.in_tracer = True
        try:
            self._read_phases(df)
            self._read_scheduler(rid)
        finally:
            self._local.in_tracer = False
            self._local.req = None
        c = self.counts[rid]
        c["trace.readout_s"] = c.get("trace.readout_s", 0) + time.perf_counter() - t0

    def _read_phases(self, df) -> None:
        if df is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                self.count(f"spark.catalyst.{phase}_ms", opt.get().durationMs())

    def _read_scheduler(self, rid) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(job_group(rid))
        self.count("spark.scheduler.jobs", len(jobs))
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                self.count("spark.scheduler.stages")
                stage = tracker.getStageInfo(sid)
                self.count("spark.scheduler.tasks", stage.numTasks if stage else 0)
                data = store.stageData(
                    sid, False, gw.jvm.java.util.ArrayList(), False,
                    gw.new_array(gw.jvm.double, 0),
                ).iterator()
                while data.hasNext():
                    d = data.next()
                    self.count("spark.exec.executor_run_ms", d.executorRunTime())
                    self.count("spark.exec.shuffle_write_bytes", d.shuffleWriteBytes())

    # -- wrapping library entry points ----------------------------------

    def wrap(self, owner, attr: str, span_name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a version that records a span;
        ``before(tracer, *args)`` sees the arguments and
        ``after(tracer, result)`` the result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                before(tracer, *args, **kwargs)
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(tracer, out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_operator(self, module, fn_name: str) -> None:
        """Operator span; an operator called inside another operator is
        part of its caller's span, not a separate call."""
        orig = getattr(module, fn_name)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if any(n.startswith("operators.") for n in tracer.current_names()):
                return orig(*args, **kwargs)
            name = f"operators.{fn_name}.call"
            jobs0 = tracer.jobs_launched()
            with tracer.span(name):
                out = orig(*args, **kwargs)
            tracer.count(f"{name}.probe_jobs", tracer.jobs_launched() - jobs0)
            return out

        self._restore.append((module, fn_name, orig))
        setattr(module, fn_name, traced)

    def jobs_launched(self) -> int:
        self._local.in_tracer = True
        try:
            return self.sc._jsc.sc().dagScheduler().numTotalJobs()
        finally:
            self._local.in_tracer = False

    def count_py4j(self) -> None:
        """Count Py4J round trips made by request code (not the tracer)."""
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            local = tracer._local
            if getattr(local, "req", None) is not None and not getattr(local, "in_tracer", False):
                names = tracer.current_names()
                tracer.count("spark.py4j_calls")
                if "spark.build" in names:
                    tracer.count("spark.py4j_calls.build")
            return orig(client, *args, **kwargs)

        self._restore.append((GatewayClient, "send_command", orig))
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- reduction ------------------------------------------------------

    def per_request(self) -> dict:
        """Per request: total and self seconds by span name, plus counts."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            if s["req"] is None:
                continue
            r = out.setdefault(s["req"], {"total": {}, "self": {}})
            dur = s["end"] - s["start"]
            r["total"][s["name"]] = r["total"].get(s["name"], 0.0) + dur
            r["self"][s["name"]] = r["self"].get(s["name"], 0.0) + dur - children.get(s["id"], 0.0)
        for rid, c in self.counts.items():
            out.setdefault(rid, {"total": {}, "self": {}})["counts"] = dict(c)
        return out

    def unattached(self) -> dict:
        """Spans outside any request (set-up), total seconds by name."""
        agg: dict[str, list[float]] = {}
        for s in self.spans:
            if s["req"] is None:
                agg.setdefault(s["name"], []).append(s["end"] - s["start"])
        return agg


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
