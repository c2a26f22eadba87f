"""The workloads.

Each workload has ``prepare`` (seeded inputs and expected outputs,
untimed and cached per seed), ``warm`` (untimed: every request shape
runs once, so the JIT and Spark's code-generation cache are warm and the
timed loop measures a running service, not first executions), ``setup``
(repeated to measure set-up time), and ``run`` (the timed loop,
returning one record per request).
Requests call the library only through the catalogue module
(``__spark_entry__``) and the public ``sidemantic_spark`` API.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import reference
import tracing

# A request slower than this counts as failed (timed out).
REQUEST_TIMEOUT_S = 60.0

# ----------------------------------------------------------------------
# shared request machinery
# ----------------------------------------------------------------------

class Request:
    __slots__ = ("rid", "kind", "name", "latency_s", "ok", "error", "rows")

    def __init__(self, rid, kind, name):
        self.rid, self.kind, self.name = rid, kind, name
        self.latency_s = 0.0
        self.ok = False
        self.error = None
        self.rows = 0


def run_request(ctx, req, action):
    """Run ``action`` as request ``req`` and time it.

    The request's Spark jobs form the job group ``job_group(rid)``, which
    the traced run reads back; a timer cancels that group once the
    request has run ``REQUEST_TIMEOUT_S``, so a hung job ends the request
    instead of the run. Returns the action's result, or None with
    ``req.error`` set when it raised or timed out."""
    sc = ctx.spark.sparkContext
    group = tracing.job_group(req.rid)
    sc.setJobGroup(group, req.kind, interruptOnCancel=True)
    expired = threading.Event()

    def cancel():
        expired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(REQUEST_TIMEOUT_S, cancel)
    timer.daemon = True
    timer.start()
    out = None
    try:
        with ctx.tracer.request(req.rid):
            t0 = time.perf_counter()
            out = action()
            req.latency_s = time.perf_counter() - t0
    except Exception as exc:  # counted as a failed request
        req.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        timer.cancel()
    if expired.is_set():
        req.error = f"timed out after {REQUEST_TIMEOUT_S:.0f} s"
    return None if req.error else out


def execute(ctx, rid, kind, name, build, check) -> Request:
    """One request: build the DataFrame and collect it (timed), then
    check the result (untimed) with ``check(df, rows)``."""
    tr = ctx.tracer
    req = Request(rid, kind, name)

    def action():
        with tr.span("spark.build"):
            df = build()
        with tr.span("spark.exec.action"):
            return df, df.collect()

    out = run_request(ctx, req, action)
    if out is None:
        return req
    df, rows = out
    tr.after_request(rid, df)
    req.rows = len(rows)
    verdict = check(df, rows)
    req.ok = verdict is True
    if not req.ok:
        req.error = verdict or "output differs from the reference"
    return req


def digest_check(expected):
    def check(df, rows):
        got = reference.spark_digest(rows, df.columns)
        if got == expected:
            return True
        return f"rows/digest {got['rows']}/{got['sha256'][:12]} != {expected['rows']}/{expected['sha256'][:12]}"
    return check


def boundary(ctx, fn):
    """Wrap a callable in the catalogue's contract boundary, the same
    wrapping every catalogue entry gets."""
    return ctx.entry._canon(ctx.entry._dbl(fn))


def warm_all(ctx, builds) -> None:
    """Build and collect each DataFrame once, one thread per core: the
    first execution of a request shape is JIT and code-generation work
    that parallelizes well."""
    with ThreadPoolExecutor(ctx.cores) as pool:
        list(pool.map(lambda build: build().collect(), builds))


def generated_tables(path: str, seed: int) -> str:
    """The ten tables for ``seed`` under ``path``, written on first use."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        datagen.write_tables(path, seed)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# ----------------------------------------------------------------------
# dashboard: closed loop, 2 clients, Zipf over semantic catalogue entries
# ----------------------------------------------------------------------

class Dashboard:
    """Interactive semantic queries: tiny results, so compile, the
    DataFrame build, Catalyst and job scheduling dominate."""

    name = "dashboard"
    clients = 2
    # Read-only semantic entries with an SQL oracle, most popular first
    # (Zipf rank), ordered so the ranks cover every feature family:
    # layer.query specs, layer.sql semantic SQL, joins, windows and time
    # offsets, fan-out, table calcs, a funnel, a saved query.
    # Left out of the catalogue's semantic entries: results of thousands
    # of rows (ungrouped, fk_dimension_no_join), entries that register or
    # write tables (source_scan_uri, create_view_sink, preagg_*), entries
    # that switch the shared layer's fan-out strategy while they run
    # (fanout_symmetric_aggs, fanout_dedup_plan: unsafe beside a second
    # client), and the long tail of rarely drawn ranks, whose features the
    # ranks below already cover: each entry costs run time in the warm
    # pass and in every deck, and a run has about a minute.
    ENTRIES = [
        "basic_agg", "time_grain_month", "order_limit", "join_m2o",
        "semantic_sql_expression", "running_total", "tpch_q1_pricing_summary",
        "filter_pushdown", "table_calc_pct_of_total", "mom_pct_change",
        "join_multi_hop", "semantic_sql_time_rollup", "yardstick_aggregate",
        "fanout_dedup", "conversion_funnel", "saved_query_run",
    ]
    # One deck holds each entry in proportion to its Zipf weight
    # (s = 1.2, at least once): 31 requests. A run issues whole decks,
    # each in a seeded order, so every run executes the same mix.
    DECK = [
        k for k in range(len(ENTRIES))
        for _ in range(max(1, round(10 / (k + 1) ** 1.2)))
    ]
    WARMUP = ENTRIES[:1]

    def required(self):
        return {"entries": self.ENTRIES, "oracles": self.ENTRIES}

    def prepare(self, ctx):
        ctx.data_dir = generated_tables(os.path.join(ctx.cache_dir, "tables"), ctx.seed)
        oracles = ctx.entry.oracle_sql()
        self.expected = reference.expected(
            ctx.cache_dir, ctx.data_dir, datagen.TABLES,
            {n: oracles[n] for n in self.ENTRIES},
        )

    def warm(self, ctx):
        # a catalogue module of its own: the one the loop uses starts
        # with empty compile caches, so the loop's cache hits are its own
        ctx.load_catalogue()
        warm_all(ctx, [lambda n=n: ctx.queries[n](ctx.spark, ctx.data_dir) for n in self.ENTRIES])

    def setup(self, ctx):
        ctx.load_catalogue()
        for name in self.WARMUP:
            ctx.queries[name](ctx.spark, ctx.data_dir).collect()

    def before_loop(self, ctx):
        ctx.register_views(ctx.data_dir)

    def run(self, ctx, deadline):
        rng = random.Random(ctx.seed)
        draws: list[int] = []
        counter = itertools.count()
        lock = threading.Lock()
        stop = False
        out: list[Request] = []

        def next_index():
            nonlocal stop
            with lock:
                if stop:
                    return None
                i = next(counter)
                at_deck_start = i % len(self.DECK) == 0
                if i > 0 and at_deck_start and time.perf_counter() >= deadline:
                    stop = True
                    return None
                if at_deck_start:
                    draws.extend(rng.sample(self.DECK, len(self.DECK)))
                return i

        def client():
            while (i := next_index()) is not None:
                name = self.ENTRIES[draws[i]]
                fn = ctx.queries[name]
                req = execute(
                    ctx, i, "query", name,
                    lambda: fn(ctx.spark, ctx.data_dir),
                    digest_check(self.expected[name]),
                )
                with lock:
                    out.append(req)

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(out, key=lambda r: r.rid)

    def summary(self, ctx, reqs, wall_s):
        lat = [r.latency_s for r in reqs]
        return {"latencies_s": lat, "rate_per_s": len(reqs) / wall_s,
                "rate_unit": "requests/s"}


# ----------------------------------------------------------------------
# rollup_refresh: refresh a rollup, then a query mix routed or rejected;
# one dedup pass per round
# ----------------------------------------------------------------------

class RollupRefresh:
    """The batch side of a service beside its reads: rollup refreshes
    (parquet writes) and a dedup pass over a seeded corpus (executor
    work: Arrow kernels, shuffles), between query mixes that the router
    serves from rollups or must send to the base tables."""

    name = "rollup_refresh"
    # Two query clients: with one, each query is a chain of short Spark
    # jobs whose latency follows the host's scheduling jitter, and the
    # median moved by up to 30% between runs of the same code.
    clients = 2
    # (physical name, model, PreAggregation kwargs)
    ROLLUPS = [
        ("orders_preagg_pb_daily", "orders", dict(
            name="pb_daily", measures=["revenue", "order_count"],
            dimensions=["status", "priority"], time_dimension="order_date",
            granularity="day")),
        ("orders_preagg_pb_detail", "orders", dict(
            name="pb_detail", measures=["revenue", "order_count"],
            dimensions=["okey", "status"])),
        ("orders_preagg_pb_filtered", "orders", dict(
            name="pb_filtered", measures=["open_revenue", "order_count"],
            dimensions=["priority"])),
        ("lineitem_preagg_pb_ship_daily", "lineitem", dict(
            name="pb_ship_daily",
            measures=["qty", "gross_revenue", "disc_revenue", "avg_qty", "line_count"],
            dimensions=["returnflag", "linestatus"], time_dimension="ship_date",
            granularity="day")),
    ]
    # catalogue entry whose spec (and oracle) the query repeats, the
    # spec, and whether the router must serve it from a rollup
    MIX = [
        ("basic_agg", dict(metrics=["orders.revenue", "orders.order_count"],
                           dimensions=["orders.status"]), True),
        ("time_grain_month", dict(metrics=["orders.revenue"],
                                  dimensions=["orders.order_date__month AS order_month"]), True),
        ("semantic_sql_time_rollup",
         "SELECT DATE_TRUNC('month', order_date__day) AS order_month, "
         "SUM(revenue) AS revenue "
         "FROM (SELECT orders.order_date__day, orders.revenue FROM orders) "
         "GROUP BY 1", True),
        ("preagg_ungrouped_route", dict(
            metrics=["orders.revenue", "orders.order_count"],
            dimensions=["orders.okey", "orders.status"],
            filters=["orders.status = 'P'"], order_by=["okey"], limit=500,
            ungrouped=True), True),
        ("preagg_filtered_measure_route", dict(
            metrics=["orders.open_revenue", "orders.order_count"],
            dimensions=["orders.priority"]), True),
        # no catalogue entry has this spec; its oracle is LINEITEM_FLAGS_SQL
        ("lineitem_flags", dict(
            metrics=["lineitem.qty", "lineitem.line_count"],
            dimensions=["lineitem.returnflag", "lineitem.linestatus"]), True),
        # joined dimension: no rollup carries customer.mktsegment
        ("join_m2o", dict(metrics=["orders.revenue"],
                          dimensions=["customer.mktsegment"]), False),
        # exact count-distinct cannot be re-aggregated from partials
        ("count_distinct_minmax", dict(
            metrics=["orders.customer_count", "orders.max_order_value",
                     "orders.min_order_value", "orders.avg_order_value"],
            dimensions=["orders.status"]), False),
    ]
    # The dedup pass, dealt to one client per core, through the
    # operators' catalogue entries (each reads the corpus from
    # ``documents``/``embeddings``).
    DEDUP = [
        "dedup_exact_keep_first",   # exact_dedup
        "dedup_minhash_lsh",        # minhash_lsh_pairs
        "dedup_clusters",           # ngram_jaccard_pairs -> connected_components
        "sim_semantic_dedup",       # semantic_dedup
        "text_bm25_topk",           # bm25_topk
        "pipeline_decontaminate",   # decontaminate
    ]
    OPERATORS = {
        "sidemantic_spark.operators.dedup": [
            "exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs",
            "connected_components",
        ],
        "sidemantic_spark.operators.similarity": ["semantic_dedup"],
        "sidemantic_spark.operators.search": ["bm25_topk"],
        "sidemantic_spark.operators.pipeline": ["decontaminate"],
    }
    # Checked against the planted duplicate groups, not an SQL oracle:
    # MinHash has none (its catalogue oracle is golden rows of the
    # repository's test data), and the clusters' recursive-CTE oracle
    # costs seconds per seed while the planted groups are its answer.
    PLANTED = ("dedup_minhash_lsh", "dedup_clusters")
    # Corpus size. The operators' cost on small inputs is mostly fixed
    # (Spark jobs, eager probes, Python workers): a pass over 500
    # documents takes about as long as one over 5,000.
    N_DOCS, N_VECS, DUP_GROUPS = 1_000, 500, 50

    LINEITEM_FLAGS_SQL = """
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               SUM(l_quantity) AS qty, COUNT(*) AS line_count
        FROM lineitem GROUP BY 1, 2
    """

    def required(self):
        names = [m[0] for m in self.MIX if m[0] != "lineitem_flags"]
        return {
            "entries": self.DEDUP,
            "oracles": names + [n for n in self.DEDUP if n not in self.PLANTED],
            "attributes": self.OPERATORS,
        }

    def prepare(self, ctx):
        ctx.data_dir = generated_tables(os.path.join(ctx.cache_dir, "tables"), ctx.seed)
        self.groups = reference.cached(
            os.path.join(ctx.cache_dir, "corpus_groups.json"),
            lambda: datagen.write_corpus(
                ctx.data_dir, ctx.seed, self.N_DOCS, self.N_VECS, self.DUP_GROUPS
            ),
        )
        oracles = ctx.entry.oracle_sql()
        sql = {m[0]: oracles.get(m[0], self.LINEITEM_FLAGS_SQL) for m in self.MIX}
        sql.update({n: oracles[n] for n in self.DEDUP if n not in self.PLANTED})
        self.expected = reference.expected(ctx.cache_dir, ctx.data_dir, datagen.TABLES, sql)

    def _dedup_check(self, name):
        if name == "dedup_minhash_lsh":
            # Within a group the character-shingle Jaccard is >= ~0.9 (an
            # exact copy or a one-word edit of 60-120 words), which the
            # 16x4 banding finds with probability > 1 - 1e-7; unrelated
            # documents sit far below the 0.4 threshold.
            want = sorted(
                pair for g in self.groups for pair in itertools.combinations(g, 2))

            def check(df, rows):
                got = sorted((r["id_a"], r["id_b"]) for r in rows)
                if got != want:
                    return f"minhash pairs {len(got)} != planted {len(want)}"
                if any(r["jaccard"] < 0.4 for r in rows):
                    return "minhash pair below the 0.4 threshold"
                return True
            return check
        if name == "dedup_clusters":
            # the word 5-gram Jaccard of group members is >= ~0.84, of
            # unrelated documents ~0: each group is one component
            want = sorted((m, min(g)) for g in self.groups for m in g)

            def check(df, rows):
                got = sorted((r["doc_id"], r["cluster_id"]) for r in rows)
                return got == want or f"cluster rows {len(got)} != planted {len(want)}"
            return check
        return digest_check(self.expected[name])

    def _build_layer(self, ctx):
        from sidemantic_spark.core.model import Dimension
        from sidemantic_spark.models import tpch
        from sidemantic_spark.preagg.matcher import PreAggregation

        # registered through the catalogue, which then knows the views
        # are current and does not register them again in the dedup pass
        ctx.entry._ensure_tables(ctx.spark, ctx.data_dir)
        layer = tpch.build_layer(ctx.spark)
        orders = layer.graph.get_model("orders")
        orders.dimensions.append(Dimension(name="okey", sql="o_orderkey"))
        orders.reindex()
        layer.graph._invalidate()
        for model_name in ("orders", "lineitem"):
            layer.graph.get_model(model_name).pre_aggregations = [
                PreAggregation(**kw) for _, m, kw in self.ROLLUPS if m == model_name
            ]
        layer.preaggs.base_path = os.path.join(ctx.work_dir, "rollups")
        return layer

    def warm(self, ctx):
        # the rollups are materialized once, here; a set-up attaches them
        # from disk, as a service restarting over persisted rollups does,
        # and the loop's refreshes rebuild them
        ctx.load_catalogue()
        self.layer = self._build_layer(ctx)
        # the dedup entries' first executions, the longest of the warm
        # pass, run beside the rollups' materialization
        jobs = [lambda n=n: ctx.queries[n](ctx.spark, ctx.data_dir).collect() for n in self.DEDUP]
        jobs += [lambda r=r: self.layer.preaggs.materialize(r[1], r[2]["name"]) for r in self.ROLLUPS]
        with ThreadPoolExecutor(ctx.cores) as pool:
            list(pool.map(lambda job: job(), jobs))
        # the router's choices are read from this layer, whose compile
        # cache the loop never uses: the loop's layer runs the router
        # itself on its first query of each spec
        self.route = self.routes()
        warm_all(ctx, [lambda i=i: self._run_query(ctx, i) for i in range(len(self.MIX))])

    def setup(self, ctx):
        ctx.load_catalogue()
        self.layer = self._build_layer(ctx)
        self.layer.preaggs.register_all()
        self._run_query(ctx, 0).collect()

    def _run_query(self, ctx, i):
        _, spec, _ = self.MIX[i]
        if isinstance(spec, str):
            fn = lambda s, d: self.layer.sql(spec)  # noqa: E731
        else:
            fn = lambda s, d: self.layer.query(**spec)  # noqa: E731
        return boundary(ctx, fn)(ctx.spark, ctx.data_dir)

    def routes(self):
        """Rollup each mix query is served from (None = base tables)."""
        from sidemantic_spark.core.transport_security import rewrite_transport_sql

        out = []
        for _, spec, _ in self.MIX:
            if isinstance(spec, str):
                sql = rewrite_transport_sql(self.layer, spec)
            else:
                sql = self.layer.compile(**spec)
            hit = [name for name, _, _ in self.ROLLUPS if f"used_preagg={name}" in sql]
            out.append(hit[0] if hit else None)
        return out

    def rollups_read(self, df) -> set:
        """The rollups whose files ``df`` reads."""
        files = df.inputFiles()
        return {name for name, _, _ in self.ROLLUPS if any(f"/{name}/" in f for f in files)}

    def before_loop(self, ctx):
        ctx.register_views(ctx.data_dir)

    def run(self, ctx, deadline):
        """Whole rounds. Each rollup is refreshed in turn, with no query
        running, and after each refresh every mix query runs once on the
        clients, the ones the router serves from the refreshed rollup
        first (each group in seeded order). A round ends with one dedup
        pass, its operators dealt to the same clients. Every run executes
        the same requests."""
        rng = random.Random(ctx.seed)
        out: list[Request] = []
        self.refresh_s: list[float] = []
        self.pass_s: list[float] = []
        for round_no in itertools.count():
            if round_no > 0 and time.perf_counter() >= deadline:
                break
            for target, model_name, kw in self.ROLLUPS:
                out.append(self._refresh(ctx, len(out), target, model_name, kw["name"]))
                first = [i for i, r in enumerate(self.route) if r == target]
                rest = [i for i in range(len(self.MIX)) if i not in first]
                order = rng.sample(first, len(first)) + rng.sample(rest, len(rest))
                out.extend(self._deal(len(out), [
                    lambda rid, i=i: self._query(ctx, rid, i) for i in order]))
            t0 = time.perf_counter()
            out.extend(self._deal(len(out), [
                lambda rid, n=n: self._dedup(ctx, rid, n) for n in self.DEDUP], ctx.cores))
            self.pass_s.append(time.perf_counter() - t0)
        return out

    def _deal(self, rid0, requests, clients=None):
        """Run ``requests`` (each called with its request id) in order,
        dealt to ``clients`` threads that each wait for their reply."""
        todo = iter(enumerate(requests, rid0))
        lock = threading.Lock()
        done: list[Request] = []

        def client():
            while True:
                with lock:
                    nxt = next(todo, None)
                if nxt is None:
                    return
                req = nxt[1](nxt[0])
                with lock:
                    done.append(req)

        threads = [threading.Thread(target=client) for _ in range(clients or self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(done, key=lambda r: r.rid)

    def _refresh(self, ctx, rid, target, model_name, preagg_name):
        tr = ctx.tracer
        req = Request(rid, "refresh", target)
        run_request(ctx, req, lambda: self.layer.preaggs.refresh(model_name, preagg_name))
        if req.error is None:
            tr.after_request(rid, None)
            req.ok = True
        if tr.enabled:
            tr.counts[rid]["preagg.manager.bytes_written"] = dir_bytes(
                os.path.join(self.layer.preaggs.base_path, target))
        self.refresh_s.append(req.latency_s)
        return req

    def _dedup(self, ctx, rid, name):
        fn = ctx.queries[name]
        return execute(ctx, rid, "dedup", name, lambda: fn(ctx.spark, ctx.data_dir),
                       self._dedup_check(name))

    def _query(self, ctx, rid, i):
        name, _, must_route = self.MIX[i]
        route = self.route[i]

        def check(df, rows):
            if (route is not None) != must_route:
                return f"router {'served' if route else 'rejected'} {name}"
            read = self.rollups_read(df)
            if read != ({route} if route else set()):
                return f"{name} read rollups {sorted(read)}, the router chose {route}"
            return digest_check(self.expected[name])(df, rows)

        req = execute(ctx, rid, "query", name, lambda: self._run_query(ctx, i), check)
        if ctx.tracer.enabled:
            ctx.tracer.counts[rid]["preagg.router.should_route"] = int(must_route)
        return req

    def summary(self, ctx, reqs, wall_s):
        q = [r.latency_s for r in reqs if r.kind == "query"]
        passes = sum(self.pass_s)
        return {"latencies_s": q, "rate_per_s": len(q) / wall_s, "rate_unit": "queries/s",
                "details": {
                    "refresh_p50_s": statistics.median(self.refresh_s),
                    "dedup_pass_p50_s": statistics.median(self.pass_s),
                    "dedup_docs_per_s": self.N_DOCS * len(self.pass_s) / passes if passes else 0.0,
                }}


WORKLOADS = {w.name: w for w in (Dashboard, RollupRefresh)}
