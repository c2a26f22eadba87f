"""SparkSemanticLayer — registry + compile + execute on a SparkSession.

Re-expression of the reference's ``core/semantic_layer.py`` with Spark
as both dialect target and executor: ``compile()`` returns Spark SQL
text, ``query()`` executes it via ``spark.sql`` and returns a DataFrame
(the reference returns warehouse cursors/Arrow — on Spark the DataFrame
*is* the deferred result, and ``df.toArrow()`` covers interchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sidemantic_spark.core.graph import SemanticGraph
from sidemantic_spark.core.model import Metric, Model
from sidemantic_spark.sql.generator import QuerySpec, Resolved, SqlGenerator, read_header


class SparkSemanticLayer:
    def __init__(
        self,
        spark: SparkSession,
        default_limit: int | None = None,
        max_limit: int | None = None,
        allow_non_additive_unsafe: bool = False,
    ) -> None:
        self.spark = spark
        self.graph = SemanticGraph()
        self.generator = SqlGenerator(self.graph)
        # reference semantic_layer.py escape hatch: skip the
        # semi-additive rewrite, aggregate naively over all snapshots
        self.generator.allow_non_additive_unsafe = allow_non_additive_unsafe
        self.default_limit = default_limit
        self.max_limit = max_limit
        self._registered_sources: set[str] = set()
        # content-keyed result cache: key -> (persisted DataFrame,
        # monotonic stamp); LRU-bounded + optional TTL (reference
        # core/result_cache.py)
        self._result_cache: dict[str, tuple] = {}
        self.result_cache_max_entries = 32
        self.result_cache_ttl_seconds: float | None = None
        self._cache_hits = 0
        self._cache_misses = 0
        # singleflight: key -> in-flight record (leader computes,
        # concurrent callers wait); guards the cache dict too
        import threading as _threading

        self._flight_lock = _threading.Lock()
        self._inflight: dict[str, dict] = {}
        self.query_log: list[str] = []  # instrumentation headers, recommender input
        from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

        self._rewriter = SemanticSqlRewriter(self)

    @property
    def enforce_visibility(self) -> bool:
        """Reject hidden (``public: false``) fields on every compile
        path; a view of the generator's flag, which owns the check."""
        return self.generator.enforce_visibility

    @enforce_visibility.setter
    def enforce_visibility(self, value: bool) -> None:
        self.generator.enforce_visibility = value

    # -- registry ----------------------------------------------------

    def __enter__(self) -> "SparkSemanticLayer":
        from sidemantic_spark.core import registry

        registry.push(self)
        return self

    def __exit__(self, *exc) -> None:
        from sidemantic_spark.core import registry

        registry.pop(self)

    def add_model(self, model: Model) -> Model:
        if self.graph.models.get(model.name) is model:
            return model  # already auto-registered via context manager
        self.graph.add_model(model)
        return model

    def load(self, path: str) -> "SparkSemanticLayer":
        """Load semantic models from a YAML / semantic-SQL file or a
        directory of them (the reference's ``SemanticLayer(...)`` +
        adapter load path)."""
        from sidemantic_spark.authoring import load_path

        load_path(self, path)
        return self

    def validate(self) -> dict:
        """Graph-level validation: {'valid': bool, 'errors': [...]}."""
        from sidemantic_spark.authoring.yaml_io import validate_graph

        errors = validate_graph(self.graph)
        return {"valid": not errors, "errors": errors}

    def add_metric(self, metric: Metric) -> Metric:
        self.graph.add_metric(metric)
        return metric

    def validate_query(
        self, metrics: list[str] | None = None, dimensions: list[str] | None = None
    ) -> list[str]:
        """Pre-execution query validation: returns a list of errors
        (empty if valid) instead of raising — reference
        ``validation.py:805`` ``validate_query``. Unknown references
        include close-match suggestions."""
        from sidemantic_spark.core.graph import SemanticGraphError
        from sidemantic_spark.sql.generator import QueryCompileError, QuerySpec

        # SemanticGraphError covers unknown MODEL names (the most common
        # validation failure) — both must land in the error list, not
        # escape the documented returns-errors contract
        caught = (QueryCompileError, SemanticGraphError)
        errors: list[str] = []
        for m in metrics or []:
            try:
                self.generator._resolve(QuerySpec(metrics=[m]))
            except caught as e:
                errors.append(str(e))
        for d in dimensions or []:
            try:
                self.generator._resolve(QuerySpec(dimensions=[d]))
            except caught as e:
                errors.append(str(e))
        return errors

    # -- sources -----------------------------------------------------

    def register_sources(self) -> None:
        """Register file-backed models (``source_uri``) as temp views.

        At cluster scale the view is a plain parquet scan, so Catalyst
        predicate pushdown / partition pruning applies untouched.
        """
        self.graph.resolve_inheritance()
        for model in self.graph.models.values():
            if model.source_uri and model.name not in self._registered_sources:
                # live-DB binding (replaces the reference's 9 warehouse
                # adapters, db/postgres.py et al.): a jdbc: URI reads
                # through spark.read.jdbc with Catalyst filter/column
                # pushdown into the remote engine; partitioned parallel
                # reads come from source_options (partitionColumn/
                # lowerBound/upperBound/numPartitions, plus dbtable or
                # a pushdown-friendly `query`). Needs the engine's JDBC
                # driver jar on the Spark classpath at runtime.
                fmt = model.source_format
                if fmt == "parquet" and model.source_uri.startswith("jdbc:"):
                    fmt = "jdbc"
                reader = self.spark.read.format(fmt)
                if model.source_options:
                    reader = reader.options(**model.source_options)
                # jdbc sources carry the table in options, not a path
                if fmt == "jdbc":
                    df = reader.option("url", model.source_uri).load()
                else:
                    df = reader.load(model.source_uri)
                df.createOrReplaceTempView(model.table or model.name)
                self._registered_sources.add(model.name)
            if model.auto_dimensions:
                self._introspect_dimensions(model)

    def _introspect_dimensions(self, model) -> None:
        """Auto-discover dimensions from the Spark schema (reference
        ``core/semantic_layer.py:492`` _introspect_dimensions, type map
        ``:563`` _map_db_type). Existing dimensions and PK columns are
        left untouched; each other column becomes a dimension with its
        Spark DataType folded onto the 4 semantic types."""
        from sidemantic_spark.core.model import Dimension

        try:
            if model.table or model.source_uri:
                schema = self.spark.table(model.table or model.name).schema
            elif model.sql:
                schema = self.spark.sql(
                    f"SELECT * FROM ({model.sql}) AS _introspect LIMIT 0"
                ).schema
            else:
                return
        except Exception:
            return
        existing = {d.name for d in model.dimensions}
        pk = set(model.pk_list())
        for f in schema.fields:
            if f.name in existing or f.name in pk:
                continue
            t = f.dataType.simpleString()
            if t in ("date",):
                dtype, grain = "time", "day"
            elif t.startswith("timestamp"):
                dtype, grain = "time", "second"
            elif t == "boolean":
                dtype, grain = "boolean", None
            elif t.startswith(("tinyint", "smallint", "int", "bigint", "long",
                               "float", "double", "decimal")):
                dtype, grain = "numeric", None
            elif t.startswith(("array", "map", "struct", "binary")):
                continue  # complex/opaque columns are not dimensions
            else:
                dtype, grain = "categorical", None
            model.add_dimension(Dimension(name=f.name, type=dtype, granularity=grain))
        model.auto_dimensions = False  # introspect once
        self.graph._invalidate()

    # -- compile / execute -------------------------------------------

    def sql(self, semantic_sql: str, user: dict | None = None) -> DataFrame:
        """Execute semantic SQL text (models as tables, metrics/dims as
        columns) — the reference's ``layer.sql`` surface. When security
        controls are active the transport gate refuses source reads the
        compiler cannot secure (ref core/transport_security.py); the
        ``user`` namespace feeds access checks and row policies exactly
        as in ``query(user=...)``."""
        from sidemantic_spark.core.transport_security import rewrite_transport_sql

        self.register_sources()
        return self._execute(
            rewrite_transport_sql(self, semantic_sql, user=user),
            lambda: self.rewrite(semantic_sql, user=user, use_preaggs=False),
        )

    def rewrite(self, semantic_sql: str, user: dict | None = None,
                use_preaggs: bool = True, preagg_strict: bool = False) -> str:
        """Semantic SQL text -> Spark SQL under the per-request modes."""
        return self._rewriter.rewrite(
            semantic_sql, user=user, use_preaggs=use_preaggs,
            preagg_strict=preagg_strict)

    def get_catalog_metadata(self, schema: str = "public") -> dict:
        """Postgres information_schema-shaped export of the graph
        (ref ``core/catalog.py:69`` via ``layer.get_catalog_metadata``):
        models as tables, dimensions AND metrics as columns, pk/fk
        constraints with referenced table/column mapping."""
        from sidemantic_spark.server.catalog import get_catalog_metadata

        return get_catalog_metadata(
            self.graph, schema=schema,
            enforce_visibility=getattr(self, "enforce_visibility", False),
        )

    def explain_sql(self, semantic_sql: str) -> dict:
        return self._rewriter.explain(semantic_sql)

    def add_explore(self, explore):
        self.graph.add_explore(explore)
        return explore

    def add_saved_query(self, sq):
        self.graph.add_saved_query(sq)
        return sq

    def _resolve_contracts(self, kwargs: dict) -> dict:
        """Expand saved_query / explore kwargs into a concrete query
        (reference ``core/semantic_layer.py:923,1140``)."""
        from sidemantic_spark.core.consumption import ContractError

        kwargs = dict(kwargs)
        sq_name = kwargs.pop("saved_query", None)
        if sq_name is not None:
            sq = self.graph.saved_queries.get(sq_name)
            if sq is None:
                raise ContractError(f"unknown saved query {sq_name!r}")
            merged = sq.as_kwargs()
            merged.update({k: v for k, v in kwargs.items() if v not in (None, [], {})})
            kwargs = merged
            if sq.explore and "explore" not in kwargs:
                kwargs["explore"] = sq.explore
        explore_name = kwargs.pop("explore", None)
        if explore_name is not None:
            explore = self.graph.explores.get(explore_name)
            if explore is None:
                raise ContractError(f"unknown explore {explore_name!r}")
            kwargs = explore.resolve(kwargs, graph=self.graph)
        return kwargs

    def compile(
        self,
        metrics: list[str] | None = None,
        dimensions: list[str] | None = None,
        filters: list[str] | None = None,
        order_by: list[str] | None = None,
        limit: int | None = None,
        offset: int | None = None,
        ungrouped: bool = False,
        with_totals: bool = False,
        segments: list[str] | None = None,
        parameters: dict | None = None,
        table_calcs: list | None = None,
        user: dict | None = None,
        timezone: str | None = None,
        explore: str | None = None,
        saved_query: str | None = None,
        post_process: str | None = None,
        use_preaggs: bool = True,
        preagg_strict: bool = False,
    ) -> str:
        # every parameter above, by name: the signature is the one list
        return self._compile({k: v for k, v in locals().items() if k != "self"})[0]

    def _compile(
        self, kwargs: dict, explain: bool = False
    ) -> tuple[str, Resolved | None]:
        """The one compile path behind ``compile`` and ``explain_plan``.
        With ``explain`` it also returns the resolution the SQL was
        generated from."""
        kwargs = self._resolve_contracts(kwargs)
        table_calcs = kwargs.pop("table_calcs", None)
        post_process = kwargs.pop("post_process", None)
        if post_process is not None and "{inner}" not in post_process:
            raise ValueError(
                "post_process SQL must contain the {inner} placeholder "
                "for the compiled semantic query"
            )
        spec = self._spec(kwargs)
        if explain:
            sql, r = self.generator.generate_resolved(spec)
        else:
            sql, r = self.generator.generate(spec), None
        if table_calcs:
            from sidemantic_spark.sql.table_calcs import apply_table_calcs

            sql = apply_table_calcs(sql, table_calcs)
        if post_process is not None:
            # arbitrary SQL over the compiled result (reference
            # semantic_layer.py post_process,
            # tests/queries/test_sql_rewriter.py:1568-1735). The
            # reference hoists the inner CTEs to the top level; Spark
            # scopes WITH inside derived tables, so the compiled query
            # substitutes WHOLE into {inner} — the caller's own CTEs
            # (even one named like a generated CTE) cannot collide
            # because the inner names stay scoped to the subquery.
            sql = post_process.replace("{inner}", "\n" + sql + "\n")
        # bounded query log feeding the preagg recommender
        self.query_log.append(sql.split("\n", 1)[0])
        if len(self.query_log) > 10000:
            del self.query_log[:5000]
        return sql, r

    def _spec(self, kwargs: dict) -> QuerySpec:
        """The ``QuerySpec`` for compile kwargs, with the layer's
        ``default_limit``/``max_limit`` and the graph's parameter
        defaults applied."""
        self.graph.resolve_inheritance()
        spec = QuerySpec(**{k: v for k, v in kwargs.items() if v is not None})
        self._warn_deprecations(spec.metrics, spec.dimensions)
        if not spec.with_totals:
            # a configured default_limit must never page out the
            # grand-total row (reference
            # test_with_totals_ignores_configured_default_limit)
            if spec.limit is None:
                spec.limit = self.default_limit
            if self.max_limit is not None and (
                spec.limit is None or spec.limit > self.max_limit
            ):
                spec.limit = self.max_limit
        # graph-level parameter defaults, overridden per query
        spec.parameters = {
            **{p.name: p.default_value for p in self.graph.parameters.values()
               if p.default_value is not None},
            **spec.parameters,
        }
        return spec

    @property
    def preaggs(self):
        from sidemantic_spark.preagg.manager import PreAggManager

        if not hasattr(self, "_preagg_manager"):
            self._preagg_manager = PreAggManager(self)
        return self._preagg_manager

    def query(self, use_cache: bool = False, **kwargs) -> DataFrame:
        self.register_sources()
        sql = self.compile(**kwargs)
        if use_cache:
            key = self._cache_key(sql, kwargs.get("user"))
            # SINGLEFLIGHT (reference core/result_cache.py
            # get_or_compute, tests/core/test_result_cache.py:121-199):
            # concurrent pgwire/HTTP callers of the same key wait for
            # ONE leader's compute+persist instead of each re-running
            # the plan; a leader failure propagates to that
            # generation's waiters and does NOT poison the key.
            import threading as _threading

            counted = False
            while True:
                with self._flight_lock:
                    # one query = one stat: only the FIRST lookup of
                    # this call counts (a leader-vanished retry probes
                    # again without inflating hit/miss numbers)
                    hit = self._cache_get(key, count=not counted)
                    counted = True
                    if hit is not None:
                        return hit
                    fl = self._inflight.get(key)
                    if fl is None:
                        fl = {"event": _threading.Event(),
                              "result": None, "exc": None}
                        self._inflight[key] = fl
                        break  # this thread is the leader
                fl["event"].wait()
                if fl["exc"] is not None:
                    raise fl["exc"]
                if fl["result"] is not None:
                    # no extra hit increment: this waiter already counted
                    # a miss inside _cache_get (one query = one stat)
                    return fl["result"]
                # leader vanished without result (shutdown): retry
            try:
                df = self._query_uncached(sql, kwargs)
                df = df.persist()
                with self._flight_lock:
                    self._cache_put(key, df)
                fl["result"] = df
                return df
            except BaseException as exc:
                fl["exc"] = exc
                raise
            finally:
                with self._flight_lock:
                    self._inflight.pop(key, None)
                fl["event"].set()
        return self._query_uncached(sql, kwargs)

    def _query_uncached(self, sql: str, kwargs: dict) -> DataFrame:
        return self._execute(
            sql, lambda: self.compile(**{**kwargs, "use_preaggs": False})
        )

    def _execute(self, sql: str, compile_raw) -> DataFrame:
        """Run compiled SQL — the one execution path of ``query`` and
        ``sql``. When it reads a declared pre-aggregation table (rollup
        or ``original_sql`` staging) that is not built yet, run
        ``compile_raw()`` instead: the same request compiled with
        ``use_preaggs=False``. Every other error propagates unchanged."""
        from pyspark.errors import AnalysisException

        try:
            return self.spark.sql(sql)
        except AnalysisException as exc:
            # `name` or `schema`.`name`, as the SQL wrote it
            rel = (exc.getMessageParameters() or {}).get("relationName", "")
            # physical_name's format, unvalidated: a model name it rejects
            # names no table, and must not replace this error
            if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND" or (
                rel.rsplit(".", 1)[-1].strip("`").lower() not in {
                    f"{m.name}_preagg_{pa.name}".lower()
                    for m in self.graph.models.values()
                    for pa in m.pre_aggregations
                }
            ):
                raise
        return self.spark.sql(compile_raw())

    def _cache_get(self, key: str, count: bool = True):
        import time as _time

        entry = self._result_cache.get(key)
        if entry is None:
            if count:
                self._cache_misses += 1
            return None
        df, stamp = entry
        if (
            self.result_cache_ttl_seconds is not None
            and _time.monotonic() - stamp > self.result_cache_ttl_seconds
        ):
            # expired: unpersist and treat as a miss (reference
            # core/result_cache.py TTL expiry)
            self._result_cache.pop(key, None)
            try:
                df.unpersist()
            except Exception:
                pass
            if count:
                self._cache_misses += 1
            return None
        # LRU touch: move to the end
        self._result_cache.pop(key)
        self._result_cache[key] = (df, stamp)
        if count:
            self._cache_hits += 1
        return df

    def _cache_put(self, key: str, df) -> None:
        import time as _time

        self._result_cache[key] = (df, _time.monotonic())
        while len(self._result_cache) > self.result_cache_max_entries:
            # LRU eviction: the persisted block manager memory is the
            # budget the reference's byte cap models (ref
            # core/result_cache.py LRU-by-bytes); evicted frames
            # unpersist so the executor memory is actually released
            _old_key, (old_df, _s) = next(iter(self._result_cache.items()))
            self._result_cache.pop(_old_key)
            try:
                old_df.unpersist()
            except Exception:
                pass

    @property
    def result_cache_stats(self) -> dict:
        return {
            "entries": len(self._result_cache),
            "hits": self._cache_hits,
            "misses": self._cache_misses,
        }

    def _warn_deprecations(self, metrics: list[str], dimensions: list[str]) -> None:
        """Non-fatal DeprecationWarning for every referenced deprecated
        model/metric (reference core/governance.py lifecycle fields)."""
        import warnings as _warnings

        seen_models: set[str] = set()
        for ref in list(metrics) + list(dimensions):
            name = ref.split(" AS ")[0].strip()
            if "." not in name:
                continue
            mname, field_name = name.split(".", 1)
            field_name = field_name.split("__")[0]
            model = self.graph.models.get(mname)
            if model is None:
                continue
            if model.deprecation is not None and mname not in seen_models:
                seen_models.add(mname)
                _warnings.warn(model.deprecation.notice(f"model {mname!r}"),
                               DeprecationWarning, stacklevel=5)
            metric = model.metric(field_name)
            if metric is not None and metric.deprecation is not None:
                _warnings.warn(
                    metric.deprecation.notice(f"metric {mname}.{field_name!r}"),
                    DeprecationWarning, stacklevel=5)

    def check_freshness(self, model_name: str | None = None) -> dict:
        """Evaluate freshness policies (reference core/freshness.py):
        for each model with a policy, run the marker query — MAX of the
        watermark expression (pushes to parquet footer stats at scale)
        or the advanced scalar SQL — and report age vs ttl_seconds."""
        import datetime

        self.register_sources()
        names = [model_name] if model_name else [
            n for n, m in self.graph.models.items() if m.freshness is not None
        ]
        out: dict = {}
        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        for name in names:
            model = self.graph.get_model(name)
            fr = model.freshness
            if fr is None:
                out[name] = {"policy": None}
                continue
            if fr.sql:
                marker_sql = fr.sql
            else:
                from sidemantic_spark.core.governance import (
                    freshness_marker_sql,
                )

                marker_sql = freshness_marker_sql(model, fr.watermark)
                if marker_sql is None:
                    # no physical source: fall back to the model name as
                    # a catalog reference (pre-existing behavior)
                    dim = model.dimension(fr.watermark)
                    expr = dim.expr if dim else fr.watermark
                    marker_sql = f"SELECT MAX({expr}) FROM {name}"
            value = self.spark.sql(marker_sql).collect()[0][0]
            age = None
            if isinstance(value, datetime.datetime):
                age = (now - value.replace(tzinfo=None)).total_seconds()
            elif isinstance(value, datetime.date):
                age = (now - datetime.datetime(value.year, value.month, value.day)).total_seconds()
            fresh = None
            if fr.ttl_seconds is not None and age is not None:
                fresh = age <= fr.ttl_seconds
            out[name] = {
                "policy": {"watermark": fr.watermark, "sql": fr.sql,
                           "ttl_seconds": fr.ttl_seconds},
                "marker": value.isoformat() if hasattr(value, "isoformat") else value,
                "age_seconds": age,
                "fresh": fresh,
            }
        return out

    def _cache_key(self, sql: str, user: dict | None) -> str:
        import hashlib

        payload = f"{self.graph.generation}|{sorted((user or {}).items())}|{sql}"
        return hashlib.sha256(payload.encode()).hexdigest()

    def clear_result_cache(self) -> None:
        for df, _stamp in self._result_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._result_cache.clear()

    def chart(self, metric, *, by=None, mark: str = "auto",
              filters: list[str] | None = None,
              segments: list[str] | None = None,
              order_by: list[str] | None = None,
              limit: int | None = None, title: str | None = None,
              user: dict | None = None):
        """Headless chart builder over semantic fields (reference
        ``core/semantic_layer.py:860`` / ``viz.py:1903``)::

            layer.chart("orders.revenue",
                        by="orders.order_date__month").line().to_vegalite()
        """
        from sidemantic_spark.charts import ChartBuilder

        return ChartBuilder(self, metric, by=by, mark=mark, filters=filters,
                            segments=segments, order_by=order_by,
                            limit=limit, title=title, user=user)

    def explain_plan(self, **kwargs) -> dict:
        """Structured explain IR (reference ``core/query_plan.py:43``
        QueryPlan / ``sql/planner.py:23``): resolved models and join
        path, fan-out analysis, the pre-aggregation route and the
        compiled SQL. Everything reported is read from the one
        compilation that SQL came from: after segments, parameters, the
        ``{model}`` placeholder, default time dimensions and the
        layer's limits. ``preagg`` is the router's own record of that
        compile (``eligible``, the refusing ``reason``, each
        candidate's accept/reject reasons, the ``used`` rollup); a
        compile that never consulted the router (``use_preaggs=False``,
        window, multi-fact, semi-additive and conversion plans) reports
        it as not attempted."""
        sql, r = self._compile(kwargs, explain=True)
        # the generator's header; a table_calcs wrapper puts its own
        # header line first
        header: dict[str, str] = {}
        for line in sql.split("\n", 2)[:2]:
            header.update(read_header(line))
        # fan-out: the join duplicates rows of a model carrying metrics,
        # by the generator's own rule (ref sql/generator.py:2500-2548
        # _has_fanout_joins)
        dup = self.generator._dup_map(r)
        fanout_hops = [
            h for h in r.hops if h.duplicates_left() or h.duplicates_right()
        ] if any(dup.get(rm.model, False) for rm in r.metrics) else []
        return {
            "base_model": r.base,
            "models": list(r.models),
            "metrics": [rm.out for rm in r.metrics],
            "dimensions": [rd.out for rd in r.dims],
            "join_path": [
                {
                    "from": h.from_model,
                    "to": h.to_model,
                    "type": h.rel_type,
                    "on": list(zip(h.fk_side, h.pk_side)) if not h.custom_sql else h.custom_sql,
                }
                for h in r.hops
            ],
            "fanout": {
                "detected": bool(fanout_hops),
                "hops": [f"{h.from_model}->{h.to_model}" for h in fanout_hops],
                # the plan the generator chose: fan-out-safe metrics
                # keep the plain grouped plan
                "strategy": "auto_entity_grain_dedup"
                if header.get("plan") == "grouped-dedup" else None,
            },
            "filters": {
                "pushdown": {k: list(v) for k, v in r.pushdown.items()},
                "outer": list(r.outer_filters),
                "having": list(r.having),
            },
            "limit": r.spec.limit,
            "preagg": r.route or {
                "eligible": False,
                "reason": "not attempted: this compile does not consult the "
                          "rollup router",
                "candidates": [],
                "used": None,
            },
            "used_preagg": header.get("used_preagg"),
            "compiled_sql": sql,
        }

    def explain(self, **kwargs) -> str:
        """Compiled Spark SQL plus Catalyst's formatted physical plan."""
        self.register_sources()
        sql = self.compile(**kwargs)
        df = self.spark.sql(sql)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return f"{sql}\n\n{plan}"

    def create_view(self, name: str, **kwargs) -> None:
        """CREATE VIEW sink (ref sql/generator.py:817-858)."""
        self.query(**kwargs).createOrReplaceTempView(name)
