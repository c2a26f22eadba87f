"""Semantic query -> Spark SQL compiler.

Re-expression of the reference's SQL generator (sidemantic
``sql/generator.py:961`` ``SQLGenerator.generate``) targeting Spark SQL
only.  The plan shapes follow SURVEY.md §2:

- per-model CTE projection with filter pushdown
  (ref ``sql/generator.py:1987-2458``, ``:1640-1750``)
- multi-hop equi-joins from the relationship graph
  (ref ``sql/generator.py:2922-2969``)
- fan-out-safe aggregation via the entity-grain DISTINCT plan — the
  Spark-idiomatic alternative to symmetric aggregates
  (ref ``core/symmetric_aggregate.py:20``, ``sql/generator.py:3056``)
- multi-fact split: one aggregated subquery per metric model joined on
  the dimension grain (ref ``sql/generator.py:2586-2921``)
- window-metric pipeline: inner grouped query -> outer window stage
  (ref ``sql/generator.py:5701-6482``)
- conversion / retention / cohort plans
  (ref ``sql/generator.py:5210-5700``, ``:4998-5209``, ``:4694-4997``)
- semi-additive snapshot rewrite via nested window marker
  (ref ``sql/generator.py:147-274``, ``:3391-3629``)

Catalyst handles what the reference re-implements as SQL-shape rewrites
(predicate pushdown into scans, column pruning, constant folding), so
those exist here only to keep generated SQL readable and to route
pre-aggregations.
"""

from __future__ import annotations

import dataclasses
import json
import re
import threading
from dataclasses import dataclass, field

from sidemantic_spark.core.graph import (
    JoinHop,
    NoJoinPathError,
    SemanticGraph,
    SemanticGraphError,
)
from sidemantic_spark.core.model import (
    FANOUT_IMPOSSIBLE_AGGS,
    FANOUT_UNSAFE_AGGS,
    Metric,
    Model,
)
from sidemantic_spark.sql import fragments
from sidemantic_spark.sql.fragments import (
    find_refs,
    interval_sql,
    replace_refs,
    segments,
    split_alias,
    split_conjuncts,
    sub_code,
)


class QueryCompileError(Exception):
    pass


def _did_you_mean(name: str, candidates: list[str]) -> str:
    """Suggestion suffix for unknown-reference errors (reference
    surfaces close matches in validation errors; difflib here)."""
    import difflib

    short = name.rsplit(".", 1)[-1]
    close = difflib.get_close_matches(
        short, [c.rsplit(".", 1)[-1] for c in candidates], n=3, cutoff=0.6
    )
    matches = [c for c in candidates if c.rsplit(".", 1)[-1] in close]
    if not matches:
        return ""
    return ". Did you mean: " + ", ".join(sorted(set(matches))[:3]) + "?"


@dataclass
class QuerySpec:
    metrics: list[str] = field(default_factory=list)
    dimensions: list[str] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    ungrouped: bool = False
    with_totals: bool = False
    segments: list[str] = field(default_factory=list)
    parameters: dict = field(default_factory=dict)
    user: dict | None = None  # security namespace for access/row filters
    timezone: str | None = None  # localize time dims before truncation
    # models the caller explicitly INNER-joined (semantic-SQL
    # `JOIN model ON ...`): pulled into the join even when nothing of
    # theirs is selected, and joined INNER so the reference's
    # join-existence semantics hold (ref test_sql_rewriter.py:296)
    inner_models: list[str] = field(default_factory=list)
    use_preaggs: bool = True  # route to a matching pre-aggregation
    preagg_strict: bool = False  # raise when no pre-aggregation serves

    def sub(self, **shape) -> "QuerySpec":
        """A sub-query of this request: ``shape`` plus REQUEST_FIELDS."""
        return QuerySpec(**{f: getattr(self, f) for f in REQUEST_FIELDS}, **shape)


# the fields every sub-query of a request inherits (security namespace,
# time zone and the per-request modes), as opposed to its shape
REQUEST_FIELDS = (
    "user", "timezone", "use_preaggs", "preagg_strict",
)


def _key_part(value):
    # hashable cache-key part: lists -> tuples, dicts -> sorted JSON
    if isinstance(value, list):
        return tuple(value)
    if isinstance(value, dict):
        return json.dumps(value, sort_keys=True, default=str)
    return value


_DESC_RE = re.compile(r"^(.*?)\s+(asc|desc)\s*$", re.IGNORECASE)


@dataclass
class RDim:
    model: str
    name: str  # dimension name
    grain: str | None
    out: str  # output column alias
    expr: str  # raw SQL over model columns (grain applied)


@dataclass
class RMetric:
    model: str
    metric: Metric
    out: str


@dataclass
class Resolved:
    spec: QuerySpec
    dims: list[RDim]
    metrics: list[RMetric]
    base: str
    models: list[str]  # join order: base first
    hops: list[JoinHop]
    pushdown: dict[str, list[str]]  # model -> conjuncts (raw-rewritten)
    outer_filters: list[str]  # conjuncts referencing >1 model / grains
    having: list[str]  # conjuncts referencing metrics
    # per-model extra raw columns needed by outer/metric filters
    extra_cols: dict[str, set[str]]
    component_metrics: dict[str, list[tuple[str, Metric]]]  # model -> metrics needing raw cols
    # the rollup router's decision, written by its one pass
    # (preagg/router.py try_route); None when the compile never routed
    route: dict | None = None


# FIFO bound shared by the generator's and the semantic-SQL rewriter's
# compile caches: long-running servers (pgwire/HTTP) must not grow them
# without limit
COMPILE_CACHE_MAX = 512


class CompileCache(dict):
    """FIFO-bounded compile cache; every key starts with
    ``SqlGenerator.state_key()``. Writes take a lock: server threads
    compile concurrently, and eviction is check-then-act."""

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()

    def put(self, key, value):
        with self._lock:
            if key not in self and len(self) >= COMPILE_CACHE_MAX:
                del self[next(iter(self))]
            self[key] = value
        return value


class SqlGenerator:
    def __init__(self, graph: SemanticGraph) -> None:
        self.graph = graph
        self._cache = CompileCache()
        # reject hidden (``public: false``) fields on every compile: the
        # refs the caller wrote (checked in generate(), cache hits
        # included) and the fields the pre-passes auto-include (hidden
        # segments, default time dimensions). The owning layer's
        # ``enforce_visibility`` is a view of this flag.
        self.enforce_visibility = True
        # escape hatch (reference semantic_layer.py allow_non_additive_
        # unsafe; tests/metrics/test_non_additive_guard.py:163): skip
        # the semi-additive rewrite and aggregate naively over every
        # snapshot — over-counts by construction, caller opts in
        self.allow_non_additive_unsafe = False

    # ------------------------------------------------------------------
    # public entry
    # ------------------------------------------------------------------
    def generate(self, spec: QuerySpec) -> str:
        self._check_visibility(spec)
        key = self._cache_key(spec)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        return self._cache.put(key, self._generate(spec))

    def generate_resolved(self, spec: QuerySpec) -> tuple[str, Resolved]:
        """Compile ``spec`` and return the SQL together with the
        resolution it was generated from (after the pre-passes). A cache
        hit carries no resolution, so this always compiles."""
        self._check_visibility(spec)
        r = self._prepare(spec)
        return self._generate_resolved(r), r

    def generate_view(
        self,
        view_name: str,
        metrics: list[str] | None = None,
        dimensions: list[str] | None = None,
        filters: list[str] | None = None,
        temporary: bool = False,
    ) -> str:
        """CREATE VIEW DDL wrapping a compiled semantic query.

        Mirrors reference ``sql/generator.py`` generate_view (exercised
        by ref ``tests/queries/test_view_generation.py``): the view name
        is identifier-validated (never interpolated raw — SQL-injection
        guard), and the body is a normal compiled query so the view can
        be joined against arbitrary SQL. ``temporary=True`` emits
        ``CREATE TEMPORARY VIEW`` for Spark's session catalog.
        """
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", view_name or ""):
            raise ValueError(
                f"Invalid view name: {view_name!r}. View names must be "
                "valid identifiers (letters, digits, underscores)."
            )
        body = self.generate(QuerySpec(
            metrics=list(metrics or []),
            dimensions=list(dimensions or []),
            filters=list(filters or []),
        ))
        kind = "CREATE TEMPORARY VIEW" if temporary else "CREATE VIEW"
        return f"{kind} {view_name} AS\n{body}"

    def state_key(self) -> tuple:
        """The graph generation plus every generator flag that shapes
        compiled SQL: the prefix of each compile-cache key, here and in
        the semantic-SQL rewriter, so an entry compiled under one state
        never serves another (reference
        test_sql_rewrite_cache_isolated_by_visibility_state)."""
        return (
            self.graph.generation,
            self.allow_non_additive_unsafe,
            self.enforce_visibility,
        )

    def _cache_key(self, spec: QuerySpec):
        # every spec field, so a new field can never be left out
        return self.state_key() + tuple(
            _key_part(getattr(spec, f.name)) for f in dataclasses.fields(spec)
        )

    def _check_visibility(self, spec: QuerySpec) -> None:
        """Reject hidden fields referenced in any clause of ``spec``
        (ref ``core/security.py`` enforce_field_visibility)."""
        if not self.enforce_visibility:
            return
        from sidemantic_spark.core.security import enforce_field_visibility

        enforce_field_visibility(self.graph, {
            "metrics": spec.metrics,
            "dimensions": spec.dimensions,
            "filters": spec.filters,
            "order_by": spec.order_by,
        }, scope_models=self.resolve_scope_models(
            spec.metrics, spec.dimensions, spec.filters, spec.order_by,
        ))

    def _generate(self, spec: QuerySpec) -> str:
        return self._generate_resolved(self._prepare(spec))

    def _prepare(self, spec: QuerySpec) -> Resolved:
        """Validate ``spec``, run the pre-passes (parameters and segments,
        the ``{model}`` placeholder, default time dimensions) and resolve
        the result."""
        if spec.ungrouped and spec.with_totals:
            raise QueryCompileError(
                "with_totals cannot be combined with ungrouped "
                "(reference sql/generator.py:1061)"
            )
        if spec.with_totals and (spec.limit is not None or spec.offset):
            # paging would cut the grand-total row (reference
            # test_with_totals_with_limit_raises)
            raise QueryCompileError(
                "with_totals cannot be combined with limit/offset"
            )
        spec = self._apply_parameters_and_segments(spec)
        spec = self._resolve_model_placeholder(spec)
        spec = self._apply_default_time_dims(spec)
        return self._resolve(spec)

    def _generate_resolved(self, r: Resolved) -> str:
        special = [rm for rm in r.metrics if rm.metric.type in ("conversion", "retention", "cohort")]
        if special:
            if len(r.metrics) != 1:
                raise QueryCompileError(
                    f"{special[0].metric.type} metrics compile standalone; got {len(r.metrics)} metrics"
                )
            if r.spec.with_totals:
                raise QueryCompileError(
                    f"with_totals is not supported for "
                    f"{special[0].metric.type} metrics"
                )
            rm = special[0]
            if rm.metric.type == "conversion":
                return self._conversion_sql(r, rm)
            if rm.metric.type == "retention":
                return self._retention_sql(r, rm)
            return self._cohort_sql(r, rm)

        if (
            not self.allow_non_additive_unsafe
            and any(rm.metric.non_additive_dimension for rm in r.metrics)
        ):
            return self._semi_additive_sql(r)

        window_metrics = [
            rm
            for rm in r.metrics
            if rm.metric.type in ("cumulative", "time_comparison")
            or (rm.metric.type == "ratio" and rm.metric.offset_window)
            or self._derived_window_children(rm)
        ]
        if window_metrics:
            if r.spec.with_totals:
                raise QueryCompileError(
                    "with_totals is not yet supported for window-metric "
                    "queries (reference raises NotImplementedError too)"
                )
            return self._window_sql(r, window_metrics)

        metric_models = sorted({rm.model for rm in r.metrics})
        if len(metric_models) > 1:
            return self._multifact_sql(r, metric_models)

        if r.spec.use_preaggs:
            from sidemantic_spark.preagg.router import try_route

            routed = try_route(self, r)
            if routed is not None:
                return routed
            if r.spec.preagg_strict:
                raise QueryCompileError(
                    "preagg_strict: no pre-aggregation can serve this query"
                )

        return self._grouped_sql(r)

    # ------------------------------------------------------------------
    # pre-passes: parameters, segments, relative dates
    # ------------------------------------------------------------------
    def _resolve_model_placeholder(self, spec: QuerySpec) -> QuerySpec:
        """``{model}`` in query filters resolves to the query's anchor
        model — the model of the first metric/dimension ref (reference
        sql/generator.py:555 resolves the same placeholder before
        filter classification)."""
        if not any("{model}" in f for f in spec.filters):
            return spec
        anchor = None
        for ref in list(spec.metrics) + list(spec.dimensions):
            head = ref.split(".", 1)[0].split(" ", 1)[0].strip()
            if head in self.graph.models:
                anchor = head
                break
            metric = getattr(self.graph, "metrics", {}).get(head)
            if metric is not None:
                anchor = self._graph_metric_owner(head, metric)
                if anchor:
                    break
        if anchor is None:
            raise QueryCompileError(
                "filters use the {model} placeholder but the query has "
                "no model-qualified metric/dimension to anchor it"
            )
        return dataclasses.replace(spec, filters=[
            f.replace("{model}.", f"{anchor}.").replace("{model}", anchor)
            for f in spec.filters
        ])

    def _apply_parameters_and_segments(self, spec: QuerySpec) -> QuerySpec:
        from sidemantic_spark.core.template import is_sql_template, render_sql_template

        filters = list(spec.filters)
        # parameter context = graph-level defaults overridden by the query
        context: dict[str, object] = {
            name: getattr(p, "default_value", None) for name, p in self.graph.parameters.items()
        }
        context.update(spec.parameters or {})
        if context:
            out = []
            for f in filters:
                if is_sql_template(f) and any(m in f for m in ("{%", "{#")):
                    # full Jinja template (reference core/parameter.py:156-178)
                    f = render_sql_template(f, context)
                else:
                    for k, v in context.items():
                        if v is None:
                            continue
                        param = self.graph.parameters.get(k)
                        if param is not None and hasattr(param, "format_value"):
                            # typed formatting: numbers validate, strings
                            # escape, unquoted values must be identifiers
                            # (reference core/parameter.py format_value —
                            # a value can never break out of its literal)
                            try:
                                lit = param.format_value(v)
                            except ValueError as exc:
                                raise QueryCompileError(str(exc)) from exc
                        elif isinstance(v, str):
                            lit = "'" + v.replace("'", "''") + "'"
                        else:
                            lit = str(v)
                        f = f.replace("{{ " + k + " }}", lit).replace("{{" + k + "}}", lit)
                out.append(f)
            filters = [f for f in out if f.strip()]
        for seg_ref in spec.segments:
            if "." not in seg_ref:
                raise QueryCompileError(f"segment ref must be model.segment: {seg_ref!r}")
            model_name, seg_name = seg_ref.split(".", 1)
            model = self.graph.get_model(model_name)
            seg = model.segment(seg_name)
            if seg is None:
                raise QueryCompileError(f"unknown segment {seg_ref!r}")
            if self.enforce_visibility and not getattr(seg, "public", True):
                from sidemantic_spark.core.security import SecurityError

                raise SecurityError(
                    f"segment {seg_ref} is not public (segments)"
                )
            filters.append(seg.sql.replace("{model}", model_name))
        if filters != list(spec.filters) or spec.segments:
            spec = dataclasses.replace(
                spec, filters=filters, segments=[], parameters={},
            )
        return spec

    def _apply_default_time_dims(self, spec: QuerySpec) -> QuerySpec:
        """Auto-include each metric model's ``default_time_dimension`` at
        ``default_grain`` when the query selects no time dimension from
        that model (reference ``sql/generator.py:720-760,1016``)."""
        models_with_time: set[str] = set()
        for ref in spec.dimensions:
            ref, _alias = split_alias(ref)
            try:
                model_name, dim_name, _g = self._parse_ref(ref)
            except QueryCompileError:
                continue
            model = self.graph.models.get(model_name)
            d = model.dimension(dim_name.split("__", 1)[0]) if model else None
            if d is not None and d.type == "time":
                models_with_time.add(model_name)
        added: list[str] = []
        seen: set[str] = set()
        for mref in spec.metrics:
            mref, _alias = split_alias(mref)
            try:
                model_name, _metric = self._lookup_metric(mref)
            except QueryCompileError:
                continue
            if model_name in seen or model_name in models_with_time:
                continue
            seen.add(model_name)
            model = self.graph.get_model(model_name)
            if not model.default_time_dimension:
                continue
            d = model.dimension(model.default_time_dimension)
            if self.enforce_visibility and d is not None and not d.public:
                # the auto-include would leak a hidden field's values;
                # reject like an explicit reference would be rejected
                # (ref tests/core/test_security_enforcement.py:219)
                from sidemantic_spark.core.security import SecurityError

                raise SecurityError(
                    f"dimension {model_name}.{model.default_time_dimension} "
                    "is not public (auto-included default_time_dimension)"
                )
            grain = model.default_grain or (d.granularity if d else None) or "day"
            added.append(f"{model_name}.{model.default_time_dimension}__{grain}")
        if not added:
            return spec
        return dataclasses.replace(spec, dimensions=list(spec.dimensions) + added)

    # ------------------------------------------------------------------
    # resolution
    # ------------------------------------------------------------------
    def _resolve(self, spec: QuerySpec) -> Resolved:
        known = set(self.graph.models)
        dims: list[RDim] = []
        used_outs: set[str] = set()

        for ref in spec.dimensions:
            ref, alias = split_alias(ref)
            model_name, dim_name, grain = self._parse_ref(ref)
            model = self.graph.get_model(model_name)
            dim = model.dimension(dim_name)
            if dim is None:
                # a grain-suffixed ref on a REAL dimension is a
                # granularity error, not an unknown field (reference
                # test_invalid_time_granularity names the problem)
                if "__" in dim_name:
                    base, suffix = dim_name.rsplit("__", 1)
                    if model.dimension(base) is not None:
                        raise QueryCompileError(
                            f"unknown granularity {suffix!r} on "
                            f"{model_name}.{base} (expected one of: "
                            "second, minute, hour, day, week, month, "
                            "quarter, year)"
                        )
                raise QueryCompileError(
                    f"unknown dimension {ref!r}"
                    + _did_you_mean(dim_name, [d.name for d in model.dimensions])
                )
            if grain and dim.type != "time":
                # BEYOND the reference: its validation checks only the
                # grain word and base-dim existence (ref
                # core/validation.py:873-880), so `status__month`
                # compiles there and dies at runtime with a raw
                # CAST_INVALID_INPUT from DATE_TRUNC on a categorical
                # column. Fail at compile time instead (same family as
                # the unknown-granularity error above).
                raise QueryCompileError(
                    f"granularity suffix {grain!r} on non-time dimension "
                    f"{model_name}.{dim_name} (type {dim.type!r}); grain "
                    "suffixes apply to time dimensions only"
                )
            grain_explicit = grain is not None
            grain = grain or (dim.granularity if dim.type == "time" else None)
            # window-function dimensions project their raw OVER sql in
            # the model CTE (ref core/dimension.py:47-50); time dims may
            # localize before truncation (ref sql/generator.py:378)
            expr = dim.window if dim.window else dim.expr
            if grain:
                if spec.timezone and dim.type == "time":
                    _validate_timezone(spec.timezone)
                    expr = f"FROM_UTC_TIMESTAMP({expr}, '{spec.timezone}')"
                expr = _date_trunc(grain, expr)
            # output naming matches the reference: an EXPLICIT grain
            # suffix names the column with the suffix; a bare time-dim
            # ref still truncates at its configured granularity but
            # keeps its bare name (ref planner fixture: selecting
            # orders.order_date yields column `order_date` that outer
            # wrappers filter by; r11 planner-parity port)
            out = alias or (
                f"{dim_name}__{grain}" if grain and grain_explicit else dim_name
            )
            if out in used_outs:
                out = f"{model_name}_{out}"
            used_outs.add(out)
            dims.append(RDim(model_name, dim_name, grain, out, expr))

        # grain suffixes in filters/order_by get the same compile-time
        # non-time gate as selected dimensions (the truncation at the
        # _date_trunc call sites below would otherwise die at runtime)
        for clause in list(spec.filters) + list(spec.order_by):
            for m_name, fld, g in find_refs(clause, known):
                if not g:
                    continue
                mdl = self.graph.models.get(m_name)
                d = mdl.dimension(fld) if mdl is not None else None
                if d is not None and d.type != "time":
                    raise QueryCompileError(
                        f"granularity suffix {g!r} on non-time dimension "
                        f"{m_name}.{fld} (type {d.type!r}); grain "
                        "suffixes apply to time dimensions only"
                    )

        metrics: list[RMetric] = []
        for ref in spec.metrics:
            ref, alias = split_alias(ref)
            model_name, metric = self._lookup_metric(ref)
            # dotted graph-metric names alias to their last segment
            out = alias or metric.name.rsplit(".", 1)[-1]
            if out in used_outs:
                out = f"{model_name}_{out}"
            used_outs.add(out)
            metrics.append(RMetric(model_name, metric, out))

        # models involved — dimensions first: they define the grain and
        # the base model (reference sql/generator.py:1568-1578), so a
        # joined fact can LEFT-join onto the full dimension domain
        model_names: list[str] = []
        for rd in dims:
            if rd.model not in model_names:
                model_names.append(rd.model)
        for rm in metrics:
            if rm.model not in model_names:
                model_names.append(rm.model)
        filter_models: list[str] = []
        for f in spec.filters:
            for m, _f, _g in find_refs(f, known):
                if m not in model_names and m not in filter_models:
                    filter_models.append(m)
        # metric-LEVEL filters referencing another model pull it into
        # the join too (previously a raw KeyError at projection time)
        for rm in metrics:
            for _out, comp in self._expand_components(rm):
                for flt in comp.filters:
                    for m, _f, _g in find_refs(flt, known):
                        if m not in model_names and m not in filter_models:
                            filter_models.append(m)
        for m in spec.inner_models:
            if m in known and m not in model_names and m not in filter_models:
                filter_models.append(m)
        all_models = model_names + filter_models
        if not all_models:
            raise QueryCompileError("query references no models")
        for name in all_models:
            policy = getattr(self.graph.get_model(name), "security", None)
            if policy is not None:
                # deny-by-default: a query touching a secured model with
                # NO user context at all is refused before rendering —
                # even when the policy's filters reference no user
                # attributes (reference
                # tests/core/test_security_enforcement.py:137-148:
                # user_attributes=None denies; an EMPTY dict is
                # "provided but empty" and proceeds to the per-filter
                # StrictUndefined guard instead)
                if spec.user is None:
                    from sidemantic_spark.core.security import SecurityError

                    raise SecurityError(
                        f"model {name!r} has a security policy but no "
                        "user_attributes were provided (deny-by-default)"
                    )
                policy.check_access(name, spec.user)
        base = all_models[0]
        try:
            hops = self.graph.join_tree(base, all_models[1:])
        except NoJoinPathError:
            # conformed-dimension multi-fact: metrics from UNRELATED
            # fact models compile as separate per-fact subqueries and
            # FULL OUTER join on shared dimension names
            # (_multifact_sql) — only the models dimensions/filters
            # live on must be graph-reachable (reference
            # tests/test_bugfix_batch.py full-outer-join family)
            metric_owners = {rm.model for rm in metrics}
            if len(metric_owners) < 2:
                raise
            reachable: list[str] = []
            for m in all_models[1:]:
                try:
                    self.graph.join_tree(base, [m])
                except NoJoinPathError:
                    # an unreachable model is fine when it carries a
                    # metric: the multifact split compiles it as its own
                    # per-fact subquery, hosting its private dimensions
                    # too (ref corpus measures.test cross-view conformed
                    # join). Dims/filters on a model no fact can host
                    # still raise.
                    if m not in metric_owners:
                        raise
                else:
                    reachable.append(m)
            hops = self.graph.join_tree(base, reachable)
        join_order = [base] + [h.to_model for h in hops]

        # filter classification (ref sql/generator.py:1640-1750, :2971)
        # keyed over join_order PLUS conformed (unreachable) fact
        # models, which the multifact split recompiles separately
        scope_models = list(dict.fromkeys(
            join_order + [rm.model for rm in metrics]
        ))
        pushdown: dict[str, list[str]] = {m: [] for m in scope_models}
        outer: list[str] = []
        having: list[str] = []
        extra_cols: dict[str, set[str]] = {m: set() for m in scope_models}

        # custom-SQL joins supply their own key columns via the
        # {from}/{to} placeholders — project each referenced column into
        # its side's CTE (ref sql/generator.py:2058-2061)
        for h in hops:
            if h.custom_sql:
                for side, m in (("from", h.from_model), ("to", h.to_model)):
                    for col in re.findall(
                        r"\{%s\}\.(\w+)" % side, h.custom_sql
                    ):
                        extra_cols[m].add(col)

        metric_names = self._metric_name_index(join_order)
        for f in spec.filters:
            for conj in split_conjuncts(f):
                conj = self._rewrite_relative_dates(conj)
                refs = find_refs(conj, known)
                ref_models = {m for m, _, _ in refs}
                is_metric_filter = any(
                    (m, fld) in metric_names for m, fld, _ in refs
                )
                if is_metric_filter:
                    having.append(conj)
                    continue
                # filters on window-function dimensions evaluate after
                # the CTE's SELECT, never in its WHERE (ref :1301-1304)
                on_window_dim = any(
                    (d := self.graph.models.get(m)) is not None
                    and (wd := d.dimension(fld)) is not None
                    and wd.window
                    for m, fld, _g in refs
                )
                if on_window_dim:
                    outer.append(conj)
                    for m, fld, _g in refs:
                        extra_cols[m].add(fld)
                    continue
                if len(ref_models) == 1:
                    target = next(iter(ref_models))
                    pushdown[target].append(
                        replace_refs(conj, known, lambda mo, fl, gr: self._raw_expr(mo, fl, gr))
                    )
                else:
                    outer.append(conj)
                    for m, fld, _g in refs:
                        extra_cols[m].add(fld)

        # per-metric filters reference columns too
        component: dict[str, list[tuple[str, Metric]]] = {m: [] for m in scope_models}

        def register_components(rm: RMetric) -> None:
            seen_outs = {co for co, _c in component[rm.model]}
            for comp_out, comp in self._expand_components(rm):
                if comp_out in seen_outs:
                    continue
                component[rm.model].append((comp_out, comp))
                seen_outs.add(comp_out)
                if comp.sql_is_complete:
                    # opaque SQL references raw columns directly: project
                    # each into the model CTE
                    for ident in _complete_sql_columns(comp.sql):
                        extra_cols[rm.model].add(ident)
                    # dimension names shadowed by SQL keywords (`year`,
                    # `month`, `date`, ...) are skipped by the generic
                    # column scan but still need projecting when the
                    # opaque SQL references them — a window measure's
                    # `OVER (ORDER BY year)` (ref corpus measures.test
                    # window family)
                    mdl = self.graph.get_model(rm.model)
                    for tok in set(re.findall(r"[A-Za-z_]\w*", comp.sql or "")):
                        if mdl.dimension(tok) is not None:
                            extra_cols[rm.model].add(tok)
                    continue
                for flt in comp.filters:
                    for m, fld, _g in find_refs(flt, known):
                        extra_cols[m].add(fld)
            # derived expressions may reference model.column directly
            # (graph expression metrics): project those columns too
            self._collect_derived_expr_columns(rm, extra_cols, known)

        for rm in metrics:
            register_components(rm)
        # HAVING may reference metrics that are NOT in the select list
        # (reference test_filters.py: `orders.revenue > 100` filters a
        # COUNT query): register their components too so the aggregate
        # expression has raw columns in the CTE without projecting the
        # metric into the output
        for h in having:
            for m, fld, _g in find_refs(h, known):
                if m not in component:
                    continue
                hm = self.graph.get_model(m).metric(fld)
                if hm is not None:
                    register_components(RMetric(m, hm, fld))

        return Resolved(
            spec=spec,
            dims=dims,
            metrics=metrics,
            base=base,
            models=join_order,
            hops=hops,
            pushdown=pushdown,
            outer_filters=outer,
            having=having,
            extra_cols=extra_cols,
            component_metrics=component,
        )

    def _collect_derived_expr_columns(
        self, rm: RMetric, extra_cols: dict, known: set, depth: int = 0
    ) -> None:
        """Raw ``model.column`` refs inside derived/ratio expressions
        must project into the owning model's CTE (the select rewrites
        them to ``model_cte.column``)."""
        if depth > 10:
            return
        m = rm.metric
        if m.type == "derived" and m.expr:
            for mo, fld, _g in find_refs(m.expr, known):
                mdl = self.graph.models.get(mo)
                if mdl is None or mo not in extra_cols:
                    continue
                child = mdl.metric(fld)
                if child is not None:
                    self._collect_derived_expr_columns(
                        RMetric(mo, child, fld), extra_cols, known, depth + 1
                    )
                else:
                    extra_cols[mo].add(fld)
            for name in _identifiers(m.expr):
                try:
                    cm, c = self._lookup_metric(_qualify(name, rm.model))
                except QueryCompileError:
                    continue
                self._collect_derived_expr_columns(
                    RMetric(cm, c, c.name), extra_cols, known, depth + 1
                )
        elif m.type == "ratio":
            for leg in (m.numerator, m.denominator):
                if not leg:
                    continue
                try:
                    cm, c = self._lookup_metric(_qualify(leg, rm.model))
                except QueryCompileError:
                    continue
                self._collect_derived_expr_columns(
                    RMetric(cm, c, c.name), extra_cols, known, depth + 1
                )

    def resolve_scope_models(
        self,
        metrics: list[str] | None = None,
        dimensions: list[str] | None = None,
        filters: list[str] | None = None,
        order_by: list[str] | None = None,
    ) -> list[str] | None:
        """Best-effort set of models this query will actually touch,
        used to scope BARE-token visibility checks (r11 VERDICT ask #4:
        a filter-only query with zero qualified refs must not check bare
        tokens against every model in the graph).

        Returns ``None`` whenever any metric/dimension reference fails
        to resolve — the caller then falls back to the fail-closed
        graph-wide scan and ``generate()`` raises the real error.

        Narrowing is safe because a bare token can only bind to a
        model's RAW columns when its conjunct is pushed into that
        model's CTE, which requires a qualified ref to that model in the
        same text — and qualified refs are always checked directly,
        independent of this scope (see ``_resolve``: zero-ref conjuncts
        classify to the OUTER where, which sees only already-checked
        projected columns)."""
        known = set(self.graph.models)
        scope: list[str] = []

        def _add(name: str | None) -> None:
            if name and name in known and name not in scope:
                scope.append(name)

        try:
            for ref in list(metrics or []):
                ref, _alias = split_alias(ref)
                model_name, metric = self._lookup_metric(ref)
                _add(model_name)
                # child refs of expression/derived metrics pull their
                # models into the join exactly as generate() does
                for attr in ("sql", "expr"):
                    text = getattr(metric, attr, None)
                    if isinstance(text, str):
                        for m2, _f, _g in find_refs(text, known):
                            _add(m2)
            for ref in list(dimensions or []):
                ref, _alias = split_alias(ref)
                model_name, _dim, _grain = self._parse_ref(ref)
                if model_name not in known:
                    return None
                _add(model_name)
        except QueryCompileError:
            # unresolvable ref -> fall back to the fail-closed
            # graph-wide scan; generate() raises the real error
            return None
        # qualified refs in filters/order_by join their models too
        for text in list(filters or []) + list(order_by or []):
            for m2, _f, _g in find_refs(
                (text or "").replace('"', "").replace("`", ""), known,
                shadowing=False,
            ):
                _add(m2)
        return scope or None

    def _parse_ref(self, ref: str) -> tuple[str, str, str | None]:
        m = fragments.REF_RE.fullmatch(ref.strip())
        if not m:
            raise QueryCompileError(f"cannot parse reference {ref!r} (want model.field[__grain])")
        return m.group(1), m.group(2), m.group(3)

    def _lookup_metric(self, ref: str) -> tuple[str, Metric]:
        ref = ref.strip()
        # internal marker: "<metric>__base" resolves a window-typed
        # metric carrying its own agg+sql to a plain-aggregate shadow —
        # the window plan's inner query computes the base this way
        # without re-routing to the window plan.  A GENUINE metric whose
        # name happens to end in "__base" wins: the graph is checked
        # first, and only unresolvable refs get marker treatment
        # (round-5 ADVICE: the suffix-strip used to shadow real names).
        if ref.endswith("__base"):
            try:
                return self._lookup_metric_plain(ref)
            except QueryCompileError:
                pass
            model_name, metric = self._lookup_metric(ref[: -len("__base")])
            if metric.type in ("cumulative", "time_comparison") and metric.agg:
                return model_name, Metric(
                    name=metric.name + "__base", agg=metric.agg,
                    sql=metric.sql, filters=list(metric.filters),
                )
            return model_name, metric
        return self._lookup_metric_plain(ref)

    def _lookup_metric_plain(self, ref: str) -> tuple[str, Metric]:
        # graph-level metrics may carry dotted namespace names
        # (e.g. "finance.revenue_per_order") that shadow no model
        if ref in self.graph.metrics:
            metric = self.graph.metrics[ref]
            if metric.type == "derived" and metric.expr and re.search(
                rf"\b{re.escape(ref)}\b", metric.expr
            ):
                raise QueryCompileError(
                    f"derived metric {ref!r} cannot reference itself"
                )
            # passthrough: a typeless graph metric whose sql/expr is
            # exactly one model.measure reference ADOPTS that measure
            # wholesale (agg, filters, non-additive snapshot plan …) —
            # the reference keeps the wrapped measure's plan
            # (tests/metrics/test_non_additive_guard.py
            # test_graph_metric_wrapping_semi_additive_measure_is_planned)
            if not metric.type and not metric.agg:
                target = (metric.sql or metric.expr or "").strip()
                if target and fragments.REF_RE.fullmatch(target):
                    try:
                        owner, underlying = self._lookup_metric_plain(target)
                    except QueryCompileError:
                        pass
                    else:
                        return owner, dataclasses.replace(
                            underlying, name=metric.name
                        )
            # owner detection FIRST (it scans the original text for
            # model-qualified refs), normalization after
            owner = self._graph_metric_owner(ref, metric)
            if owner and not metric.type and not metric.agg and (
                metric.sql or metric.expr
            ):
                # untyped graph metric with inline expression SQL
                # ("dependency-free expression metric", e.g.
                # SUM(sales.gbv)/NULLIF(SUM(sales.bookings),0) — ref
                # tests/metrics/test_cumulative.py:532). When the author
                # wrote their own aggregates, normalize to a
                # complete-SQL measure (model.field refs reduce to the
                # field's raw expression, so the author's SUM() wraps
                # the raw column instead of nesting over the measure's
                # aggregate); otherwise treat as a derived formula over
                # sibling metrics.
                text = metric.expr or metric.sql
                if _AGG_TOKEN_RE.search(text):
                    known = set(self.graph.models)

                    def _raw_of(mo: str, fld: str, g: str | None) -> str:
                        mdl = self.graph.models.get(mo)
                        if mdl is not None:
                            mm = mdl.metric(fld)
                            src = mm.sql if (mm is not None and mm.sql) else None
                            if src is None:
                                dd = mdl.dimension(fld)
                                src = dd.sql if (dd is not None and dd.sql) else None
                            if src:
                                return (
                                    f"({src})" if re.search(r"[^\w.]", src) else src
                                )
                        return fld

                    metric = dataclasses.replace(
                        metric,
                        sql=replace_refs(text, known, _raw_of),
                        sql_is_complete=True,
                    )
                else:
                    metric = dataclasses.replace(
                        metric, type="derived", expr=text
                    )
            if owner:
                return owner, metric
            raise QueryCompileError(f"graph metric {ref!r} has no resolvable owning model")
        if "." in ref:
            model_name, metric_name = ref.split(".", 1)
            model = self.graph.get_model(model_name)
            metric = model.metric(metric_name)
            if metric is None:
                # a graph-level metric qualified with its RESOLVED owner
                # (chained window/derived metrics qualify children with
                # the anchor model before lookup) — fall back to the
                # graph namespace rather than failing
                if metric_name in self.graph.metrics:
                    return self._lookup_metric_plain(metric_name)
                raise QueryCompileError(
                    f"unknown metric {ref!r}"
                    + _did_you_mean(metric_name, [m.name for m in model.metrics])
                )
            return model_name, metric
        owners = [
            (name, mdl.metric(ref)) for name, mdl in self.graph.models.items() if mdl.metric(ref)
        ]
        if len(owners) == 1:
            return owners[0][0], owners[0][1]
        if len(owners) > 1:
            raise QueryCompileError(f"ambiguous metric {ref!r}: " + ", ".join(sorted(n for n, _ in owners)))
        all_metrics = [
            f"{name}.{m.name}"
            for name, mdl in self.graph.models.items()
            for m in mdl.metrics
        ]
        raise QueryCompileError(
            f"unknown metric {ref!r}" + _did_you_mean(ref, all_metrics)
        )

    def _graph_metric_owner(
        self, ref: str, metric: Metric, _seen: frozenset = frozenset()
    ) -> str | None:
        """Owning model for a graph-level metric: a model carrying a
        same-named metric, else the model of the first child reference
        (ratio numerator / derived identifier) — recursing through
        graph-metric children, so chains like time_comparison -> derived
        -> cumulative -> model.measure resolve (reference
        tests/metrics/test_cumulative.py:412-530 chained families)."""
        for name, mdl in self.graph.models.items():
            if mdl.metric(ref) is not None:
                return name
        candidates: list[str] = []
        if metric.type == "ratio":
            candidates = [c for c in (metric.numerator, metric.denominator) if c]
        elif metric.type == "derived" and metric.expr:
            candidates = _identifiers(metric.expr)
        elif metric.type in ("cumulative", "time_comparison"):
            candidates = [c for c in (metric.base_metric, metric.sql) if c]
        elif metric.type in ("conversion", "retention", "cohort"):
            # event predicates may carry model-qualified refs; else the
            # model owning the entity dimension hosts the funnel
            # (reference resolves graph-level funnels the same way —
            # tests/metrics/test_advanced.py multistep funnel family)
            known = set(self.graph.models)
            texts = [
                t for t in (
                    metric.entity, metric.base_event,
                    metric.conversion_event, metric.activity_event,
                    metric.sql,
                ) if t
            ] + list(metric.steps or [])
            for t in texts:
                for m_, _f, _g in find_refs(t, known):
                    return m_
            if metric.entity:
                owners = [
                    name for name, mdl in self.graph.models.items()
                    if mdl.dimension(metric.entity) is not None
                ]
                if len(owners) == 1:
                    return owners[0]
        for cand in candidates:
            if "." in cand:
                model_name = cand.split(".", 1)[0]
                if model_name in self.graph.models:
                    return model_name
            else:
                for name, mdl in self.graph.models.items():
                    if mdl.metric(cand) is not None:
                        return name
                child = self.graph.metrics.get(cand)
                if child is not None and cand not in _seen and cand != ref:
                    owner = self._graph_metric_owner(
                        cand, child, _seen | {ref, cand}
                    )
                    if owner:
                        return owner
        # last resort: model-qualified references anywhere in the
        # metric's SQL text (untyped "dependency-free expression"
        # metrics like SUM(sales.gbv)/NULLIF(SUM(sales.bookings),0) —
        # ref tests/metrics/test_cumulative.py:532)
        known = set(self.graph.models)
        for text in (metric.expr, metric.sql):
            if not text:
                continue
            for m_, _f, _g in find_refs(text, known):
                return m_
        return None

    def _metric_name_index(self, models: list[str]) -> set[tuple[str, str]]:
        out = set()
        for name in models:
            for m in self.graph.get_model(name).metrics:
                out.add((name, m.name))
        return out

    def _raw_expr(self, model_name: str, fld: str, grain: str | None) -> str:
        """Underlying SQL for model.field[__grain] in the model's own
        CTE scope (raw table columns)."""
        model = self.graph.get_model(model_name)
        dim = model.dimension(fld)
        if dim is not None:
            expr = dim.expr
            if grain:
                expr = _date_trunc(grain, expr)
            elif dim.type == "time" and dim.granularity:
                pass  # no implicit grain in filters
            return f"({expr})" if _needs_parens(expr) else expr
        # fall back to raw column name
        return fld

    def _expand_components(self, rm: RMetric) -> list[tuple[str, Metric]]:
        """All simple metrics whose raw columns must be projected for
        ``rm`` (itself, ratio legs, derived children, window bases)."""
        out: list[tuple[str, Metric]] = []
        seen: set[str] = set()

        def walk(metric: Metric, depth: int = 0) -> None:
            if depth > 10:
                raise QueryCompileError(f"metric dependency cycle at {metric.name!r}")
            if metric.name in seen:
                return
            seen.add(metric.name)
            if metric.sql_is_complete:
                # raw columns come from _complete_sql_columns, not a
                # projected _raw value
                out.append((metric.name, metric))
                return
            if metric.is_simple:
                out.append((metric.name, metric))
                return
            if metric.type == "ratio":
                for leg in (metric.numerator, metric.denominator):
                    if leg is None:
                        raise QueryCompileError(f"ratio metric {metric.name!r} missing a leg")
                    _, child = self._lookup_metric(_qualify(leg, rm.model))
                    walk(child, depth + 1)
                return
            if metric.type == "derived":
                if not metric.expr:
                    raise QueryCompileError(f"derived metric {metric.name!r} missing expr")
                for name in _identifiers(metric.expr):
                    try:
                        _, child = self._lookup_metric(_qualify(name, rm.model))
                    except QueryCompileError:
                        continue
                    walk(child, depth + 1)
                return
            if metric.type in ("cumulative", "time_comparison"):
                base = self._base_metric_ref(metric, rm.model)
                if base:
                    _, child = self._lookup_metric(base)
                    walk(child, depth + 1)
                elif metric.agg:
                    shadow = Metric(name=metric.name, agg=metric.agg, sql=metric.sql, filters=metric.filters)
                    out.append((shadow.name, shadow))
                else:
                    raise QueryCompileError(
                        f"{metric.type} metric {metric.name!r} needs base_metric or agg"
                    )
                return
            # conversion/retention/cohort need no raw measure columns here

        walk(rm.metric)
        return out

    # ------------------------------------------------------------------
    # relative dates (ref core/relative_date.py:14-55)
    # ------------------------------------------------------------------
    _REL_RE = re.compile(
        r"'(last|next)\s+(\d+)\s+(day|week|month|quarter|year)s?'", re.IGNORECASE
    )
    _REL_THIS_RE = re.compile(
        r"'(this|last|next)\s+(day|week|month|quarter|year)'", re.IGNORECASE
    )
    _REL_DAY_RE = re.compile(r"'\s*(today|yesterday|tomorrow)\s*'", re.IGNORECASE)

    @staticmethod
    def _rel_interval(n: int, unit: str) -> str:
        """Spark has no QUARTER interval qualifier (INVALID_TYPED_LITERAL)
        — emit the equivalent months."""
        if unit == "quarter":
            return f"INTERVAL '{3 * n}' MONTH"
        return f"INTERVAL '{n}' {unit.upper()}"

    # trailing "<col> <op>" immediately before a relative-date literal
    _REL_LHS_RE = re.compile(r"([A-Za-z_][\w.]*)\s*(>=|<=|<>|!=|=|>|<)\s*$")

    def _rewrite_relative_dates(self, conj: str) -> str:
        """Replace each ``col op 'relative date'`` predicate IN PLACE
        with a parenthesized range — surrounding text (ORs, parens,
        other predicates) is preserved, not truncated.

        OPERATOR-AWARE (reference tests/dates/test_integration.py:88-178
        pin this): the literal names a half-open period [start, end);
        ``=`` keeps the full range, ``!=``/``<>`` negates it, ``>=``/
        ``<`` compare against the period start, ``>``/``<=`` against
        the period end."""
        def expand(m: "re.Match[str]", start: str, end: str) -> str | None:
            lhs = conj[: m.start()]
            lhs_m = self._REL_LHS_RE.search(lhs)
            if not lhs_m:
                return None
            col, op = lhs_m.group(1), lhs_m.group(2)
            if op == ">=":
                pred = f"{col} >= {start}"
            elif op == ">":
                pred = f"{col} >= {end}"
            elif op == "<":
                pred = f"{col} < {start}"
            elif op == "<=":
                pred = f"{col} < {end}"
            elif op == "=":
                pred = f"{col} >= {start} AND {col} < {end}"
            else:  # != / <>
                pred = f"NOT ({col} >= {start} AND {col} < {end})"
            return (
                conj[: lhs_m.start(1)] + "(" + pred + ")" + conj[m.end():]
            )

        m = self._REL_RE.search(conj)
        if m:
            direction, n, unit = m.group(1).lower(), int(m.group(2)), m.group(3).lower()
            if direction == "last":
                if unit in ("day", "week"):
                    # rolling window from today (reference
                    # RelativeDateRange SIMPLE_PATTERNS: CURRENT_DATE-N,
                    # open-ended upward in to_range)
                    start = f"CURRENT_DATE - {self._rel_interval(n, unit)}"
                    end = "CURRENT_DATE + INTERVAL '1' DAY"
                else:
                    # calendar-aligned: the N COMPLETE periods before
                    # the current one (reference TRUNC_PATTERNS:
                    # DATE_TRUNC - INTERVAL, core/relative_date.py:40-43
                    # — 'last 3 months' excludes the running month)
                    trunc = _date_trunc(unit, "CURRENT_DATE")
                    start = f"{trunc} - {self._rel_interval(n, unit)}"
                    end = trunc
            else:
                start = "CURRENT_DATE"
                if unit in ("day", "week"):
                    # reference to_range is inclusive of day N
                    # (col <= CURRENT_DATE + N): half-open equivalent
                    end = (
                        f"CURRENT_DATE + {self._rel_interval(n, unit)}"
                        " + INTERVAL '1' DAY"
                    )
                else:
                    end = f"CURRENT_DATE + {self._rel_interval(n, unit)}"
            out = expand(m, start, end)
            if out is not None:
                return self._rewrite_relative_dates(out)
            return conj
        m = self._REL_THIS_RE.search(conj)
        if m:
            which, unit = m.group(1).lower(), m.group(2).lower()
            one = self._rel_interval(1, unit)
            if which == "this":
                anchor = "CURRENT_DATE"
            elif which == "last":
                anchor = f"CURRENT_DATE - {one}"
            else:  # next
                anchor = f"CURRENT_DATE + {one}"
            start = _date_trunc(unit, anchor)
            out = expand(m, start, f"{start} + {one}")
            if out is not None:
                return self._rewrite_relative_dates(out)
            return conj
        m = self._REL_DAY_RE.search(conj)
        if m:
            which = m.group(1).lower()
            offset = {"today": "", "yesterday": " - INTERVAL '1' DAY",
                      "tomorrow": " + INTERVAL '1' DAY"}[which]
            day = f"CURRENT_DATE{offset}"
            out = expand(m, day, f"{day} + INTERVAL '1' DAY")
            if out is not None:
                return self._rewrite_relative_dates(out)
        return conj

    # ------------------------------------------------------------------
    # CTE construction (ref sql/generator.py:1987-2458)
    # ------------------------------------------------------------------
    def _model_cte(
        self,
        r: Resolved,
        model_name: str,
        include_pk: bool = False,
        extra_time: list[tuple[str, str]] | None = None,
    ) -> tuple[str, str]:
        """Returns (cte_name, cte_sql)."""
        model = self.graph.get_model(model_name)
        cols: dict[str, str] = {}  # alias -> expr
        for rd in r.dims:
            if rd.model == model_name:
                cols[rd.out] = rd.expr
        for fld in sorted(r.extra_cols.get(model_name, ())):
            if fld not in cols:
                dim = model.dimension(fld)
                if dim is not None and dim.window:
                    cols[fld] = dim.window
                else:
                    cols[fld] = dim.expr if dim else fld
        for hop in r.hops:
            if hop.from_model == model_name:
                for c in hop.fk_side:
                    cols.setdefault(c, c)
            if hop.to_model == model_name:
                for c in hop.pk_side:
                    cols.setdefault(c, c)
        if include_pk:
            for i, c in enumerate(model.pk_list()):
                cols[f"__pk{i}"] = c
        for comp_out, comp in r.component_metrics.get(model_name, []):
            if comp.sql_is_complete:
                continue  # its columns arrive via extra_cols
            value_sql = model.metric_value_sql(comp)
            if value_sql:
                cols[f"{comp_out}_raw"] = value_sql
            elif comp.agg not in (None, "count"):
                raise QueryCompileError(f"metric {comp.name!r} has no sql expression")
        if extra_time:
            for alias, expr in extra_time:
                cols.setdefault(alias, expr)
        if not cols:
            cols["__one"] = "1"

        select = ",\n        ".join(
            expr if expr == alias else f"{expr} AS {alias}" for alias, expr in cols.items()
        )
        where = list(r.pushdown.get(model_name, []))
        where += [rf for rf in model.row_filters]
        policy = getattr(model, "security", None)
        if policy is not None:
            # row-level security lands in the CTE WHERE -> Catalyst pushes
            # it into the scan (ref sql/generator.py:879-960)
            where += policy.rendered_row_filters(model_name, r.spec.user)
        source = model.table or (f"({model.sql})" if model.sql else None)
        if source is None and model.source_uri:
            source = model.name  # registered as a temp view by layer.register_sources
        if r.spec.use_preaggs:
            # an original_sql pre-aggregation stages the model's base
            # query as a physical table (ref core/pre_aggregation.py:162);
            # scan it instead of re-running the derived SQL — the layer's
            # missing-table fallback recompiles raw if it isn't built yet
            for pa in getattr(model, "pre_aggregations", []) or []:
                if pa.type == "original_sql":
                    source = pa.physical_name(model.name)
                    break
        if source is None:
            raise QueryCompileError(f"model {model_name!r} has no table/sql binding")
        sql = f"SELECT\n        {select}\n    FROM {source}"
        if where:
            sql += "\n    WHERE " + "\n      AND ".join(f"({w})" for w in where)
        return f"{model_name}_cte", sql

    def _join_clause(self, r: Resolved, skip_model: str | None = None) -> str:
        """FROM base_cte [JOIN ...] (ref sql/generator.py:2922-2969).

        ``skip_model`` omits that model's hop — used by the dedup plan's
        pre-collapse, which joins the fact AFTER the DISTINCT instead.
        """
        parts = [f"{r.base}_cte"]
        for hop in r.hops:
            if hop.to_model == skip_model:
                continue
            join_type = "LEFT"
            if r.pushdown.get(hop.to_model):
                join_type = "INNER"  # filtered model -> INNER (ref :2549)
            if hop.to_model in r.spec.inner_models:
                join_type = "INNER"  # explicit user JOIN (ref :296)
            if hop.rel_type == "cross":
                parts.append(f"CROSS JOIN {hop.to_model}_cte")
                continue
            if hop.custom_sql:
                cond = hop.custom_sql.replace("{from}", f"{hop.from_model}_cte").replace(
                    "{to}", f"{hop.to_model}_cte"
                )
            else:
                conds = [
                    f"{hop.from_model}_cte.{a} = {hop.to_model}_cte.{b}"
                    for a, b in zip(hop.fk_side, hop.pk_side)
                ]
                cond = " AND ".join(conds)
            parts.append(f"{join_type} JOIN {hop.to_model}_cte ON {cond}")
        return "\n    ".join(parts)

    # ------------------------------------------------------------------
    # metric select expressions
    # ------------------------------------------------------------------
    def _metric_sql(self, rm: RMetric, value_of, depth: int = 0) -> str:
        """Aggregate select expression for a metric.

        ``value_of(out_name, metric)`` returns the SQL that references
        the metric's raw value column in the current scope.
        """
        metric = rm.metric
        if depth > 10:
            raise QueryCompileError(f"metric recursion too deep at {metric.name!r}")
        if metric.sql_is_complete:
            sql = _qualify_complete_sql(metric.sql, f"{rm.model}_cte")
            if metric.fill_nulls_with is not None:
                sql = f"COALESCE({sql}, {metric.fill_nulls_with})"
            return sql
        if metric.is_simple or (metric.type in ("cumulative", "time_comparison") and metric.agg):
            sql = self._simple_agg_sql(rm.model, metric, metric.name, value_of)
        elif metric.type == "ratio":
            num_model, num = self._lookup_metric(_qualify(metric.numerator, rm.model))
            den_model, den = self._lookup_metric(_qualify(metric.denominator, rm.model))
            num_sql = self._metric_sql(RMetric(num_model, num, num.name), value_of, depth + 1)
            den_sql = self._metric_sql(RMetric(den_model, den, den.name), value_of, depth + 1)
            sql = f"CAST(({num_sql}) AS DOUBLE) / NULLIF(CAST(({den_sql}) AS DOUBLE), 0)"
        elif metric.type == "derived":
            # metric-level window totals: ``all(metric)`` (BSL
            # ``_.all(...)``, arriving as ``__bsl_all(...)`` or
            # ``all(...)``) -> whole-result window aggregate, e.g.
            # SUM(SUM(x)) OVER ().  Extracted to placeholders FIRST so
            # the identifier-substitution pass below doesn't rewrite the
            # metric name inside the call (ref sql/generator.py
            # :4358-4460 `_build_measure_window_total_sql` /
            # `_extract_bsl_all_placeholders`).
            sql = metric.expr
            placeholders: dict[str, str] = {}

            def _hold(mm: "re.Match[str]") -> str:
                key = f"__wt_{len(placeholders)}__"
                placeholders[key] = mm.group(1).strip()
                return key

            sql = _ALL_RE.sub(_hold, sql)
            for name in _identifiers(sql):
                try:
                    child_model, child = self._lookup_metric(_qualify(name, rm.model))
                except QueryCompileError:
                    continue
                child_sql = self._metric_sql(RMetric(child_model, child, child.name), value_of, depth + 1)
                sql = re.sub(rf"\b{re.escape(name)}\b", f"({child_sql})", sql)
            for key, ref in placeholders.items():
                child_model, child = self._lookup_metric(_qualify(ref, rm.model))
                total = self._window_total_sql(
                    RMetric(child_model, child, child.name), value_of, depth + 1
                )
                sql = sql.replace(key, f"({total})")

            # dotted refs: model.metric recurses; model.column rewrites
            # to the CTE column (projected via extra_cols in _resolve) —
            # graph expression metrics like `SUM(orders.amount) * 2`
            # reference raw columns directly (reference
            # tests/test_validation.py graph-metric-name family)
            def _dotted(mo: str, fld: str, g: str | None) -> str:
                mdl = self.graph.models.get(mo)
                if mdl is not None and mdl.metric(fld) is not None:
                    cm, c = self._lookup_metric(f"{mo}.{fld}")
                    return "(" + self._metric_sql(
                        RMetric(cm, c, c.name), value_of, depth + 1
                    ) + ")"
                col = f"{mo}_cte.{fld}"
                return _date_trunc(g, col) if g else col

            sql = replace_refs(sql, set(self.graph.models), _dotted)
        elif metric.type in ("cumulative", "time_comparison"):
            base_ref = self._base_metric_ref(metric, rm.model)
            if base_ref is None:
                raise QueryCompileError(
                    f"{metric.type} metric {metric.name!r} needs base_metric or agg"
                )
            base_model, base = self._lookup_metric(base_ref)
            return self._metric_sql(RMetric(base_model, base, base.name), value_of, depth + 1)
        else:
            raise QueryCompileError(f"metric {metric.name!r}: unsupported in this plan")
        if metric.fill_nulls_with is not None:
            sql = f"COALESCE({sql}, {metric.fill_nulls_with})"
        return sql

    def _base_metric_ref(self, metric: Metric, default_model: str) -> str | None:
        """Base metric for cumulative/time_comparison: ``base_metric``,
        else ``sql`` when (agg-less) it resolves to a metric reference —
        the reference accepts ``Metric(type='cumulative',
        sql='sales.amount')`` (ref tests/metrics/test_advanced.py:172)."""
        if metric.base_metric:
            return _qualify(metric.base_metric, default_model)
        if metric.sql:
            # metric-reference sql wins even when agg is set: agg then
            # names the WINDOW function over the base metric's bucket
            # values (rolling avg/min/count — ref sql/generator.py:6180
            # resolves the base metric first, agg_func defaults to SUM)
            ref = _qualify(metric.sql.strip(), default_model)
            try:
                self._lookup_metric(ref)
            except QueryCompileError:
                return None
            return ref
        return None

    def _window_total_sql(self, rm: RMetric, value_of, depth: int = 0) -> str:
        """Whole-result window aggregate for ``all(metric)``: the total
        across every output group, computed post-GROUP BY via an empty
        OVER () (ref sql/generator.py:4358-4376).  At scale this window
        runs over the already-aggregated (small) result, not the fact
        rows, so the single-partition window is cheap by construction.
        COUNT DISTINCT cannot be decomposed through GROUP BY, so it
        falls back to a scalar subquery against the model CTE (ref
        `_build_measure_total_subquery_sql`, :4377-4393)."""
        metric = rm.metric
        if not metric.is_simple:
            raise QueryCompileError(
                f"all({metric.name}): window totals need a simple aggregate metric"
            )
        agg = metric.agg
        inner = self._simple_agg_sql(rm.model, metric, metric.name, value_of)
        if agg in ("sum", "count"):
            return f"SUM({inner}) OVER ()"
        if agg == "min":
            return f"MIN({inner}) OVER ()"
        if agg == "max":
            return f"MAX({inner}) OVER ()"
        if agg == "avg":
            value = value_of(metric.name, metric)
            if metric.filters:
                cond = " AND ".join(
                    f"({self._rewrite_outer_filter(f)})" for f in metric.filters
                )
                value = f"CASE WHEN {cond} THEN {value} END"
            return (
                f"CAST(SUM(SUM({value})) OVER () AS DOUBLE) / "
                f"NULLIF(CAST(SUM(COUNT({value})) OVER () AS DOUBLE), 0)"
            )
        if agg in ("count_distinct", "approx_count_distinct"):
            # re-qualify every model-CTE reference for the subquery's
            # alias (a plain prefix strip breaks when value_of returns
            # an expression containing the prefix mid-string)
            value = (value_of(metric.name, metric) or "").replace(
                f"{rm.model}_cte.", "__all."
            )
            expr = (
                f"APPROX_COUNT_DISTINCT({value})"
                if agg == "approx_count_distinct"
                else f"COUNT(DISTINCT {value})"
            )
            return f"(SELECT {expr} FROM {rm.model}_cte AS __all)"
        raise QueryCompileError(
            f"all({metric.name}): agg {agg!r} has no window-total form"
        )

    def _simple_agg_sql(self, model_name: str, metric: Metric, out: str, value_of) -> str:
        value = value_of(out, metric)
        if metric.filters:
            cond = " AND ".join(
                f"({self._rewrite_outer_filter(f)})" for f in metric.filters
            )
            if metric.agg == "count" and metric.sql is None:
                return f"COUNT(CASE WHEN {cond} THEN 1 END)"
            value = f"CASE WHEN {cond} THEN {value} END"
            return metric.agg_sql(value)
        if metric.agg == "count" and metric.sql is None:
            return "COUNT(*)" if value is None else f"COUNT({value})"
        return metric.agg_sql(value)

    def _rewrite_outer_filter(self, f: str) -> str:
        """model.field -> model_cte.field for filters evaluated over the
        joined scope."""
        known = set(self.graph.models)
        return replace_refs(
            f,
            known,
            lambda m, fld, g: (
                _date_trunc(g, f"{m}_cte.{fld}") if g else f"{m}_cte.{fld}"
            ),
        )

    def _rewrite_dedup_filter(self, f: str, r: Resolved) -> str:
        """model.field -> projected column for the dedup scope.

        Fact-model fields referenced by metric filters are re-attached
        in ``_dedup_grouped_sql`` under a reserved ``__flt_`` alias so
        they can never collide with a dimension output of the same name
        (a bare ``status`` selected both as a dim and as a re-attached
        filter column would make the outer GROUP BY ambiguous)."""
        known = set(self.graph.models)
        fact = r.metrics[0].model

        def sub(m, fld, g):
            col = f"__flt_{fld}" if m == fact else fld
            return _date_trunc(g, col) if g else col

        return replace_refs(f, known, sub)

    # ------------------------------------------------------------------
    # grouped plan (incl. fan-out dedup)
    # ------------------------------------------------------------------
    def _dup_map(self, r: Resolved) -> dict[str, bool]:
        """Per-model row-duplication in the joined relation.

        Walking the join tree from the base: a ``many_to_one`` hop
        repeats the *target* rows; a ``one_to_many`` hop puts the target
        at finer grain and fans out every model already joined;
        ``many_to_many``/``cross`` duplicate both sides (reference
        fan-out detection ``sql/generator.py:2500-2548`` generalized to
        a dimension-first base)."""
        dup: dict[str, bool] = {r.base: False}
        for h in r.hops:
            t = h.rel_type
            if t == "many_to_one":
                dup[h.to_model] = True
            elif t == "one_to_one":
                dup[h.to_model] = dup.get(h.from_model, False)
            elif t == "one_to_many":
                dup[h.to_model] = dup.get(h.from_model, False)
                for k in list(dup):
                    if k != h.to_model:
                        dup[k] = True
            else:  # many_to_many (direct sql), cross
                for k in list(dup):
                    dup[k] = True
                dup[h.to_model] = True
        return dup

    def _grouped_sql(self, r: Resolved) -> str:
        dup = self._dup_map(r)
        unsafe = [
            rm
            for rm in r.metrics
            if dup.get(rm.model, False)
            for _o, comp in self._expand_components(rm)
            if comp.agg in FANOUT_UNSAFE_AGGS
        ]
        impossible = [
            rm
            for rm in r.metrics
            if dup.get(rm.model, False)
            for _o, comp in self._expand_components(rm)
            if comp.agg in FANOUT_IMPOSSIBLE_AGGS
        ]
        if impossible:
            raise QueryCompileError(
                f"metric {impossible[0].metric.name!r} ({impossible[0].metric.agg}) cannot be "
                "decomposed under a fan-out join (reference raises too: core/symmetric_aggregate.py)"
            )
        # opaque complete-SQL measures under fan-out evaluate over the
        # DEDUPLICATED entity rows (reference
        # tests/metrics/test_symmetric_aggs.py
        # test_fanout_evaluates_complete_sql_over_deduplicated_entity_rows);
        # a FILTERED complete-SQL measure cannot be conditioned per-row
        # (no column expression to wrap in CASE WHEN) and is rejected
        complete_fanout = [
            (rm, comp)
            for rm in r.metrics
            if dup.get(rm.model, False)
            for _o, comp in self._expand_components(rm)
            if comp.sql_is_complete
        ]
        for _rm, comp in complete_fanout:
            if comp.filters:
                raise QueryCompileError(
                    f"metric {comp.name!r}: filtered complete-SQL measure "
                    "cannot be evaluated safely under a fan-out join "
                    "(reference test_fanout_rejects_filtered_zero_column_"
                    "complete_sql)"
                )
        if (unsafe or complete_fanout) and r.metrics:
            # one fan-out plan, the entity-grain DISTINCT: the reference's
            # symmetric aggregates (SUM(DISTINCT hash(pk)*S + v) -
            # SUM(DISTINCT hash(pk)*S)) need >=2 DISTINCT aggregates per
            # sum metric, which Spark runs through an Expand that
            # REPLICATES every input row once per distinct aggregate
            # before the shuffle, so they move MORE bytes than the single
            # DISTINCT-(pk, dims, raws) shuffle they are meant to avoid —
            # measured 3x slower cold at sf0.1 (5.5s vs 1.8s, local[8])
            # with `Expand` in the plan (SCALING.md "Fan-out correction")
            return self._dedup_grouped_sql(r)
        return self._plain_grouped_sql(r)

    def _plain_grouped_sql(self, r: Resolved) -> str:
        # COUNT(*) on a LEFT-joined model would count the outer-join miss
        # row; count metrics on non-base models count their pk instead,
        # which needs the pk projected into that model's CTE
        count_models = {
            rm.model
            for rm in r.metrics
            for _o, comp in self._expand_components(rm)
            if comp.agg == "count" and comp.sql is None and rm.model != r.base
        }
        ctes = [
            self._model_cte(r, m, include_pk=(m in count_models)) for m in r.models
        ]
        dim_outs = [rd.out for rd in r.dims]

        win_rms = [
            rm for rm in r.metrics
            if rm.metric.sql_is_complete and rm.metric.sql
            and re.search(r"\bOVER\s*\(", rm.metric.sql, re.I)
        ]
        if win_rms:
            return self._window_measure_grouped_sql(r, ctes, win_rms)

        def value_of(out: str, metric: Metric):
            if metric.agg == "count" and metric.sql is None:
                owner = next(
                    (
                        model_name
                        for model_name, comps in r.component_metrics.items()
                        for comp_out, comp in comps
                        if comp_out == out or comp.name == metric.name
                    ),
                    r.base,
                )
                if owner in count_models:
                    return f"{owner}_cte.__pk0"
                return None
            for model_name, comps in r.component_metrics.items():
                for comp_out, comp in comps:
                    if comp_out == out or comp.name == metric.name:
                        return f"{model_name}_cte.{comp_out}_raw"
            raise QueryCompileError(f"no raw column for metric {metric.name!r}")

        select_parts = []
        for rd in r.dims:
            select_parts.append(f"{rd.model}_cte.{rd.out} AS {rd.out}")
        for rm in r.metrics:
            if r.spec.ungrouped:
                expr = self._ungrouped_metric_sql(rm, value_of)
            else:
                expr = self._metric_sql(rm, value_of)
            select_parts.append(f"{expr} AS {rm.out}")
        if not select_parts:
            raise QueryCompileError("empty select list")
        if r.spec.with_totals and dim_outs:
            select_parts.append(
                f"CAST(GROUPING({r.dims[0].model}_cte.{dim_outs[0]}) AS BOOLEAN) AS _is_total"
            )

        sql = "SELECT\n    " + ",\n    ".join(select_parts)
        sql += "\nFROM " + self._join_clause(r)
        where = [self._rewrite_outer_filter(f) for f in r.outer_filters]
        if where:
            sql += "\nWHERE " + "\n  AND ".join(f"({w})" for w in where)
        if dim_outs and not r.spec.ungrouped:
            group_cols = [f"{rd.model}_cte.{rd.out}" for rd in r.dims]
            if r.spec.with_totals:
                sql += "\nGROUP BY GROUPING SETS ((" + ", ".join(group_cols) + "), ())"
            else:
                sql += "\nGROUP BY " + ", ".join(group_cols)
        if r.having:
            if r.spec.ungrouped:
                raise QueryCompileError(
                    "metric-stage (HAVING) filters are an aggregation "
                    "concept; not supported for ungrouped queries "
                    "(reference sql/generator.py:6933-6940)"
                )
            having = [
                self._rewrite_having(h, r, value_of) for h in r.having
            ]
            sql += "\nHAVING " + "\n  AND ".join(f"({h})" for h in having)
        sql += self._order_limit(r)
        return self._assemble(r, ctes, sql, plan="grouped")

    def _window_measure_grouped_sql(self, r: Resolved, ctes, win_rms) -> str:
        """Measures defined as window expressions (``SUM(x) OVER (...)``
        — Yardstick window-measure views, ref corpus measures.test
        window family) evaluate at ROW grain over the filtered base,
        then reduce to the query grain by asserting a single distinct
        value per evaluation context. The reference raises
        'Window measure <m> returned multiple values for the evaluation
        context' when the context doesn't pin the window to one value —
        a running total grouped at its order key passes, the same
        measure AT (ALL) fails at runtime, and an unordered
        ``OVER ()`` total passes everywhere. ``raise_error`` inside a
        lazily-evaluated IF reproduces that data-dependent contract in
        pure Spark SQL."""
        if len(win_rms) != len(r.metrics):
            raise QueryCompileError(
                "window measures cannot be combined with aggregate "
                "metrics in one query; split the select"
            )
        if r.spec.with_totals:
            raise QueryCompileError("window measures do not support totals")
        if r.having:
            raise QueryCompileError(
                "HAVING over a window measure is not supported; wrap the "
                "query and filter the result"
            )
        inner_parts = [f"{rd.model}_cte.{rd.out} AS {rd.out}" for rd in r.dims]
        for rm in r.metrics:
            sql = _qualify_complete_sql(rm.metric.sql, f"{rm.model}_cte")
            if rm.metric.fill_nulls_with is not None:
                sql = f"COALESCE({sql}, {rm.metric.fill_nulls_with})"
            inner_parts.append(f"{sql} AS {rm.out}")
        inner = "SELECT\n    " + ",\n    ".join(inner_parts)
        inner += "\nFROM " + self._join_clause(r)
        where = [self._rewrite_outer_filter(f) for f in r.outer_filters]
        if where:
            inner += "\nWHERE " + "\n  AND ".join(f"({w})" for w in where)
        if r.spec.ungrouped:
            # detail grain: the per-row window value IS the result
            sql = inner + self._order_limit(r)
            return self._assemble(r, ctes, sql, plan="window_measure")
        outer_parts = list(dict.fromkeys(rd.out for rd in r.dims))
        for rm in r.metrics:
            msg = (f"Window measure {rm.metric.name} returned multiple "
                   "values for the evaluation context")
            outer_parts.append(
                f"IF(COUNT(DISTINCT {rm.out}) <= 1, MAX({rm.out}), "
                f"raise_error('{msg}')) AS {rm.out}"
            )
        sql = "SELECT\n    " + ",\n    ".join(outer_parts)
        sql += "\nFROM (\n" + inner + "\n)"
        dim_outs = list(dict.fromkeys(rd.out for rd in r.dims))
        if dim_outs:
            sql += "\nGROUP BY " + ", ".join(dim_outs)
        sql += self._order_limit(r)
        return self._assemble(r, ctes, sql, plan="window_measure")

    def _ungrouped_metric_sql(self, rm: RMetric, value_of) -> str:
        """Per-row raw value for drill-to-detail: ungrouped queries
        select the raw measure column without aggregation (reference
        sql/generator.py:3869-3872).  count per detail row is 1 (or a
        NULL-presence indicator when the metric counts an expression);
        windowed/derived/ratio metrics have no per-row value and are
        rejected."""
        metric = rm.metric
        if not metric.is_simple:
            raise QueryCompileError(
                f"metric {metric.name!r} ({metric.type or 'expression'}) "
                "has no per-row raw value; not supported for ungrouped "
                "queries"
            )
        if metric.agg == "approx_count_distinct":
            raise QueryCompileError(
                f"metric {metric.name!r}: approx_count_distinct has no "
                "per-row raw value; not supported for ungrouped queries"
            )
        value = value_of(metric.name, metric)
        if metric.agg in ("count", "count_distinct"):
            # BIGINT to match the grouped COUNT()'s result type
            if value is None:
                base = "CAST(1 AS BIGINT)"
            else:
                base = (
                    f"CAST(CASE WHEN {value} IS NOT NULL THEN 1 ELSE 0 END"
                    " AS BIGINT)"
                )
        else:
            base = value
        if metric.filters:
            cond = " AND ".join(
                f"({self._rewrite_outer_filter(f)})" for f in metric.filters
            )
            base = f"CASE WHEN {cond} THEN {base} END"
        if metric.fill_nulls_with is not None:
            base = f"COALESCE({base}, {metric.fill_nulls_with})"
        return base

    def _dedup_grouped_sql(self, r: Resolved) -> str:
        """Entity-grain fan-out-safe plan: join -> DISTINCT over
        (metric-model pk, dims, raw values) -> aggregate.
        Spark-idiomatic replacement for symmetric aggregates (ref
        core/symmetric_aggregate.py:20, sql/generator.py:3056): the
        DISTINCT collapses the duplicates the join introduced, keyed by
        the pk of the model that owns the measures (which may be the
        base *or* a joined fact under the dimension-first base rule)."""
        if r.spec.ungrouped:
            raise QueryCompileError("ungrouped queries cannot be fan-out corrected")
        for rm in r.metrics:
            for _o, comp in self._expand_components(rm):
                if comp.sql_is_complete and comp.filters:
                    raise QueryCompileError(
                        f"metric {comp.name!r}: filtered complete-SQL "
                        "measure cannot be evaluated safely under a "
                        "fan-out join"
                    )
        fact = r.metrics[0].model  # single metric model (multifact split ran)
        ctes = [
            self._model_cte(r, m, include_pk=(m == fact)) for m in r.models
        ]
        fact_model = self.graph.get_model(fact)
        pk_cols = [f"__pk{i}" for i in range(len(fact_model.pk_list()))]

        # Narrow dedup: the DISTINCT shuffle carries ONLY (fact pk, dims)
        # — every raw measure and metric-filter column is functionally
        # dependent on the fact pk, so it re-attaches afterwards with one
        # equi-join on the pk (broadcast-able: the fact is pre-aggregated
        # to one row per key by construction). At scale this keeps the
        # wide decimal columns out of the row-count-sized dedup exchange;
        # the reference dedups the full joined row instead
        # (ref sql/generator.py:3056-3390 fan-out hierarchy).
        wide = []  # re-attached from the fact CTE after the DISTINCT
        wide_seen: set[str] = set()
        for comp_out, comp in r.component_metrics.get(fact, []):
            if comp.sql_is_complete:
                continue  # raw columns re-attach via __flt_ below
            if comp.sql and comp_out not in wide_seen:
                wide_seen.add(comp_out)
                wide.append(f"__f.{comp_out}_raw AS {comp_out}_raw")
        # Metric-filter columns re-attach under a reserved __flt_ alias:
        # the bare name may already be projected as a dimension output
        # of ANOTHER model (or of the fact itself), and a duplicate
        # column in __dedup makes the outer GROUP BY ambiguous.
        # _rewrite_dedup_filter rewrites fact refs to the same alias.
        filter_cols = set()
        for rm in r.metrics:
            for _o, comp in self._expand_components(rm):
                if comp.sql_is_complete:
                    # complete-SQL measures evaluate over the deduped
                    # entity rows: re-attach every referenced raw column
                    for fld in _complete_sql_columns(comp.sql):
                        if fld not in filter_cols:
                            wide.append(f"__f.{fld} AS __flt_{fld}")
                        filter_cols.add(fld)
                    continue
                for flt in comp.filters:
                    for m, fld, _g in find_refs(flt, set(self.graph.models)):
                        if m == fact:
                            if fld not in filter_cols:
                                wide.append(f"__f.{fld} AS __flt_{fld}")
                            filter_cols.add(fld)
                        else:
                            raise QueryCompileError(
                                "metric filters on non-fact models are not supported "
                                "under fan-out dedup"
                            )

        # Pre-collapse (guide §2.3 "aggregate before you shuffle" /
        # §2.4): when the fact is LEFT-joined purely for its pk and
        # measures — joined on its FULL pk, contributing no dims, no
        # outer-filter columns, and nothing joins through it — the
        # DISTINCT can run on the base side's (fk, dims) BEFORE the fact
        # join.  The pk join is then 1:1-or-0, so distinct (fk, dims)
        # maps bijectively onto matched distinct (pk, dims); the only
        # divergence is that unmatched keys stay one row EACH instead of
        # collapsing to a single NULL-pk row per dim group — invisible
        # to the NULL-ignoring aggregates this plan emits (count uses
        # CASE WHEN pk IS NOT NULL; every other agg reads fact-side
        # columns that are NULL on a miss).  Gated off for complete-SQL
        # measures (COUNT(*) over __dedup would see the multiplicity)
        # and metric filters (an IS NULL condition could match miss
        # rows), and for INNER fact joins (the filtered fact prunes the
        # dedup input pre-DISTINCT, which is the better shape).  Wins:
        # the fact joins ONCE (pk+measures attach together after the
        # DISTINCT, on collapsed rows) instead of twice around it.
        fact_hops = [h for h in r.hops if h.to_model == fact]
        has_complete = any(
            comp.sql_is_complete
            for rm in r.metrics
            for _o, comp in self._expand_components(rm)
        )
        known_models = set(self.graph.models)
        outer_refs_fact = any(
            m == fact
            for f in r.outer_filters
            for m, _fld, _g in find_refs(f, known_models)
        )
        pre_collapse = (
            fact != r.base
            and len(fact_hops) == 1
            and fact_hops[0].custom_sql is None
            and fact_hops[0].rel_type != "cross"
            and list(fact_hops[0].pk_side) == fact_model.pk_list()
            and not any(h.from_model == fact for h in r.hops)
            and all(rd.model != fact for rd in r.dims)
            and not outer_refs_fact
            and not r.pushdown.get(fact)
            and fact not in r.spec.inner_models
            and not filter_cols
            and not has_complete
        )

        if pre_collapse:
            hop = fact_hops[0]
            proj = [
                f"{hop.from_model}_cte.{a} AS __jk{i}"
                for i, a in enumerate(hop.fk_side)
            ]
        else:
            proj = [f"{fact}_cte.{c} AS {c}" for c in pk_cols]
        for rd in r.dims:
            proj.append(f"{rd.model}_cte.{rd.out} AS {rd.out}")

        joined = "SELECT\n        " + ",\n        ".join(dict.fromkeys(proj))
        joined += "\n    FROM " + self._join_clause(
            r, skip_model=fact if pre_collapse else None
        )
        where = [self._rewrite_outer_filter(f) for f in r.outer_filters]
        if where:
            joined += "\n    WHERE " + "\n      AND ".join(f"({w})" for w in where)

        if pre_collapse:
            on = " AND ".join(
                f"__p.__jk{i} = __f.{c}" for i, c in enumerate(pk_cols)
            )
            sel = [f"__f.{c} AS {c}" for c in pk_cols]
            sel += [f"__p.{rd.out} AS {rd.out}" for rd in r.dims]
            sel += wide
            dedup = (
                "SELECT " + ",\n        ".join(dict.fromkeys(sel))
                + "\n    FROM (SELECT DISTINCT * FROM __joined) __p"
                + f"\n    LEFT JOIN {fact}_cte __f ON {on}"
            )
        else:
            dedup = "SELECT DISTINCT * FROM __joined"
            if wide:
                on = " AND ".join(f"__p.{c} = __f.{c}" for c in pk_cols)
                dedup = (
                    "SELECT __p.*,\n        "
                    + ",\n        ".join(wide)
                    + "\n    FROM (SELECT DISTINCT * FROM __joined) __p"
                    + f"\n    LEFT JOIN {fact}_cte __f ON {on}"
                )

        # count-without-sql counts fact rows; outer-join misses leave the
        # fact pk NULL and must count as zero
        count_pk = f"CASE WHEN {pk_cols[0]} IS NOT NULL THEN 1 END"

        def value_of(out: str, metric: Metric):
            if metric.agg == "count" and metric.sql is None:
                return count_pk
            for model_name, comps in r.component_metrics.items():
                for comp_out, comp in comps:
                    if comp_out == out or comp.name == metric.name:
                        return f"{comp_out}_raw"
            raise QueryCompileError(f"no raw column for metric {metric.name!r}")

        dim_outs = [rd.out for rd in r.dims]
        select_parts = list(dim_outs)
        for rm in r.metrics:
            expr = self._metric_sql_dedup(rm, value_of, r)
            select_parts.append(f"{expr} AS {rm.out}")
        if r.spec.with_totals and dim_outs:
            # grand-total marker: a genuine NULL dim value must stay
            # distinguishable from the rollup row (ref tests/queries/
            # test_ungrouped_queries.py with_totals-null-marking; the
            # grouped plan emits the same column at :1518)
            select_parts.append(
                f"CAST(GROUPING({dim_outs[0]}) AS BOOLEAN) AS _is_total"
            )
        final = "SELECT\n    " + ",\n    ".join(select_parts)
        final += "\nFROM __dedup"
        if dim_outs:
            if r.spec.with_totals:
                final += "\nGROUP BY GROUPING SETS ((" + ", ".join(dim_outs) + "), ())"
            else:
                final += "\nGROUP BY " + ", ".join(dim_outs)
        if r.having:
            having = [self._rewrite_having(h, r, value_of, dedup_scope=True) for h in r.having]
            final += "\nHAVING " + "\n  AND ".join(f"({h})" for h in having)
        final += self._order_limit(r)
        extra = [("__joined", joined), ("__dedup", dedup)]
        return self._assemble(r, ctes, final, plan="grouped-dedup", extra_ctes=extra)

    def _metric_sql_dedup(self, rm: RMetric, value_of, r: Resolved, depth: int = 0) -> str:
        metric = rm.metric
        if metric.sql_is_complete:
            # evaluate the opaque SQL over the deduplicated entity rows;
            # its raw columns were re-attached under __flt_ aliases
            sql = _rename_complete_sql_cols(
                metric.sql, lambda c: f"__flt_{c}"
            )
            if metric.fill_nulls_with is not None:
                sql = f"COALESCE({sql}, {metric.fill_nulls_with})"
            return sql
        if metric.is_simple:
            value = value_of(metric.name, metric)
            if metric.filters:
                cond = " AND ".join(f"({self._rewrite_dedup_filter(f, r)})" for f in metric.filters)
                if metric.agg == "count" and metric.sql is None:
                    sql = f"COUNT(CASE WHEN {cond} THEN 1 END)"
                else:
                    sql = metric.agg_sql(f"CASE WHEN {cond} THEN {value} END")
            elif metric.agg == "count" and metric.sql is None:
                sql = f"COUNT({value})"
            else:
                sql = metric.agg_sql(value)
            if metric.fill_nulls_with is not None:
                sql = f"COALESCE({sql}, {metric.fill_nulls_with})"
            return sql
        if metric.type == "ratio":
            num_model, num = self._lookup_metric(_qualify(metric.numerator, rm.model))
            den_model, den = self._lookup_metric(_qualify(metric.denominator, rm.model))
            num_sql = self._metric_sql_dedup(RMetric(num_model, num, num.name), value_of, r, depth + 1)
            den_sql = self._metric_sql_dedup(RMetric(den_model, den, den.name), value_of, r, depth + 1)
            return f"CAST(({num_sql}) AS DOUBLE) / NULLIF(CAST(({den_sql}) AS DOUBLE), 0)"
        if metric.type == "derived":
            if _ALL_RE.search(metric.expr or ""):
                raise QueryCompileError(
                    f"metric {metric.name!r}: all() window totals are not "
                    "supported under fan-out dedup"
                )
            sql = metric.expr
            for name in _identifiers(metric.expr):
                try:
                    child_model, child = self._lookup_metric(_qualify(name, rm.model))
                except QueryCompileError:
                    continue
                child_sql = self._metric_sql_dedup(
                    RMetric(child_model, child, child.name), value_of, r, depth + 1
                )
                sql = re.sub(rf"\b{re.escape(name)}\b", f"({child_sql})", sql)
            return sql
        raise QueryCompileError(f"metric {metric.name!r}: unsupported under fan-out dedup")

    def _rewrite_having(self, h: str, r: Resolved, value_of, dedup_scope: bool = False) -> str:
        """Replace model.metric references with full aggregate exprs."""
        known = set(self.graph.models)

        def sub(m: str, fld: str, g: str | None) -> str:
            model = self.graph.get_model(m)
            metric = model.metric(fld)
            if metric is not None:
                if metric.type == "derived" and _ALL_RE.search(metric.expr or ""):
                    # SQL evaluates HAVING before window functions, so a
                    # window-total metric cannot gate groups — the same
                    # query works as a post-filter on the result
                    raise QueryCompileError(
                        f"metric {metric.name!r} uses all() window totals and "
                        "cannot appear in HAVING; filter the result instead"
                    )
                rm = RMetric(m, metric, fld)
                if dedup_scope:
                    return f"({self._metric_sql_dedup(rm, value_of, r)})"
                return f"({self._metric_sql(rm, value_of)})"
            if dedup_scope:
                return _date_trunc(g, fld) if g else fld
            return _date_trunc(g, f"{m}_cte.{fld}") if g else f"{m}_cte.{fld}"

        return replace_refs(h, known, sub)

    # ------------------------------------------------------------------
    # multi-fact split (ref sql/generator.py:2586-2921)
    # ------------------------------------------------------------------
    def _multifact_sql(self, r: Resolved, metric_models: list[str]) -> str:
        known = set(self.graph.models)
        # a dim PRIVATE to one fact (named on it / reachable from it,
        # and neither conformed onto nor reachable from some other
        # fact) is projected only by its own fact's subquery and
        # excluded from the FULL OUTER join keys — the other facts'
        # rows repeat across its values, the conformed-star semantics
        # of the reference corpus cross-view join (measures.test)
        fact_covers: dict[str, set[str]] = {}
        for fm in metric_models:
            reach_fm = self._reachable_from(fm)
            fact_covers[fm] = {
                rd.out for rd in r.dims
                if rd.model in reach_fm
                or self.graph.get_model(fm).dimension(rd.name) is not None
            }
        for rd in r.dims:
            if not any(rd.out in c for c in fact_covers.values()):
                raise QueryCompileError(
                    f"dimension {rd.model}.{rd.name} is neither joinable "
                    f"from any fact nor conformed (no same-named "
                    f"dimension on any fact model)"
                )
        shared_outs = {
            rd.out for rd in r.dims
            if all(rd.out in c for c in fact_covers.values())
        }
        fact_sqls: list[tuple[str, str]] = []
        for fm in metric_models:
            reachable = self._reachable_from(fm)
            # conformed dimensions: a dim named on an UNRELATED model
            # resolves onto this fact's own same-named dimension (the
            # classic conformed-dimension star pair — reference
            # tests/test_bugfix_batch.py full-outer multi-fact family)
            dim_refs = []
            for rd in r.dims:
                if rd.out not in fact_covers[fm]:
                    continue  # private to another fact
                model = rd.model
                if model not in reachable:
                    model = fm
                dim_refs.append(
                    f"{model}.{rd.name}"
                    + (f"__{rd.grain}" if rd.grain else "")
                    + f" AS {rd.out}"
                )
            fact_metrics = [
                (f"{rm.model}.{rm.metric.name} AS {rm.out}")
                for rm in r.metrics
                if rm.model == fm
            ]
            fact_filters = [
                f
                for f in r.spec.filters
                if all(
                    m in reachable for m, _f, _g in find_refs(f, known)
                )
            ]
            sub = r.spec.sub(
                metrics=fact_metrics,
                dimensions=dim_refs,
                filters=fact_filters,
                # each fact emits its own GROUPING SETS rollup row +
                # _is_total marker; the join below aligns total rows
                # with total rows so a genuine NULL dim never merges
                # with a rollup row
                with_totals=r.spec.with_totals and bool(r.dims),
            )
            fact_sqls.append((f"__fact_{fm}", self._generate(sub)))

        dim_outs = [rd.out for rd in r.dims]
        with_totals = r.spec.with_totals and bool(dim_outs)
        keys = dim_outs + (["_is_total"] if with_totals else [])
        if all(o in shared_outs for o in dim_outs):
            # Every dim is conformed onto every fact, so each fact
            # subquery emits at most ONE row per (dims, _is_total) key.
            # The null-safe FULL OUTER chain is then equivalent to a
            # UNION ALL + one re-aggregation: a key present in any fact
            # appears once (GROUP BY treats NULLs as equal exactly like
            # <=>), and MAX picks each metric's single non-NULL branch
            # value (or NULL when its fact lacks the key — the outer
            # join's miss row). Physically this replaces one exchange +
            # sort per fact plus the SortMergeJoin with a single
            # hash-aggregate exchange over already-grouped-size rows.
            branches = []
            for (name, _), fm in zip(fact_sqls, metric_models):
                cols = list(keys)
                for rm in r.metrics:
                    cols.append(
                        rm.out if rm.model == fm else f"NULL AS {rm.out}"
                    )
                branches.append(f"SELECT {', '.join(cols)} FROM {name}")
            select = keys + [f"MAX({rm.out}) AS {rm.out}" for rm in r.metrics]
            sql = "SELECT\n    " + ",\n    ".join(select)
            sql += "\nFROM (\n" + "\nUNION ALL\n".join(branches) + "\n)"
            if keys:
                sql += "\nGROUP BY " + ", ".join(keys)
        else:
            sql = self._multifact_outer_join_sql(
                r, fact_sqls, metric_models, fact_covers, dim_outs,
                shared_outs, with_totals,
            )
        if r.having:
            havings = []
            for h in r.having:
                havings.append(
                    replace_refs(
                        h,
                        known,
                        lambda m, fld, g: next(
                            (rm.out for rm in r.metrics if rm.model == m and rm.metric.name == fld),
                            f"{m}.{fld}",
                        ),
                    )
                )
            sql = f"SELECT * FROM (\n{sql}\n)\nWHERE " + " AND ".join(f"({h})" for h in havings)
        sql += self._order_limit(r)
        ctes = [(n, s) for n, s in fact_sqls]
        header = self._instrumentation(r, "multifact")
        with_clause = ",\n".join(f"{n} AS (\n{s}\n)" for n, s in ctes)
        return f"{header}\nWITH {with_clause}\n{sql}"

    def _multifact_outer_join_sql(
        self,
        r: Resolved,
        fact_sqls: list[tuple[str, str]],
        metric_models: list[str],
        fact_covers: dict[str, set[str]],
        dim_outs: list[str],
        shared_outs: set[str],
        with_totals: bool,
    ) -> str:
        """Null-safe FULL OUTER chain across the fact subqueries — the
        shape for fact-PRIVATE dims, where the other facts' rows must
        REPLICATE across the private dim's values (a union +
        re-aggregate would instead park them in one NULL group)."""
        join_outs = [o for o in dim_outs if o in shared_outs] + (
            ["_is_total"] if with_totals else []
        )
        covers = {n: fact_covers[fm] | ({"_is_total"} if with_totals else set())
                  for (n, _), fm in zip(fact_sqls, metric_models)}
        first = fact_sqls[0][0]
        select = []
        for o in dim_outs + (["_is_total"] if with_totals else []):
            owners = [n for n, _ in fact_sqls if o in covers[n]]
            if len(owners) > 1:
                select.append(
                    f"COALESCE({', '.join(f'{n}.{o}' for n in owners)}) AS {o}"
                )
            else:
                select.append(f"{owners[0]}.{o} AS {o}")
        for rm in r.metrics:
            select.append(f"__fact_{rm.model}.{rm.out} AS {rm.out}")
        sql = "SELECT\n    " + ",\n    ".join(select)
        sql += f"\nFROM {first}"
        for idx, (name, _) in enumerate(fact_sqls[1:], start=1):
            conds = []
            for o in join_outs:
                if o not in covers[name]:
                    continue
                # chain on COALESCE of ALL prior covering facts' dims:
                # with 3+ facts, a dim combination absent from the
                # first fact still lives in the joined row via a later
                # fact, and joining on first-fact columns alone would
                # leave it NULL and spawn a duplicate unmerged output
                # row
                prior = [n for n, _ in fact_sqls[:idx] if o in covers[n]]
                if not prior:
                    continue
                conds.append(
                    "COALESCE(" + ", ".join(f"{p}.{o}" for p in prior) + ")"
                    f" <=> {name}.{o}"
                )
            if conds:
                sql += f"\nFULL OUTER JOIN {name} ON {' AND '.join(conds)}"
            else:
                sql += f"\nCROSS JOIN {name}"
        return sql

    def _reachable_from(self, model_name: str) -> set[str]:
        adj = self.graph.adjacency()
        seen = {model_name}
        stack = [model_name]
        while stack:
            node = stack.pop()
            for hop in adj.get(node, []):
                if hop.to_model not in seen:
                    seen.add(hop.to_model)
                    stack.append(hop.to_model)
        return seen

    # ------------------------------------------------------------------
    # window-metric pipeline (ref sql/generator.py:5701-6482)
    # ------------------------------------------------------------------
    def _derived_window_children(self, rm: RMetric) -> list[tuple[str, str, Metric]]:
        """(token, model, child) for each metric a derived formula
        references; non-empty result with a window-type child routes the
        query to the window plan (derived-over-comparison formulas, e.g.
        MetricFlow offset aliases)."""
        m = rm.metric
        if m.type != "derived" or not m.expr:
            return []
        children: list[tuple[str, str, Metric]] = []
        windowed = False
        for tok in _identifiers(m.expr):
            try:
                model_name, child = self._lookup_metric(tok)
            except QueryCompileError:
                try:
                    model_name, child = self._lookup_metric(_qualify(tok, rm.model))
                except QueryCompileError:
                    continue
            children.append((tok, model_name, child))
            if child.type in ("cumulative", "time_comparison") or (
                child.type == "ratio" and child.offset_window
            ):
                windowed = True
        return children if windowed else []

    def _window_sql(self, r: Resolved, window_metrics: list[RMetric]) -> str:
        time_dims = [rd for rd in r.dims if rd.grain or self._is_time_dim(rd)]
        if not time_dims:
            raise QueryCompileError("window metrics require a time dimension in the query")
        time_dim = time_dims[-1]  # finest listed time dim
        other_outs = [rd.out for rd in r.dims if rd.out != time_dim.out]

        # derived formulas over window children (e.g. a MetricFlow
        # offset alias) hoist each referenced metric as a pseudo-unit:
        # the children compute like top-level window/plain metrics and
        # the formula combines their expressions in the outer select
        units: list[RMetric] = []
        derived_formulas: list[tuple[RMetric, list[str]]] = []
        seen_units: set[str] = set()
        for rm in r.metrics:
            children = self._derived_window_children(rm)
            if children:
                toks = []
                for tok, model_name, child in children:
                    # qualified refs (orders.revenue) get a dot-free out
                    # alias; the formula substitution maps tok -> out
                    out = tok.replace(".", "_")
                    toks.append((tok, out))
                    if out not in seen_units:
                        seen_units.add(out)
                        units.append(RMetric(model_name, child, out))
                derived_formulas.append((rm, toks))
            elif rm.out not in seen_units:
                seen_units.add(rm.out)
                units.append(rm)

        # inner spec: every window metric replaced by its base simple agg
        inner_metric_refs: list[str] = []
        seen_inner: set[str] = set()
        inner_name_of: dict[str, str] = {}
        ratio_legs: dict[str, tuple[str, str]] = {}
        for rm in units:
            if rm.metric.type == "ratio" and rm.metric.offset_window:
                # both legs become inner simple metrics; the outer stage
                # divides the current numerator by the denominator from
                # the offset-shifted self-join row
                legs = []
                for leg in (rm.metric.numerator, rm.metric.denominator):
                    if leg is None:
                        raise QueryCompileError(
                            f"ratio metric {rm.metric.name!r} missing a leg"
                        )
                    ref = _qualify(leg, rm.model)
                    out_name = ref.split(".", 1)[1]
                    legs.append(out_name)
                    if out_name not in seen_inner:
                        seen_inner.add(out_name)
                        inner_metric_refs.append(f"{ref} AS {out_name}")
                ratio_legs[rm.out] = (legs[0], legs[1])
                inner_name_of[rm.out] = legs[0]
            elif rm.metric.type in ("cumulative", "time_comparison"):
                base_ref = self._base_metric_ref(rm.metric, rm.model)
                if base_ref is None:
                    if not rm.metric.agg:
                        raise QueryCompileError(
                            f"{rm.metric.type} metric {rm.metric.name!r} needs "
                            "base_metric or agg"
                        )
                    # inline agg+sql (adapter imports: Cube rolling_window,
                    # DAX TOTALYTD, AQL running_total): the __base marker
                    # resolves to a plain-aggregate shadow in the inner query
                    base_ref = f"{rm.model}.{rm.metric.name}__base"
                base_out = base_ref.split(".", 1)[1]
                inner_name_of[rm.out] = base_out
                if base_out not in seen_inner:
                    seen_inner.add(base_out)
                    inner_metric_refs.append(f"{base_ref} AS {base_out}")
            else:
                inner_name_of[rm.out] = rm.out
                if rm.out not in seen_inner:
                    seen_inner.add(rm.out)
                    inner_metric_refs.append(f"{rm.model}.{rm.metric.name} AS {rm.out}")

        inner_dim_refs = [
            f"{rd.model}.{rd.name}" + (f"__{rd.grain}" if rd.grain else "") + f" AS {rd.out}"
            for rd in r.dims
        ]
        inner_spec = r.spec.sub(
            metrics=inner_metric_refs,
            dimensions=inner_dim_refs,
            filters=list(r.spec.filters),
        )
        inner_sql = self._generate(inner_spec)

        part = ", ".join(other_outs)
        part_clause = f"PARTITION BY {part} " if part else ""
        t = time_dim.out

        # comparison offsets -> extra self-joins on shifted time
        offsets: dict[str, str] = {}
        for rm in units:
            if rm.metric.type == "time_comparison":
                offsets[rm.out] = _comparison_interval(rm.metric, time_dim.grain)
            elif rm.metric.type == "ratio" and rm.metric.offset_window:
                offsets[rm.out] = interval_sql(rm.metric.offset_window)

        select = [f"i.{rd.out} AS {rd.out}" for rd in r.dims]
        expr_of: dict[str, str] = {}
        top_outs = {rm.out for rm in r.metrics}
        formula_outs = {rm.out for rm, _toks in derived_formulas}

        def emit(expr: str, rm: RMetric) -> None:
            # fill_nulls_with applies AFTER the window/comparison (ref
            # tests/metrics/test_advanced.py:172,609): a missing prior
            # period or all-NULL window frame yields the fill value
            if rm.metric.fill_nulls_with is not None:
                expr = f"COALESCE({expr}, {rm.metric.fill_nulls_with})"
            expr_of[rm.out] = expr
            if rm.out in top_outs and rm.out not in formula_outs:
                select.append(f"{expr} AS {rm.out}")

        for rm in units:
            m = rm.metric
            base_col = f"i.{inner_name_of[rm.out]}"
            # window function over the bucket values: metric.agg, SUM by
            # default (rolling averages/minima/counts — ref
            # sql/generator.py:6180 agg_func selection)
            wfn = (m.agg or "sum").upper()
            if wfn == "COUNT_DISTINCT":
                wfn, base_col = "COUNT", f"DISTINCT {base_col}"
            if m.type == "cumulative":
                if m.window_expression:
                    # raw passthrough (reference sql/generator.py:6139-6147):
                    # the author supplies the complete windowed SQL;
                    # {value}/{time}/{partition} resolve to the inner
                    # base-metric column, the time column, and the
                    # PARTITION BY clause for the query's other dims
                    expr = m.window_expression.format(
                        value=base_col, time=f"i.{t}", partition=part_clause
                    )
                    emit(expr, rm)
                    continue
                if m.window:
                    frame = (
                        f"RANGE BETWEEN {interval_sql(m.window)} PRECEDING AND CURRENT ROW"
                    )
                elif m.grain_to_date:
                    part2 = ", ".join(
                        ([part] if part else []) + [_date_trunc(m.grain_to_date, f"i.{t}")]
                    )
                    frame = m.window_frame or "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                    emit(
                        f"{wfn}({base_col}) OVER (PARTITION BY {part2} ORDER BY i.{t} {frame})",
                        rm,
                    )
                    continue
                else:
                    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                if m.window_frame:
                    frame = m.window_frame
                emit(
                    f"{wfn}({base_col}) OVER ({part_clause}ORDER BY i.{t} {frame})", rm
                )
            elif m.type == "ratio" and m.offset_window:
                num_out, den_out = ratio_legs[rm.out]
                alias = f"p_{rm.out}"
                emit(
                    f"CAST(i.{num_out} AS DOUBLE)"
                    f" / NULLIF(CAST({alias}.{den_out} AS DOUBLE), 0)",
                    rm,
                )
            elif m.type == "time_comparison":
                alias = f"p_{rm.out}"
                prior = f"{alias}.{inner_name_of[rm.out]}"
                calc = m.calculation
                if calc == "difference":
                    expr = f"{base_col} - {prior}"
                elif calc == "ratio":
                    expr = f"CAST({base_col} AS DOUBLE) / NULLIF(CAST({prior} AS DOUBLE), 0)"
                elif calc == "prior":
                    expr = prior
                elif calc in (None, "percent_change"):
                    # in percent, reference ×100 (sql/generator.py:6428)
                    expr = (
                        f"CAST({base_col} - {prior} AS DOUBLE)"
                        f" / NULLIF(CAST({prior} AS DOUBLE), 0) * 100"
                    )
                else:
                    # a typo'd calculation silently computing
                    # percent_change would be a wrong answer (reference
                    # raises on invalid calculation types too)
                    raise QueryCompileError(
                        f"metric {m.name!r}: unknown calculation "
                        f"{calc!r}; expected difference | ratio | prior "
                        "| percent_change"
                    )
                emit(expr, rm)
            else:
                emit(base_col, rm)

        # derived formulas combine their children's computed expressions.
        # Two phases (placeholder then expansion) so one child's expanded
        # SQL is never re-matched by another token, and dotted refs
        # (orders.revenue) substitute correctly
        for rm, toks in derived_formulas:
            expr = rm.metric.expr
            pairs = [(tok, out) for tok, out in dict(toks).items()
                     if out in expr_of]
            placeholders = {}
            for idx, (tok, out) in enumerate(
                    sorted(pairs, key=lambda p: len(p[0]), reverse=True)):
                ph = f"__dwu{idx}__"
                placeholders[ph] = out
                expr = re.sub(
                    rf"(?<![\w.]){re.escape(tok)}(?![\w.(])", ph, expr)
            for ph, out in placeholders.items():
                expr = expr.replace(ph, f"({expr_of[out]})")
            if rm.metric.fill_nulls_with is not None:
                expr = f"COALESCE({expr}, {rm.metric.fill_nulls_with})"
            select.append(f"{expr} AS {rm.out}")

        sql = "SELECT\n    " + ",\n    ".join(select) + "\nFROM __inner i"
        for out, off in offsets.items():
            alias = f"p_{out}"
            conds = [f"{alias}.{t} = i.{t} - {off}"]
            conds += [f"{alias}.{o} <=> i.{o}" for o in other_outs]
            sql += f"\nLEFT JOIN __inner {alias} ON " + " AND ".join(conds)
        if r.having:
            # window metrics are per-output-row values, so HAVING becomes
            # a plain filter over the window select's output columns
            # (evaluated in a wrapping stage — Spark pipelines it, no
            # extra exchange)
            out_of: dict[tuple[str, str], str] = {}
            for rm in r.metrics:
                out_of[(rm.model, rm.metric.name)] = rm.out
            for rd in r.dims:
                out_of[(rd.model, rd.name)] = rd.out
            known = set(self.graph.models)

            def sub(m: str, fld: str, g: str | None) -> str:
                out = out_of.get((m, fld))
                if out is None:
                    raise QueryCompileError(
                        f"HAVING over window metrics can only reference "
                        f"selected fields; {m}.{fld} is not in the select"
                    )
                return _date_trunc(g, out) if g else out

            conds = [replace_refs(h, known, sub) for h in r.having]
            sql = (
                "SELECT * FROM (\n" + sql + "\n)\nWHERE "
                + "\n  AND ".join(f"({c})" for c in conds)
            )
        sql += self._order_limit(r)
        header = self._instrumentation(r, "window")
        return f"{header}\nWITH __inner AS (\n{inner_sql}\n)\n{sql}"

    def _is_time_dim(self, rd: RDim) -> bool:
        dim = self.graph.get_model(rd.model).dimension(rd.name)
        return dim is not None and dim.type == "time"

    # ------------------------------------------------------------------
    # conversion funnel (2-step) (ref sql/generator.py:5210-5419)
    # ------------------------------------------------------------------
    def _conversion_sql(self, r: Resolved, rm: RMetric) -> str:
        m = rm.metric
        model = self.graph.get_model(rm.model)
        if m.steps:
            return self._multistep_conversion_sql(r, rm)
        if not (m.entity and m.base_event and m.conversion_event):
            raise QueryCompileError(
                f"conversion metric {m.name!r} needs entity/base_event/conversion_event "
                "(or an N-step 'steps' list)"
            )
        tdim_name = (
            m.non_additive_dimension
            or model.default_time_dimension
            or self._sole_time_dim(model)
        )
        if tdim_name is None:
            raise QueryCompileError(f"model {rm.model!r} needs a time dimension")
        tdim = model.dimension(tdim_name)
        ts = tdim.expr if tdim else tdim_name
        entity = self._entity_expr(model, m)
        window = interval_sql(m.conversion_window) if m.conversion_window else None

        base_f = self._normalize_event_filter(m.base_event, rm.model, m.name, "base_event")
        conv_f = self._normalize_event_filter(
            m.conversion_event, rm.model, m.name, "conversion_event"
        )
        for field, f in (("base_event", base_f), ("conversion_event", conv_f)):
            self._event_filter_cols(
                f, rm.model, r, context=f"conversion metric {m.name!r} {field}"
            )
        cte_name, cte_sql = self._model_cte(
            r, rm.model, extra_time=[("__ts", ts), ("__entity", entity)]
        )
        dims_sel = ", ".join(f"b.{rd.out} AS {rd.out}" for rd in r.dims)
        dims_group = ", ".join(f"b.{rd.out}" for rd in r.dims)
        base_where = self._rewrite_event_filter(base_f, rm.model)
        conv_where = self._rewrite_event_filter(conv_f, rm.model)

        window_cond = f" AND c.__ts <= b.__ts + {window}" if window else ""
        dim_cols = (", " + ", ".join(rd.out for rd in r.dims)) if r.dims else ""
        sel_dims = (dims_sel + ",\n    ") if r.dims else ""
        group = f"\nGROUP BY {dims_group}" if r.dims else ""
        # the conversion event must fall in the SAME dimension group as
        # its base event — without this, a conversion in group X credits
        # a base in group Y whenever entity+window match (reference
        # cross-group-leak fix, tests/test_bugfix_batch.py:607; NULL-safe
        # via <=> = IS NOT DISTINCT FROM). TIME dims are excluded: the
        # cohort period belongs to the BASE event, and a conversion
        # landing in the next period but inside the window must still
        # count toward the base's cohort.
        def _is_time(rd) -> bool:
            if rd.grain:
                return True
            d = self.graph.get_model(rd.model).dimension(rd.name)
            return d is not None and d.type == "time"

        attr_dims = [rd for rd in r.dims if not _is_time(rd)]
        dim_join = (
            " AND " + " AND ".join(f"c.{rd.out} <=> b.{rd.out}" for rd in attr_dims)
            if attr_dims
            else ""
        )

        sql = f"""{self._instrumentation(r, 'conversion')}
WITH {cte_name} AS (
    {cte_sql}
),
__base AS (
    SELECT __entity, __ts{dim_cols} FROM {cte_name} WHERE {base_where}
),
__conv AS (
    SELECT __entity, __ts{dim_cols} FROM {cte_name} WHERE {conv_where}
),
__flags AS (
    SELECT
        b.__entity{(', ' + ', '.join('b.' + rd.out for rd in r.dims)) if r.dims else ''},
        MAX(CASE WHEN c.__entity IS NOT NULL THEN 1 ELSE 0 END) AS __converted
    FROM __base b
    LEFT JOIN __conv c
      ON c.__entity = b.__entity AND c.__ts >= b.__ts{window_cond}{dim_join}
    GROUP BY b.__entity{(', ' + ', '.join('b.' + rd.out for rd in r.dims)) if r.dims else ''}
)
SELECT
    {(', '.join(rd.out for rd in r.dims) + ',') if r.dims else ''}
    COUNT(*) AS {rm.out}_base,
    SUM(__converted) AS {rm.out}_converted,
    CAST(SUM(__converted) AS DOUBLE) / COUNT(*) AS {rm.out}
FROM __flags"""
        if r.dims:
            sql += "\nGROUP BY " + ", ".join(rd.out for rd in r.dims)
        sql += self._order_limit(r)
        return sql

    def _multistep_conversion_sql(self, r: Resolved, rm: RMetric) -> str:
        """N-step funnel (ref ``sql/generator.py:5420-5700``): a
        sequential CTE chain — step_i joins step_{i-1} per entity and
        only counts events at/after the prior step's earliest timestamp,
        enforcing chronological order. Output: dims, ``total_entities``,
        ``step_i_count`` per step, and the last step count under the
        metric's name."""
        m = rm.metric
        model = self.graph.get_model(rm.model)
        if len(m.steps) < 2:
            raise QueryCompileError(f"conversion metric {m.name!r}: steps needs >= 2 entries")
        if not m.entity:
            raise QueryCompileError(f"conversion metric {m.name!r} needs entity")
        tdim_name = (
            m.non_additive_dimension
            or model.default_time_dimension
            or self._sole_time_dim(model)
        )
        if tdim_name is None:
            raise QueryCompileError(
                f"model {rm.model!r} needs a time dimension for chronological step order"
            )
        tdim = model.dimension(tdim_name)
        ts = tdim.expr if tdim else tdim_name
        entity = self._entity_expr(model, m)
        steps_f = [
            self._normalize_event_filter(s, rm.model, m.name, f"steps[{i}]")
            for i, s in enumerate(m.steps)
        ]
        for i, step in enumerate(steps_f):
            self._event_filter_cols(
                step, rm.model, r, context=f"conversion metric {m.name!r} steps[{i}]"
            )
        cte_name, cte_sql = self._model_cte(
            r, rm.model, extra_time=[("__ts", ts), ("__entity", entity)]
        )
        dim_outs = [rd.out for rd in r.dims]
        n = len(m.steps)

        ctes = [f"{cte_name} AS (\n    {cte_sql}\n)"]
        for i, step in enumerate(steps_f, 1):
            where = self._rewrite_event_filter(step, rm.model)
            if i == 1:
                sel = ["__entity", "MIN(__ts) AS step_1_ts"] + dim_outs
                grp = ["__entity"] + dim_outs
                ctes.append(
                    f"__step_1 AS (\n    SELECT {', '.join(sel)}\n"
                    f"    FROM {cte_name} WHERE {where}\n"
                    f"    GROUP BY {', '.join(grp)}\n)"
                )
            else:
                prev = f"__step_{i - 1}"
                sel = [f"s.__entity", f"MIN(s.__ts) AS step_{i}_ts"] + [
                    f"{prev}.{o}" for o in dim_outs
                ]
                grp = ["s.__entity"] + [f"{prev}.{o}" for o in dim_outs]
                ctes.append(
                    f"__step_{i} AS (\n    SELECT {', '.join(sel)}\n"
                    f"    FROM {cte_name} s\n"
                    f"    JOIN {prev} ON s.__entity = {prev}.__entity"
                    f" AND s.__ts >= {prev}.step_{i - 1}_ts\n"
                    f"    WHERE {where}\n"
                    f"    GROUP BY {', '.join(grp)}\n)"
                )

        sel = [f"__step_1.{o} AS {o}" for o in dim_outs]
        sel.append("COUNT(DISTINCT __step_1.__entity) AS total_entities")
        for i in range(1, n + 1):
            sel.append(f"COUNT(DISTINCT __step_{i}.__entity) AS step_{i}_count")
        sel.append(f"COUNT(DISTINCT __step_{n}.__entity) AS {rm.out}")
        joins = []
        for i in range(2, n + 1):
            on = f"__step_{i - 1}.__entity = __step_{i}.__entity"
            for o in dim_outs:
                on += f" AND __step_{i - 1}.{o} IS NOT DISTINCT FROM __step_{i}.{o}"
            joins.append(f"LEFT JOIN __step_{i} ON {on}")
        ctes_sql = ",\n".join(ctes)
        sel_sql = ",\n    ".join(sel)
        joins_sql = "\n".join(joins)
        sql = f"""{self._instrumentation(r, 'conversion-funnel')}
WITH {ctes_sql}
SELECT
    {sel_sql}
FROM __step_1
{joins_sql}"""
        if dim_outs:
            sql += "\nGROUP BY " + ", ".join(f"__step_1.{o}" for o in dim_outs)
        sql += self._order_limit(r)
        return sql

    def _rewrite_event_filter(self, f: str, model_name: str) -> str:
        # {model} self-references in step/event predicates collapse to
        # bare columns — they evaluate inside the model CTE (reference
        # test_multistep_funnel_model_placeholder_step_predicates)
        f = f.replace("{model}.", "").replace("{model}", model_name)
        known = set(self.graph.models)
        out = replace_refs(f, known, lambda m, fld, g: (_date_trunc(g, fld) if g else fld))
        return out

    def _event_filter_cols(
        self, filt: str, model_name: str, r: Resolved, context: str = ""
    ) -> None:
        """Project every column an event filter touches into the model
        CTE — both ``model.field`` refs and bare dimension names — and
        validate that every bare column the filter references will
        actually resolve against the pruned model CTE.  The reference
        raises a clear ``ValueError`` for out-of-contract conversion
        inputs (``sql/generator.py:5316``); without this check an
        undeclared column surfaces as a raw Spark ``AnalysisException``
        at run time."""
        filt = filt.replace("{model}.", "")
        model = self.graph.get_model(model_name)
        for mo, fld, _g in find_refs(filt, set(self.graph.models)):
            r.extra_cols.setdefault(mo, set()).add(fld)
        for ident in _identifiers(filt):
            if model.dimension(ident) is not None:
                r.extra_cols.setdefault(model_name, set()).add(ident)
        projected = r.extra_cols.get(model_name, set())
        unknown = [
            col
            for col in _complete_sql_columns(filt)
            if model.dimension(col) is None
            and col not in projected
            and col not in self.graph.models
            and col.lower() not in _INTERVAL_UNIT_WORDS
        ]
        if unknown:
            where = context or "event filter"
            raise QueryCompileError(
                f"{where} references column(s) {', '.join(repr(c) for c in unknown)} "
                f"that are not declared dimensions of model {model_name!r}. "
                f"Declare each as a dimension, or qualify it as "
                f"'{model_name}.<column>' to project the raw column."
            )

    def _event_type_dim(self, model) -> str | None:
        """The model's event-type dimension, found the way the reference
        does (``sql/generator.py:5305-5316``): a categorical dimension
        whose name contains both "event" and "type"."""
        for d in model.dimensions:
            n = d.name.lower()
            if "event" in n and "type" in n:
                return d.name
        return None

    def _normalize_event_filter(
        self, filt: str | None, model_name: str, metric_name: str, field: str
    ) -> str | None:
        """Accept both event-filter forms for conversion/retention/cohort
        metrics: a filter SQL expression (this engine's general form) and
        the reference's bare event *value* (``base_event="signup"`` means
        ``event_type = 'signup'`` — ref ``tests/metrics/test_advanced.py:
        450-458``).  A bare single identifier that is not a declared
        dimension and not a SQL keyword is treated as a value matched
        against the model's event-type dimension."""
        if filt is None:
            return None
        s = filt.strip()
        # embedded single quotes stay on the bare-value path (an
        # unbalanced quote is never valid filter SQL): the reference
        # escapes them into the literal (ref tests/
        # test_sql_generation_security.py conversion_event_name_quotes)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_\-']*", s):
            return filt
        if s.lower() in _COMPLETE_SQL_KEYWORDS or s.lower() in _SQL_KEYWORDS:
            return filt
        model = self.graph.get_model(model_name)
        if model.dimension(s) is not None:
            return filt  # a boolean dimension used as a predicate
        ev = self._event_type_dim(model)
        if ev is None:
            raise QueryCompileError(
                f"metric {metric_name!r}: {field}={s!r} is a bare event value, "
                f"which requires an event-type dimension on model {model_name!r} "
                "(a categorical dimension named like 'event_type'). Declare one, "
                f"or write {field} as a full filter expression."
            )
        return f"{ev} = '{s.replace(chr(39), chr(39) * 2)}'"

    # ------------------------------------------------------------------
    # retention (ref sql/generator.py:4998-5209)
    # ------------------------------------------------------------------
    def _retention_sql(self, r: Resolved, rm: RMetric) -> str:
        """Retention plan with the reference's output contract
        (``sql/generator.py:4998-5209``): columns ``cohort_date``,
        ``{grain}s_since``, ``active_users``, ``cohort_size``,
        ``retention_pct`` (percentage rounded to 1 decimal); activity
        rows optionally filtered by ``activity_event``; period bound is
        inclusive (``<= periods``)."""
        m = rm.metric
        model = self.graph.get_model(rm.model)
        tdim_name = model.default_time_dimension or self._sole_time_dim(model)
        if not (m.entity and m.base_event and tdim_name):
            raise QueryCompileError(
                f"retention metric {m.name!r} needs entity/base_event and a time dimension"
            )
        tdim = model.dimension(tdim_name)
        ts = tdim.expr if tdim else tdim_name
        entity = self._entity_expr(model, m)
        grain = m.retention_granularity
        if not isinstance(m.retention_periods, int) or m.retention_periods <= 0:
            # ref sql/generator.py retention guard
            # (tests/metrics/test_retention.py:400 periods=0 must raise,
            # not silently degrade to a day-0-only table)
            raise QueryCompileError(
                f"Invalid periods value {m.retention_periods!r} for "
                f"retention metric {m.name!r}: must be a positive integer"
            )
        periods_label = f"{grain}s_since"
        base_f = self._normalize_event_filter(m.base_event, rm.model, m.name, "base_event")
        activity_f = self._normalize_event_filter(
            m.activity_event, rm.model, m.name, "activity_event"
        )
        for field, filt in (("base_event", base_f), ("activity_event", activity_f)):
            if filt:
                self._event_filter_cols(
                    filt, rm.model, r, context=f"retention metric {m.name!r} {field}"
                )
        # metric-filter columns must project into the model CTE, so this
        # runs BEFORE _model_cte snapshots the column set
        for f in m.filters or []:
            self._event_filter_cols(
                f, rm.model, r, context=f"retention metric {m.name!r} filter"
            )
        cte_name, cte_sql = self._model_cte(
            r, rm.model, extra_time=[("__ts", ts), ("__entity", entity)]
        )
        cohort_where = self._rewrite_event_filter(base_f, rm.model)
        activity_where = (
            self._rewrite_event_filter(activity_f, rm.model) if activity_f else "TRUE"
        )
        # metric-level filters scope BOTH the cohort and the activity
        # event sets (ref tests/metrics/test_retention.py:640 — a
        # `country = 'US'` filter must shrink the cohort_size too)
        if m.filters:
            mf = " AND ".join(
                f"({self._rewrite_event_filter(f, rm.model)})" for f in m.filters
            )
            cohort_where = f"({cohort_where}) AND {mf}"
            activity_where = f"({activity_where}) AND {mf}"
        # NOTE (r12 optimization study, rejected): a single-scan shape —
        # one pass over the CTE with the cohort attached by a MIN window
        # over the entity partition, both dedups riding that
        # partitioning — was built, proven row-identical, and measured
        # head-to-head (scripts history / OPTIMIZATION_r12.md): dead
        # even at 32 AND 8 cores (the window sort costs what the second
        # scan saves), and at scale it trades one scan for shuffling
        # every event row un-deduped (the two-scan shape's aggregates
        # partially dedup map-side). Kept the two-scan join shape.
        period_expr = _period_diff(grain, "c.cohort_date", "a.__period")

        sql = f"""{self._instrumentation(r, 'retention')}
WITH {cte_name} AS (
    {cte_sql}
),
__cohorts AS (
    SELECT __entity, CAST({_date_trunc(grain, 'MIN(__ts)')} AS DATE) AS cohort_date
    FROM {cte_name} WHERE {cohort_where}
    GROUP BY __entity
),
__activity AS (
    SELECT DISTINCT __entity, CAST({_date_trunc(grain, '__ts')} AS DATE) AS __period
    FROM {cte_name} WHERE {activity_where}
),
__sizes AS (
    SELECT cohort_date, COUNT(*) AS cohort_size FROM __cohorts GROUP BY cohort_date
),
__ret AS (
    SELECT c.cohort_date, {period_expr} AS {periods_label}, a.__entity
    FROM __cohorts c
    JOIN __activity a ON a.__entity = c.__entity
    WHERE a.__period >= c.cohort_date AND {period_expr} <= {m.retention_periods}
)
SELECT
    r.cohort_date AS cohort_date,
    r.{periods_label} AS {periods_label},
    COUNT(DISTINCT r.__entity) AS active_users,
    s.cohort_size AS cohort_size,
    ROUND(COUNT(DISTINCT r.__entity) * 100.0 / s.cohort_size, 1) AS {rm.out}
FROM __ret r
JOIN __sizes s ON s.cohort_date = r.cohort_date
GROUP BY r.cohort_date, r.{periods_label}, s.cohort_size"""
        sql += self._order_limit(r)
        return sql

    def _sole_time_dim(self, model) -> str | None:
        time_dims = [d.name for d in model.dimensions if d.type == "time"]
        return time_dims[0] if len(time_dims) == 1 else None

    # ------------------------------------------------------------------
    # cohort metric (ref sql/generator.py:4694-4997)
    # ------------------------------------------------------------------
    def _entity_expr(self, model, m: Metric) -> str:
        """Entity column expression for conversion/retention/cohort
        metrics.  The entity must resolve to a declared dimension or be
        a plain column identifier — it is interpolated into generated
        SQL, so free-form text would be an injection vector (reference
        test_conversion_invalid_entity_rejected)."""
        dim = model.dimension(m.entity)
        if dim is not None:
            return dim.expr
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", m.entity or ""):
            raise QueryCompileError(
                f"Invalid entity {m.entity!r} for metric {m.name!r}: "
                "must be a declared dimension or a plain column identifier"
            )
        return m.entity

    def _cohort_sql(self, r: Resolved, rm: RMetric) -> str:
        m = rm.metric
        model = self.graph.get_model(rm.model)
        if m.inner_metrics:
            return self._cohort_inner_metrics_sql(r, rm)
        if not (m.entity and m.sql and m.agg and m.cohort_aggregation):
            raise QueryCompileError(
                f"cohort metric {m.name!r} needs entity, sql, agg (inner) and cohort_aggregation (outer)"
            )
        entity = self._entity_expr(model, m)
        # the inner value may name a dimension whose sql differs
        val_dim = model.dimension(m.sql) if m.sql else None
        val_expr = val_dim.expr if val_dim else m.sql
        extra = [("__entity", entity), ("__val", val_expr)]
        # metric-declared grouping dims (ref core/metric.py:342-348
        # entity_dimensions) join the query's own dimensions
        ed_cols = []
        for dname in m.entity_dimensions:
            if any(rd.out == dname for rd in r.dims):
                continue
            d = model.dimension(dname)
            extra.append((dname, d.expr if d else dname))
            ed_cols.append(dname)
        cte_name, cte_sql = self._model_cte(r, rm.model, extra_time=extra)
        dim_cols = [rd.out for rd in r.dims] + ed_cols
        inner_group = ["__entity"] + dim_cols
        inner = Metric(name="inner", agg=m.agg, sql="__val")
        inner_agg = inner.agg_sql("__val")
        having = ""
        if m.having:
            having = "\n    HAVING " + self._rewrite_cohort_having(m.having, inner_agg)
        if m.cohort_aggregation == "avg":
            # written as exact-SUM / COUNT (not AVG) so engines that
            # accumulate AVG in running double space can't drift a ULP:
            # with a DECIMAL-typed entity value the SUM is exact and the
            # single double division is correctly rounded everywhere
            outer_agg = (
                "CAST(SUM(__entity_value) AS DOUBLE) / COUNT(__entity_value)"
            )
        else:
            outer = Metric(
                name="outer", agg=m.cohort_aggregation, sql="__entity_value"
            )
            outer_agg = outer.agg_sql("__entity_value")
        sel = (", ".join(dim_cols) + ",\n    ") if dim_cols else ""
        sql = f"""{self._instrumentation(r, 'cohort')}
WITH {cte_name} AS (
    {cte_sql}
),
__per_entity AS (
    SELECT {', '.join(inner_group)}, {inner_agg} AS __entity_value
    FROM {cte_name}
    GROUP BY {', '.join(inner_group)}{having}
)
SELECT
    {sel}{outer_agg} AS {rm.out}
FROM __per_entity"""
        if dim_cols:
            sql += "\nGROUP BY " + ", ".join(dim_cols)
        sql += self._order_limit(r)
        return sql

    def _cohort_inner_metrics_sql(self, r: Resolved, rm: RMetric) -> str:
        """Reference cohort authoring surface (core/metric.py
        ``inner_metrics`` + outer ``sql`` over the ``cohort_sub``
        alias, tests/metrics/test_cohort.py): N per-entity aggregates,
        an inner HAVING over their names, and an outer aggregate whose
        expression references them through ``cohort_sub.<name>``."""
        m = rm.metric
        model = self.graph.get_model(rm.model)
        if not m.entity:
            raise QueryCompileError(f"cohort metric {m.name!r} needs entity")
        if not m.agg:
            raise QueryCompileError(
                f"cohort metric {m.name!r} with inner_metrics needs an "
                "outer agg"
            )
        if not m.sql and m.agg != "count":
            # count without sql counts the qualifying ENTITIES (the ref
            # canonical multi-platform cohort,
            # tests/metrics/test_cohort.py:36-62); every other outer agg
            # needs an expression — SUM(*)/AVG(*) is invalid SQL (ref
            # test_cohort_outer_agg_without_sql_raises)
            raise QueryCompileError(
                f"cohort metric {m.name!r}: outer agg {m.agg!r} "
                "requires a 'sql' field"
            )
        inner_specs: list[tuple[str, str, str | None]] = []
        for im in m.inner_metrics:
            name_ = im.get("name")
            if not name_:
                raise QueryCompileError(
                    f"cohort metric {m.name!r}: inner metric missing name"
                )
            agg_ = im.get("agg")
            sql_ = im.get("sql")
            if not agg_:
                raise QueryCompileError(
                    f"cohort metric {m.name!r}: inner metric {name_!r} "
                    "missing agg"
                )
            if not sql_ and agg_ != "count":
                raise QueryCompileError(
                    f"cohort metric {m.name!r}: inner metric {name_!r} "
                    f"({agg_}) needs sql"
                )
            inner_specs.append((name_, agg_, sql_))

        entity = self._entity_expr(model, m)
        extra = [("__entity", entity)]
        val_cols: dict[str, str] = {}
        for i, (name_, _agg, sql_) in enumerate(inner_specs):
            if sql_:
                vd = model.dimension(sql_)
                extra.append((f"__val{i}", vd.expr if vd else sql_))
                val_cols[name_] = f"__val{i}"
        ed_cols = []
        for dname in m.entity_dimensions:
            if any(rd.out == dname for rd in r.dims):
                continue
            d = model.dimension(dname)
            if d is None and model.metric(dname) is None:
                raise QueryCompileError(
                    f"cohort metric {m.name!r}: unknown dimension {dname!r}"
                )
            extra.append((dname, d.expr if d else dname))
            ed_cols.append(dname)
        cte_name, cte_sql = self._model_cte(r, rm.model, extra_time=extra)
        dim_cols = [rd.out for rd in r.dims] + ed_cols
        inner_group = ["__entity"] + dim_cols

        inner_agg_of: dict[str, str] = {}
        inner_sel = list(inner_group)
        for name_, agg_, _sql in inner_specs:
            col = val_cols.get(name_)
            agg_sql = (
                Metric(name=name_, agg=agg_, sql=col).agg_sql(col)
                if col is not None
                else "COUNT(*)"
            )
            inner_agg_of[name_] = agg_sql
            inner_sel.append(f"{agg_sql} AS {name_}")
        having = ""
        if m.having:
            h = m.having
            for name_, agg_sql in inner_agg_of.items():
                h = re.sub(rf"\b{re.escape(name_)}\b", f"({agg_sql})", h)
            having = "\n    HAVING " + h

        if not m.sql:
            outer_expr = "*"  # count of qualifying entities
        else:
            outer_expr = m.sql.replace("cohort_sub.", "")
        if outer_expr == "*":
            outer_agg = "COUNT(*)"
        elif m.agg == "avg":
            # exact SUM / COUNT (see _cohort_sql's determinism note)
            outer_agg = (
                f"CAST(SUM({outer_expr}) AS DOUBLE) / COUNT({outer_expr})"
            )
        else:
            outer_agg = Metric(
                name="outer", agg=m.agg, sql=outer_expr
            ).agg_sql(outer_expr)

        sel = (", ".join(dim_cols) + ",\n    ") if dim_cols else ""
        sql = f"""{self._instrumentation(r, 'cohort')}
WITH {cte_name} AS (
    {cte_sql}
),
__per_entity AS (
    SELECT {', '.join(inner_sel)}
    FROM {cte_name}
    GROUP BY {', '.join(inner_group)}{having}
)
SELECT
    {sel}{outer_agg} AS {rm.out}
FROM __per_entity"""
        if dim_cols:
            sql += "\nGROUP BY " + ", ".join(dim_cols)
        sql += self._order_limit(r)
        return sql

    def _rewrite_cohort_having(self, having: str, inner_agg: str) -> str:
        # bare "value" token refers to the inner aggregation
        return re.sub(r"\bvalue\b", inner_agg, having)

    # ------------------------------------------------------------------
    # semi-additive (ref sql/generator.py:147-274, :3391-3629)
    # ------------------------------------------------------------------
    def _semi_additive_sql(self, r: Resolved) -> str:
        sa = [rm for rm in r.metrics if rm.metric.non_additive_dimension]
        if any(h.duplicates_left() for h in r.hops):
            raise QueryCompileError(
                "semi-additive metrics cannot be combined with fan-out joins "
                "(reference refuses too: sql/generator.py:219-247)"
            )
        rm = sa[0]
        m = rm.metric
        if any(rmx.model != rm.model for rmx in r.metrics):
            raise QueryCompileError(
                "semi-additive metrics cannot be combined with metrics "
                "from another model"
            )
        model = self.graph.get_model(rm.model)

        # one (__nadN/__grpN) projected column per distinct expression;
        # each semi-additive metric carries its OWN (nad, groupings,
        # window fn) spec so opening/closing snapshots compose in one
        # query (reference tests/metrics/test_non_additive_guard.py
        # test_opening_and_closing_snapshot_metrics_compose)
        extra: list[tuple[str, str]] = []
        alias_of: dict[str, str] = {}

        def col_alias(expr: str, base: str) -> str:
            if expr not in alias_of:
                alias_of[expr] = f"__{base}{len(alias_of)}"
                extra.append((alias_of[expr], expr))
            return alias_of[expr]

        specs: dict[str, tuple[str, tuple[str, ...], str]] = {}
        for rmx in sa:
            mm = rmx.metric
            nad = model.dimension(mm.non_additive_dimension)
            nad_expr = nad.expr if nad else mm.non_additive_dimension
            nad_alias = col_alias(nad_expr, "nad")
            grp_aliases = []
            for g in mm.non_additive_window_groupings:
                gd = model.dimension(g)
                grp_aliases.append(col_alias(gd.expr if gd else g, "grp"))
            fn = "MAX" if mm.non_additive_window == "max" else "MIN"
            specs[rmx.out] = (nad_alias, tuple(grp_aliases), fn)

        groupings = list(m.non_additive_window_groupings)
        ctes = []
        for name in r.models:
            if name == rm.model:
                ctes.append(self._model_cte(r, name, extra_time=extra))
            else:
                ctes.append(self._model_cte(r, name))

        dim_outs = [rd.out for rd in r.dims]

        proj = [f"{rd.model}_cte.{rd.out} AS {rd.out}" for rd in r.dims]
        proj += [f"{rm.model}_cte.{alias} AS {alias}" for alias, _e in extra]
        for comp_out, comp in r.component_metrics.get(rm.model, []):
            if comp.sql:
                proj.append(f"{rm.model}_cte.{comp_out}_raw AS {comp_out}_raw")
        joined = "SELECT\n        " + ",\n        ".join(dict.fromkeys(proj))
        joined += "\n    FROM " + self._join_clause(r)
        where = [self._rewrite_outer_filter(f) for f in r.outer_filters]
        if where:
            joined += "\n    WHERE " + "\n      AND ".join(f"({w})" for w in where)

        # Two physical strategies, same semantics (rows at the per-group
        # marker timestamp):
        #
        # (a) aggregation pipeline (preferred when every metric's agg
        #     decomposes): partial-aggregate per (groupings, dims, ts)
        #     — map-side combinable, the shuffle carries one row per
        #     timestamp bucket — then {MAX,MIN}_BY picks the marker
        #     bucket per group (no ties: ts is a group key), then
        #     re-aggregate over groups. Sort-free: at fact scale this
        #     avoids the window plan's full-row sort-within-partitions.
        # (b) window-marker plan (reference shape, sql/generator.py
        #     :3391-3629): MAX(ts) OVER (PARTITION BY ...) + equality
        #     filter — handles any agg (count_distinct, avg, median)
        #     since the original rows survive to the final aggregate.
        #
        # Plan choice is gated on marker-partition cardinality, not just
        # decomposability.  When `non_additive_window_groupings` is
        # present (per-entity markers, e.g. partkey), the window's
        # PARTITION BY key cardinality is ~entity-count: partitions are
        # tiny, the sort-within-partition is cheap, and the pipeline's
        # first GROUP BY (groupings × ts) is near row-cardinality so
        # map-side combine buys nothing — plan (a) pays 3 shuffles where
        # (b) pays one sort-shuffle (measured 11.6s vs 5.2s at sf0.1).
        # Without groupings the window partitions collapse to the
        # (low-cardinality) dims, the sort skews badly at scale, and the
        # sort-free pipeline wins — so (a) is used only then.
        decomposable = {"sum", "count", "min", "max"}
        uniform = (
            len(sa) == len(r.metrics) and len(set(specs.values())) == 1
        )
        nad0, grp0, fn0 = specs[rm.out]
        part_cols = list(grp0) + dim_outs
        part = ", ".join(part_cols) if part_cols else "1"
        if uniform and not groupings and all(
            rmx.metric.agg in decomposable and not rmx.metric.sql_is_complete
            for rmx in r.metrics
        ):
            by_fn = "MAX_BY" if m.non_additive_window == "max" else "MIN_BY"
            ts_parts = list(part_cols) + [nad0]
            ts_sel = list(ts_parts)
            last_sel = list(part_cols)
            final_parts = list(dim_outs)
            for rmx in r.metrics:
                mm = rmx.metric
                value = f"{mm.name}_raw" if mm.sql else None
                partial = mm.agg_sql(value) if value else "COUNT(*)"
                ts_sel.append(f"{partial} AS {rmx.out}__ts")
                last_sel.append(f"{by_fn}({rmx.out}__ts, {nad0}) AS {rmx.out}__last")
                outer = "SUM" if mm.agg in ("sum", "count") else mm.agg.upper()
                final_parts.append(f"{outer}({rmx.out}__last) AS {rmx.out}")
            ts_cte = (
                "SELECT\n        " + ",\n        ".join(ts_sel)
                + "\n    FROM __joined\n    GROUP BY " + ", ".join(ts_parts)
            )
            last_cte = "SELECT\n        " + ",\n        ".join(last_sel) + "\n    FROM __ts"
            if part_cols:
                last_cte += "\n    GROUP BY " + ", ".join(part_cols)
            final = "SELECT\n    " + ",\n    ".join(final_parts) + "\nFROM __last"
            if dim_outs:
                final += "\nGROUP BY " + ", ".join(dim_outs)
            final += self._order_limit(r)
            extra_ctes = [("__joined", joined), ("__ts", ts_cte), ("__last", last_cte)]
            return self._assemble(
                r, ctes, final, plan="semi-additive-agg", extra_ctes=extra_ctes
            )

        # one marker column per distinct (nad, groupings, fn) spec; each
        # semi-additive metric filters to ITS marker rows via CASE while
        # additive siblings aggregate over ALL rows — a shared WHERE
        # would steal rows from them (reference
        # test_semi_additive_and_additive_metrics_keep_independent_row_sets)
        markers: dict[tuple[str, tuple[str, ...], str], str] = {}
        marker_sel = ["*"]
        for spec in specs.values():
            if spec in markers:
                continue
            nad_a, grp_a, fn_a = spec
            p = ", ".join(list(grp_a) + dim_outs) or "1"
            alias = f"__marker{len(markers)}"
            markers[spec] = alias
            marker_sel.append(
                f"{fn_a}({nad_a}) OVER (PARTITION BY {p}) AS {alias}"
            )
        marked = "SELECT " + ", ".join(marker_sel) + " FROM __joined"

        select_parts = list(dim_outs)
        for rmx in r.metrics:
            mm = rmx.metric
            value = f"{mm.name}_raw" if mm.sql else None
            if rmx.out in specs:
                nad_a, _grp_a, _fn_a = specs[rmx.out]
                cond = f"{nad_a} = {markers[specs[rmx.out]]}"
                if value is None:
                    agg_sql = f"COUNT(CASE WHEN {cond} THEN 1 END)"
                else:
                    agg_sql = mm.agg_sql(f"CASE WHEN {cond} THEN {value} END")
            else:
                agg_sql = mm.agg_sql(value) if value else "COUNT(*)"
            select_parts.append(f"{agg_sql} AS {rmx.out}")
        final = "SELECT\n    " + ",\n    ".join(select_parts)
        final += "\nFROM __marked"
        if dim_outs:
            final += "\nGROUP BY " + ", ".join(dim_outs)
        final += self._order_limit(r)
        extra_ctes = [("__joined", joined), ("__marked", marked)]
        return self._assemble(r, ctes, final, plan="semi-additive", extra_ctes=extra_ctes)

    # ------------------------------------------------------------------
    # shared tail + assembly
    # ------------------------------------------------------------------
    def _order_limit(self, r: Resolved) -> str:
        sql = ""
        if r.spec.order_by:
            parts = []
            for ob in r.spec.order_by:
                direction = ""
                m = _DESC_RE.match(ob.strip())
                body = ob.strip()
                if m:
                    body, direction = m.group(1).strip(), " " + m.group(2).upper()
                out = self._order_target(body, r)
                parts.append(out + direction)
            sql += "\nORDER BY " + ", ".join(parts)
        if r.spec.limit is not None:
            sql += f"\nLIMIT {int(r.spec.limit)}"
        if r.spec.offset is not None:
            sql += f"\nOFFSET {int(r.spec.offset)}"
        return sql

    def _order_target(self, body: str, r: Resolved) -> str:
        for rd in r.dims:
            if body == rd.out or body == f"{rd.model}.{rd.name}" or (
                rd.grain and body == f"{rd.model}.{rd.name}__{rd.grain}"
            ):
                return rd.out
        for rm in r.metrics:
            if body == rm.out or body == f"{rm.model}.{rm.metric.name}":
                return rm.out
        return body

    def _instrumentation(self, r: Resolved, plan: str) -> str:
        """Leading comment describing the compiled query; drives preagg
        routing detection and the recommender's query-log analysis
        (ref ``sql/generator.py:7218``, ``core/preagg_recommender.py:121``)."""
        models = ",".join(r.models)
        metrics = ",".join(f"{rm.model}.{rm.metric.name}" for rm in r.metrics)
        dims = ",".join(f"{rd.model}.{rd.name}" for rd in r.dims)
        grains = ",".join(sorted({rd.grain for rd in r.dims if rd.grain}))
        out = f"-- sidemantic_spark models={models} plan={plan}"
        if metrics:
            out += f" metrics={metrics}"
        if dims:
            out += f" dimensions={dims}"
        if grains:
            out += f" granularities={grains}"
        return out

    def _assemble(
        self,
        r: Resolved,
        ctes: list[tuple[str, str]],
        main: str,
        plan: str,
        extra_ctes: list[tuple[str, str]] | None = None,
    ) -> str:
        header = self._instrumentation(r, plan)
        all_ctes = list(ctes) + list(extra_ctes or [])
        with_clause = ",\n".join(f"{name} AS (\n    {sql}\n)" for name, sql in all_ctes)
        return f"{header}\nWITH {with_clause}\n{main}"


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------

_HEADER_RE = re.compile(r"--\s*sidemantic_spark\s+(.+)")


def read_header(sql: str) -> dict[str, str]:
    """The ``key=value`` fields of the first ``-- sidemantic_spark``
    instrumentation header in ``sql`` (``SqlGenerator._instrumentation``
    writes it, a routed query's adds ``used_preagg``), or ``{}``."""
    m = _HEADER_RE.search(sql)
    if m is None:
        return {}
    return dict(tok.split("=", 1) for tok in m.group(1).split() if "=" in tok)


_TZ_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_+\-/]*$")


def _validate_timezone(tz: str) -> None:
    """The timezone embeds into a SQL string literal, so anything
    outside the IANA name alphabet (letters, digits, ``_+-/``) is an
    injection vector and is rejected (ref
    tests/dates/test_query_timezone.py:123)."""
    if not _TZ_RE.fullmatch(tz):
        raise QueryCompileError(f"Invalid timezone {tz!r}")


def _date_trunc(grain: str, expr: str) -> str:
    return f"DATE_TRUNC('{grain}', {expr})"


def _needs_parens(expr: str) -> bool:
    return bool(re.search(r"[\s+\-*/]", expr))


def _qualify(name: str | None, default_model: str) -> str:
    if name is None:
        raise QueryCompileError("missing metric reference")
    return name if "." in name else f"{default_model}.{name}"


_IDENT_RE = re.compile(r"\b[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?\b")
# metric-level window totals: all(metric) / __bsl_all(metric)
_ALL_RE = re.compile(r"\b(?:__bsl_all|all)\(\s*([A-Za-z_][\w.]*)\s*\)", re.IGNORECASE)
# aggregate-call detector for untyped graph expression metrics (the
# author already aggregated -> complete-SQL measure, not derived)
_AGG_TOKEN_RE = re.compile(
    r"\b(?:sum|count|avg|mean|min|max|median|stddev\w*|var\w*|"
    r"percentile\w*|approx\w*|collect_\w+|first|last|any_value)\s*\(",
    re.IGNORECASE,
)
_SQL_KEYWORDS = {
    "case", "when", "then", "else", "end", "and", "or", "not", "null", "nullif",
    "coalesce", "cast", "as", "double", "bigint", "int", "float", "decimal",
    "true", "false", "abs", "round", "greatest", "least",
}


# column references inside opaque complete-SQL measures: bare
# identifiers that are not function calls, keywords, or dotted refs
_COMPLETE_COL_RE = re.compile(
    r"(?<![\w.'])([A-Za-z_][A-Za-z0-9_]*)(?![\w.(])(?!\s*\()"
)
_COMPLETE_SQL_KEYWORDS = _SQL_KEYWORDS | {
    "sum", "count", "avg", "min", "max", "if", "iff", "like", "ilike", "in",
    "is", "distinct", "between", "interval", "day", "week", "month",
    "quarter", "year", "filter", "where", "over", "partition", "by",
    "order", "asc", "desc", "varchar", "string", "date", "timestamp",
    "boolean", "integer", "numeric", "real", "smallint", "tinyint", "char",
    "escape", "exists", "all", "any", "some", "current_date",
    "current_timestamp", "within", "group", "percentile_cont",
    "percentile_disc", "percentile",
}


# interval-unit words an event filter may contain bare ("INTERVAL 7 days")
_INTERVAL_UNIT_WORDS = {
    "days", "weeks", "months", "quarters", "years",
    "hour", "hours", "minute", "minutes", "second", "seconds",
    "millisecond", "milliseconds",
}


_LAMBDA_PARAM_RE = re.compile(r"(?:\(([\w\s,]+)\)|([A-Za-z_]\w*))\s*->")


def _lambda_params(sql: str) -> set[str]:
    """Parameter names of higher-order-function lambdas (``x ->``,
    ``(a, b) ->``) — NOT columns.  Spark scopes a lambda param to
    shadow any same-named column inside the body, so excluding the
    name everywhere matches engine semantics."""
    out: set[str] = set()
    for m in _LAMBDA_PARAM_RE.finditer(sql or ""):
        if m.group(1):
            out |= {p.strip() for p in m.group(1).split(",") if p.strip()}
        else:
            out.add(m.group(2))
    return out


def _complete_sql_columns(sql: str) -> list[str]:
    params = _lambda_params(sql)
    out = []
    for seg, opaque in segments(sql or ""):
        if opaque:
            continue
        for m in _COMPLETE_COL_RE.finditer(seg):
            tok = m.group(1)
            if tok.lower() not in _COMPLETE_SQL_KEYWORDS and tok not in params:
                out.append(tok)
    return list(dict.fromkeys(out))


def _rename_complete_sql_cols(sql: str, rename) -> str:
    """Rewrite every bare column reference in an opaque complete-SQL
    measure via ``rename(col)`` (dedup scope: ``col -> __flt_col``)."""
    cols = set(_complete_sql_columns(sql))
    return sub_code(sql or "", lambda seg: _COMPLETE_COL_RE.sub(
        lambda m: rename(m.group(1)) if m.group(1) in cols else m.group(1),
        seg,
    ))


def _qualify_complete_sql(sql: str, scope: str) -> str:
    """Prefix every bare column reference with ``scope.`` so the opaque
    SQL evaluates against the model's CTE in the joined select."""
    cols = set(_complete_sql_columns(sql))
    return sub_code(sql or "", lambda seg: _COMPLETE_COL_RE.sub(
        lambda m: f"{scope}.{m.group(1)}" if m.group(1) in cols else m.group(1),
        seg,
    ))


def _identifiers(expr: str) -> list[str]:
    out = []
    for m in _IDENT_RE.finditer(expr):
        tok = m.group(0)
        if tok.lower() in _SQL_KEYWORDS:
            continue
        out.append(tok)
    return list(dict.fromkeys(out))


_OFFSET_RE = re.compile(
    r"^\s*(\d+)\s+(day|week|month|quarter|year)s?\s*$", re.IGNORECASE
)


def _comparison_interval(metric: Metric, grain: str | None) -> str:
    # custom offset (ref core/metric.py:315 time_offset, e.g. "13 week")
    # beats the comparison_type's standard interval
    if metric.time_offset:
        m = _OFFSET_RE.match(metric.time_offset)
        if not m:
            raise QueryCompileError(
                f"time_offset {metric.time_offset!r}: expected '<n> "
                "day|week|month|quarter|year'"
            )
        n, unit = int(m.group(1)), m.group(2).lower()
        if n == 0:
            raise QueryCompileError(
                "time_offset cannot be 0 (a period cannot compare to itself)"
            )
        if unit == "week":
            n, unit = n * 7, "day"
        elif unit == "quarter":
            n, unit = n * 3, "month"
        return f"INTERVAL '{n}' {unit.upper()}"
    ct = (metric.comparison_type or "prior_period").lower()
    mapping = {
        "yoy": "INTERVAL '1' YEAR",
        "qoq": "INTERVAL '3' MONTH",
        "mom": "INTERVAL '1' MONTH",
        "wow": "INTERVAL '7' DAY",
        "dod": "INTERVAL '1' DAY",
    }
    if ct in mapping:
        return mapping[ct]
    if ct == "prior_period":
        g = grain or "day"
        per_grain = {
            "day": "INTERVAL '1' DAY",
            "week": "INTERVAL '7' DAY",
            "month": "INTERVAL '1' MONTH",
            "quarter": "INTERVAL '3' MONTH",
            "year": "INTERVAL '1' YEAR",
        }
        if g not in per_grain:
            raise QueryCompileError(f"prior_period unsupported for grain {g!r}")
        return per_grain[g]
    raise QueryCompileError(f"unknown comparison_type {ct!r}")


def _period_diff(grain: str, start: str, end: str) -> str:
    """Whole periods between two already-truncated timestamps; emitted in
    arithmetic portable enough that we can mirror it in the DuckDB
    oracle."""
    if grain == "day":
        return f"DATEDIFF(DAY, {start}, {end})"
    if grain == "week":
        return f"CAST(FLOOR(DATEDIFF(DAY, {start}, {end}) / 7) AS INT)"
    if grain == "month":
        return f"(YEAR({end}) - YEAR({start})) * 12 + (MONTH({end}) - MONTH({start}))"
    if grain == "year":
        return f"YEAR({end}) - YEAR({start})"
    raise QueryCompileError(f"retention granularity {grain!r} unsupported")
