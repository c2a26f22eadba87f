"""Semantic-model abstractions.

Field sets mirror the reference's pydantic models (sidemantic
``core/model.py:16``, ``core/dimension.py:8``, ``core/metric.py:10``,
``core/relationship.py:8``, ``core/segment.py:6`` — see SURVEY.md §1.1)
but are re-expressed as plain dataclasses; all SQL fragments are Spark
SQL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sidemantic_spark.sql.fragments import close_paren


SIMPLE_AGGS = {
    "sum",
    "count",
    "count_distinct",
    "approx_count_distinct",
    "avg",
    "min",
    "max",
    "median",
    "stddev",
    "stddev_pop",
    "variance",
    "variance_pop",
}

# aggs whose naive evaluation over a fanned-out join double counts
FANOUT_UNSAFE_AGGS = {"sum", "count", "avg"}
# aggs that are naturally idempotent under row duplication
FANOUT_SAFE_AGGS = {"min", "max", "count_distinct", "approx_count_distinct"}
# aggs with no distinct-based decomposition (reference raises; so do we)
FANOUT_IMPOSSIBLE_AGGS = {"median", "stddev", "stddev_pop", "variance", "variance_pop"}

COMPLEX_METRIC_TYPES = {
    "ratio",
    "derived",
    "cumulative",
    "time_comparison",
    "conversion",
    "retention",
    "cohort",
}

TIME_GRAINS = ("second", "minute", "hour", "day", "week", "month", "quarter", "year")

_AGG_RE = re.compile(
    r"^\s*(sum|count|count_distinct|approx_count_distinct|avg|min|max|median|"
    r"stddev|stddev_pop|variance|variance_pop)\s*\(\s*(.*?)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COUNT_DISTINCT_RE = re.compile(r"^\s*count\s*\(\s*distinct\s+(.*?)\s*\)\s*$", re.IGNORECASE | re.DOTALL)


@dataclass
class Dimension:
    """A typed attribute of a model.

    ``type`` in {categorical, time, boolean, numeric}; ``sql`` is a Spark
    SQL expression over the model's columns (defaults to the dimension
    name); time dimensions support ``granularity`` plus per-query
    ``__grain`` suffixes.
    """

    name: str
    type: str = "categorical"
    sql: str | None = None
    granularity: str | None = None  # default grain for time dims
    label: str | None = None
    description: str | None = None
    parent: str | None = None  # hierarchy parent dimension name
    window: str | None = None  # window-function dimension (raw OVER sql)
    public: bool = True
    supported_granularities: list[str] = field(default_factory=list)
    # display/extension metadata (reference core/dimension.py:16-44):
    # carried through adapters and surfaces, no effect on compilation
    format: str | None = None  # e.g. "0.00%"
    value_format_name: str | None = None  # e.g. "percent"
    synonyms: list[str] = field(default_factory=list)
    meta: dict | None = None

    @property
    def expr(self) -> str:
        return self.sql or self.name


# ``expr=`` constructor alias for ``sql=`` (reference core/dimension.py:
# 60-75, tests/test_expr_sql_alias.py). The read-side ``.expr`` property
# above makes a plain dataclass field impossible, so wrap the generated
# __init__ instead.
_dimension_init = Dimension.__init__


def _dimension_init_with_expr_alias(self, *args, expr=None, **kwargs):
    if expr is not None:
        sql = kwargs.get("sql")
        if sql is not None and sql != expr:
            raise ValueError(
                f"Cannot specify both sql={sql!r} and expr={expr!r} "
                "with different values"
            )
        kwargs["sql"] = expr
    _dimension_init(self, *args, **kwargs)


Dimension.__init__ = _dimension_init_with_expr_alias


@dataclass
class Metric:
    """Unified measure/metric (reference ``core/metric.py:10``).

    Simple aggregations carry ``agg`` + ``sql`` (the aggregated
    expression).  Complex types (``ratio, derived, cumulative,
    time_comparison, conversion, retention, cohort``) carry their own
    parameter fields and compile to multi-stage plans.
    """

    name: str
    agg: str | None = None  # one of SIMPLE_AGGS
    sql: str | None = None  # expression to aggregate (or full formula)
    type: str | None = None  # complex type, else None for simple agg
    description: str | None = None
    label: str | None = None
    filters: list[str] = field(default_factory=list)  # per-metric filters
    fill_nulls_with: str | int | float | None = None
    public: bool = True
    extends: str | None = None  # inherit from another metric (core/inheritance.py:96)
    # drill-to-detail defaults: dimensions a consumer should break this
    # metric down by (reference core/metric.py drill_fields)
    drill_fields: list[str] = field(default_factory=list)
    # governance/lifecycle (reference core/governance.py)
    owner: str | None = None
    deprecation: object | None = None  # Deprecation
    # opaque complete-SQL measure: ``sql`` is a full aggregate
    # expression over the model's raw columns, emitted verbatim into
    # the aggregate scope (reference core/metric.py:58-66); unsafe
    # under fan-out joins (guard sql/generator.py:3721-3742)
    sql_is_complete: bool = False

    # ratio
    numerator: str | None = None
    denominator: str | None = None
    # share-of-prior-period: denominator evaluated at t - offset_window
    # (reference sql/generator.py:6331-6394 "ratio with offset_window")
    offset_window: str | None = None

    # derived
    expr: str | None = None  # formula over other metric names

    # cumulative
    window: str | None = None  # e.g. "7 days" rolling window
    grain_to_date: str | None = None  # e.g. "month" | "year" (MTD/YTD)
    base_metric: str | None = None  # metric being accumulated / compared
    # raw passthrough (reference core/metric.py:299-308): full windowed
    # SQL with {value}/{time}/{partition} placeholders, or just a frame
    # clause overriding the default cumulative frame
    window_expression: str | None = None
    window_frame: str | None = None

    # time_comparison
    comparison_type: str | None = None  # yoy|qoq|mom|wow|dod|prior_period
    calculation: str = "percent_change"  # difference|percent_change|ratio
    # custom comparison offset, e.g. "13 week" (ref core/metric.py:315
    # time_offset); overrides comparison_type's standard interval
    time_offset: str | None = None

    # conversion / retention / cohort
    entity: str | None = None  # entity column/dimension name
    base_event: str | None = None  # filter SQL for the base step
    conversion_event: str | None = None  # filter SQL for the converting step
    conversion_window: str | None = None  # e.g. "7 days"
    steps: list[str] = field(default_factory=list)  # N-step funnel filters
    activity_event: str | None = None  # retention: activity filter SQL
    retention_granularity: str = "month"
    retention_periods: int = 12
    cohort_aggregation: str | None = None  # outer re-aggregation for cohort
    having: str | None = None  # inner HAVING for cohort metrics
    entity_dimensions: list[str] = field(default_factory=list)  # cohort group dims
    # reference cohort authoring surface (core/metric.py inner_metrics):
    # a list of {name, agg, sql} per-entity aggregates; the outer `sql`
    # may reference them via the `cohort_sub.` subquery alias and `agg`
    # is the OUTER re-aggregation in this form
    inner_metrics: list[dict] = field(default_factory=list)

    # semi-additive
    non_additive_dimension: str | None = None  # time dim that must not sum
    non_additive_window: str = "max"  # take value at max (last) or min (first)
    non_additive_window_groupings: list[str] = field(default_factory=list)

    # display/extension metadata (reference core/metric.py:360-391):
    # carried through adapters and surfaces, no effect on compilation
    format: str | None = None  # e.g. "$#,##0.00"
    value_format_name: str | None = None  # e.g. "usd"
    synonyms: list[str] = field(default_factory=list)
    meta: dict | None = None

    def __post_init__(self) -> None:
        # an N-step funnel has no conversion-window semantics: the step
        # chain enforces chronological order, nothing expires — accepting
        # both would silently imply windowed behavior that never runs
        # (reference core/metric.py steps/conversion_window validation,
        # tests/metrics/test_advanced.py:1068-1080)
        if self.steps and self.conversion_window:
            raise ValueError(
                f"metric {self.name!r}: cannot specify both 'steps' and "
                "'conversion_window' (the step chain has no window)"
            )
        # a time_comparison with no base reference at all can never
        # resolve (reference core/metric.py pydantic validation,
        # tests/dates/test_time_comparison.py:128); the inline
        # agg+sql form (sql names the source column/metric) stays legal
        if self.type == "time_comparison" and not self.base_metric and not self.sql:
            raise ValueError(
                f"time_comparison metric requires 'base_metric' field "
                f"(metric {self.name!r})"
            )
        # ``expr`` is an accepted alias for ``sql`` on simple metrics
        # (reference core/metric.py:70-96, tests/test_expr_sql_alias.py);
        # derived metrics keep ``expr`` as the formula field
        if self.expr is not None and self.type is None:
            if self.sql is not None and self.sql != self.expr:
                raise ValueError(
                    f"Cannot specify both sql={self.sql!r} and "
                    f"expr={self.expr!r} with different values"
                )
            if self.sql is None:
                self.sql = self.expr
        # ...and the reverse spelling for derived formulas: the
        # reference authors them as sql=, our internal field is expr
        if self.type == "derived" and self.expr is None and self.sql:
            self.expr = self.sql
        # Auto-extraction: sql="SUM(amount)" -> agg="sum", sql="amount"
        # (reference core/metric.py:101-226, via sqlglot; regex suffices
        # for the single-agg-call shape; formula SQL is left intact).
        # complete-SQL measures are emitted verbatim — decomposing e.g.
        # SUM(DISTINCT x) into agg=sum/sql="DISTINCT x" would corrupt them
        # cumulative metrics accept the same single-agg-call sugar:
        # sql="AVG(orders.daily_revenue)" -> agg="avg" naming the window
        # function, sql="orders.daily_revenue" the base reference (ref
        # tests/metrics/test_cumulative.py:223 parsed-from-sql form)
        if self.agg is None and self.type in (None, "cumulative") and self.sql and not self.sql_is_complete:
            m = _COUNT_DISTINCT_RE.match(self.sql)
            if m:
                self.agg = "count_distinct"
                self.sql = m.group(1)
                return
            m = _AGG_RE.match(self.sql)
            if m and _is_single_call(self.sql):
                self.agg = m.group(1).lower()
                inner = m.group(2)
                self.sql = None if inner in ("*", "") else inner
                return
            # non-decomposable aggregate expressions (FILTER clauses,
            # WITHIN GROUP ordered-set aggregates, CASE over aggregates)
            # are complete-SQL measures: emitted verbatim over the CTE
            # columns (ref corpus measures.test filtered/ordered-set
            # measure families — previously a hard error)
            if re.search(
                r"\b(SUM|COUNT|MIN|MAX|AVG|MEDIAN|MODE|STDDEV\w*|VAR\w*|"
                r"PERCENTILE\w*|QUANTILE\w*|APPROX_COUNT_DISTINCT)\s*\(",
                self.sql, re.I,
            ):
                self.sql_is_complete = True

    @property
    def is_simple(self) -> bool:
        return self.type is None and self.agg is not None

    def agg_sql(self, value_sql: str) -> str:
        """Render this metric's aggregate call over ``value_sql``."""
        agg = self.agg or "sum"
        if agg == "count" and (self.sql is None and not self.filters):
            return "COUNT(*)"
        if agg == "count":
            return f"COUNT({value_sql})"
        if agg == "count_distinct":
            return f"COUNT(DISTINCT {value_sql})"
        if agg == "approx_count_distinct":
            return f"APPROX_COUNT_DISTINCT({value_sql})"
        if agg == "avg":
            # emitted as exact-sum / count so Spark and external oracles
            # (DuckDB) produce bit-identical doubles when the input is an
            # exact type; semantically identical to AVG (NULLs excluded)
            return f"CAST(SUM({value_sql}) AS DOUBLE) / COUNT({value_sql})"
        if agg == "stddev":
            return f"STDDEV_SAMP({value_sql})"
        if agg == "variance":
            return f"VAR_SAMP({value_sql})"
        if agg == "variance_pop":
            return f"VAR_POP({value_sql})"
        return f"{agg.upper()}({value_sql})"


def _is_single_call(sql: str) -> bool:
    """True when the whole expression is one function call (not e.g.
    ``SUM(a)/SUM(b)``), so agg auto-extraction is safe."""
    sql = sql.strip()
    return "(" in sql and close_paren(sql, sql.index("(")) == len(sql) - 1


@dataclass
class Relationship:
    """Graph edge (reference ``core/relationship.py:8``).

    ``name`` is the target model; ``type`` in {many_to_one, one_to_one,
    one_to_many, many_to_many, cross}. Keys may be composite (lists).
    ``sql`` is a custom join condition with ``{from}``/``{to}``
    placeholders; ``through`` names a junction model for many_to_many.
    """

    name: str
    type: str = "many_to_one"
    foreign_key: str | list[str] | None = None
    primary_key: str | list[str] | None = None
    sql: str | None = None
    through: str | None = None
    through_from_key: str | list[str] | None = None  # junction FK -> this model
    through_to_key: str | list[str] | None = None  # junction FK -> related model
    join_type: str | None = None  # explicit override: left|inner|full
    meta: dict | None = None  # source-format join metadata (ref Relationship.metadata)
    # inactive imported relationships (TMDL isActive: false, role-playing
    # date keys) are preserved but excluded from join pathing (ref
    # core/relationship.py:42 `active`)
    active: bool = True

    def fk_list(self) -> list[str]:
        fk = self.foreign_key
        if fk is None:
            return []
        return list(fk) if isinstance(fk, (list, tuple)) else [fk]

    def pk_list(self, target_pk: list[str]) -> list[str]:
        pk = self.primary_key
        if pk is None:
            return target_pk
        return list(pk) if isinstance(pk, (list, tuple)) else [pk]


@dataclass
class Segment:
    """Named reusable filter; ``{model}`` resolves to the model alias."""

    name: str
    sql: str
    description: str | None = None
    # public=False segments are rejected under enforce_visibility
    # (reference core/segment.py, test_visibility_blocks_non_public_segment)
    public: bool = True


@dataclass
class Parameter:
    """Typed query parameter interpolated into filters via ``{{ name }}``
    (reference ``core/parameter.py``). ``default_value`` applies when the
    query passes no override."""

    name: str
    type: str = "string"  # string | number | date | unquoted | yesno
    default_value: object = None
    description: str | None = None
    allowed_values: list | None = None

    _DATE_RE = re.compile(
        r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
    )
    _IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")

    def format_value(self, value) -> str:
        """Render ``value`` as a COMPLETE SQL literal for this
        parameter's type (reference ``core/parameter.py`` format_value):
        numbers must parse, unquoted values must be identifiers, strings
        escape embedded quotes — a parameter can never break out of its
        literal position. ``None`` falls back to ``default_value``
        (reference test_parameter_default_value)."""
        if value is None:
            value = self.default_value
        if self.allowed_values is not None and value not in self.allowed_values:
            raise ValueError(
                f"Parameter {self.name!r}: value {value!r} not in "
                f"allowed_values {self.allowed_values!r}"
            )
        t = self.type
        if t == "number":
            if isinstance(value, bool) or not isinstance(value, (int, float, str)):
                raise ValueError(
                    "Numeric parameter must be int, float, or a numeric "
                    f"string, got {type(value).__name__}"
                )
            if isinstance(value, str):
                try:
                    value = float(value)
                except ValueError:
                    raise ValueError(
                        f"Invalid numeric parameter value: {value!r}"
                    ) from None
            return str(value)
        if t == "unquoted":
            if not isinstance(value, str) or not self._IDENT_RE.match(value):
                raise ValueError(
                    f"Unquoted parameter {self.name!r} must be alphanumeric "
                    f"identifiers (dot-separated), got {value!r}"
                )
            return value
        if t == "yesno":
            if isinstance(value, bool):
                return "TRUE" if value else "FALSE"
            if isinstance(value, str) and value.lower() in ("yes", "no", "true", "false"):
                return "TRUE" if value.lower() in ("yes", "true") else "FALSE"
            raise ValueError(
                f"Yes/no parameter {self.name!r} must be boolean or "
                f"yes/no, got {value!r}"
            )
        if t == "date":
            import datetime as _dt

            if isinstance(value, (_dt.date, _dt.datetime)):
                return f"'{value.isoformat(sep=' ') if isinstance(value, _dt.datetime) else value.isoformat()}'"
            if isinstance(value, str) and self._DATE_RE.match(value.strip()):
                return f"'{value.strip()}'"
            raise ValueError(
                f"Invalid date parameter value for {self.name!r}: {value!r}"
            )
        # string: escape embedded quotes so the value stays one literal
        return "'" + str(value).replace("'", "''") + "'"


class ParameterSet:
    """A set of declared parameters bound to query-supplied values
    (reference ``core/parameter.py`` ParameterSet): ``get`` returns the
    effective value (supplied or default), ``format`` the typed SQL
    literal, and ``interpolate`` substitutes ``{{ name }}`` refs in SQL
    text — unknown names are left untouched (they may be user-attribute
    or Jinja constructs handled elsewhere)."""

    def __init__(self, parameters: dict, values: dict | None = None):
        self.parameters = parameters
        self.values = dict(values or {})

    def get(self, name: str):
        if name in self.values:
            return self.values[name]
        param = self.parameters.get(name)
        return param.default_value if param is not None else None

    def format(self, name: str) -> str:
        param = self.parameters.get(name)
        if param is None:
            raise KeyError(f"unknown parameter {name!r}")
        return param.format_value(self.get(name))

    def interpolate(self, sql: str) -> str:
        def sub(m: "re.Match[str]") -> str:
            name = m.group(1)
            if name not in self.parameters:
                return m.group(0)
            return self.format(name)

        return re.sub(r"\{\{\s*([A-Za-z_]\w*)\s*\}\}", sub, sql)


@dataclass
class Model:
    """A dataset bound to a physical table / derived SQL / file source.

    Binding precedence: ``table`` (Spark catalog / temp view) > ``sql``
    (derived subquery) > ``source_uri`` (file read registered as a view).
    """

    name: str
    table: str | None = None
    sql: str | None = None
    source_uri: str | None = None
    source_format: str = "parquet"
    # reader options passed to spark.read.format(...).options(...):
    # csv header/inferSchema, jdbc url/dbtable/driver, etc. — this is
    # how the reference's external-DB adapters (db/__init__.py, 9
    # engines) map onto Spark: any DataSource V2 format is a source
    source_options: dict = field(default_factory=dict)
    primary_key: str | list[str] = "id"
    dimensions: list[Dimension] = field(default_factory=list)
    metrics: list[Metric] = field(default_factory=list)
    relationships: list[Relationship] = field(default_factory=list)
    segments: list[Segment] = field(default_factory=list)
    default_time_dimension: str | None = None
    default_grain: str | None = None
    description: str | None = None
    row_filters: list[str] = field(default_factory=list)  # static row filters
    # Yardstick measure-view flavor (AS MEASURE imports): bare measure
    # refs carry the paper's INVISIBLE default (ignore the query WHERE;
    # AGGREGATE(m) / AT (VISIBLE) opt back in) — ref
    # tests/queries/test_yardstick_query_rewriter.py plain-reference
    # family. Native models keep classic WHERE-respecting semantics.
    measure_view: bool = False
    security: object | None = None  # SecurityPolicy (access + user row filters)
    pre_aggregations: list = field(default_factory=list)  # [PreAggregation]
    extends: str | None = None  # inherit from another model (core/inheritance.py:11)
    # governance (reference core/governance.py, core/freshness.py):
    # trust/lifecycle metadata — descriptive, not access control
    owner: str | None = None
    domain: str | None = None
    tier: str | None = None  # e.g. gold | silver | bronze
    deprecation: object | None = None  # Deprecation
    freshness: object | None = None  # Freshness
    auto_dimensions: bool = False  # introspect schema -> dims (ref core/model.py:61)
    label: str | None = None
    meta: dict | None = None  # arbitrary extension metadata (ref core/model.py:67)

    def __post_init__(self) -> None:
        # normalize the {model} self-reference placeholder the reference
        # accepts in metric sql/filters (its YAML loader and our
        # authoring/yaml_io.py already do this; Python-built models get
        # the same treatment): complete-SQL column refs become bare
        # columns of the model CTE, filters become model-qualified refs
        self._normalize_placeholders()
        self._dims = {d.name: d for d in self.dimensions}
        self._metrics = {m.name: m for m in self.metrics}
        self._segments = {s.name: s for s in self.segments}
        from sidemantic_spark.core import registry

        registry.notify_model(self)

    def _normalize_placeholders(self) -> None:
        for d in self.dimensions:
            # dimension SQL renders inside the model CTE: {model}.col
            # collapses to the bare column (reference
            # test_multistep_funnel_model_placeholder_timestamp)
            if d.sql and "{model}" in d.sql:
                d.sql = d.sql.replace("{model}.", "")
        for m in self.metrics:
            if m.sql and "{model}" in m.sql:
                m.sql = m.sql.replace("{model}.", "")
            if m.filters:
                m.filters = [f.replace("{model}", self.name) for f in m.filters]

    def reindex(self) -> None:
        """Rebuild the name->field indices after in-place edits to the
        dimensions/metrics/segments lists (adapter extension merges)."""
        self._normalize_placeholders()
        self._dims = {d.name: d for d in self.dimensions}
        self._metrics = {m.name: m for m in self.metrics}
        self._segments = {s.name: s for s in self.segments}

    def pk_list(self) -> list[str]:
        pk = self.primary_key
        return list(pk) if isinstance(pk, (list, tuple)) else [pk]

    def metric_value_sql(self, metric: Metric) -> str | None:
        """The expression a simple metric aggregates, resolved at
        GENERATION time (never mutating the authored Metric, so exports
        round-trip what the author wrote). count_distinct with no
        expression counts distinct ENTITIES: it defaults to the primary
        key, composite keys concatenated with a separator so
        ('ab','c') != ('a','bc') (reference
        tests/queries/test_count_distinct_and_segments.py:42-80)."""
        if metric.sql:
            return metric.sql
        if metric.agg in ("count_distinct", "approx_count_distinct"):
            pk = self.pk_list()
            if pk and pk[0]:
                if len(pk) == 1:
                    return pk[0]
                return "CONCAT(" + ", '||', ".join(
                    f"CAST({k} AS STRING)" for k in pk
                ) + ")"
        return None

    def _refresh_if_stale(self) -> None:
        # the reference lets callers mutate the field LISTS directly
        # (its planner tests do `orders.metrics.append(...)` and query);
        # the O(1) indices here go stale on that — a cheap length check
        # on the miss path reindexes so direct appends keep working
        # (renames/replacements still need an explicit reindex())
        if (
            len(self._dims) != len(self.dimensions)
            or len(self._metrics) != len(self.metrics)
            or len(self._segments) != len(self.segments)
        ):
            self.reindex()

    def dimension(self, name: str) -> Dimension | None:
        dim = self._dims.get(name)
        if dim is not None:
            return dim
        self._refresh_if_stale()
        dim = self._dims.get(name)
        if dim is not None:
            return dim
        # reference parity (tests/test_foreign_key_dimensions.py):
        # relationship foreign keys and the primary key are queryable as
        # categorical dimensions without an explicit declaration — a
        # group-by on the raw key column, no join required
        join_keys = {k for r in self.relationships for k in r.fk_list()}
        join_keys.update(self.pk_list())
        if name in join_keys:
            return Dimension(name=name, type="categorical", sql=name)
        return None

    def metric(self, name: str) -> Metric | None:
        hit = self._metrics.get(name)
        if hit is None:
            self._refresh_if_stale()
            hit = self._metrics.get(name)
        return hit

    # reference API-name parity (core/model.py:104,111): a user porting
    # code that calls get_dimension/get_metric keeps working
    def get_dimension(self, name: str) -> Dimension | None:
        return self.dimension(name)

    def get_metric(self, name: str) -> Metric | None:
        return self.metric(name)

    def segment(self, name: str) -> Segment | None:
        hit = self._segments.get(name)
        if hit is None:
            self._refresh_if_stale()
            hit = self._segments.get(name)
        return hit

    # -- dimension hierarchies (reference core/model.py:132-196) ------

    def get_hierarchy_path(self, dimension_name: str) -> list[str]:
        """Root-to-dimension chain following ``Dimension.parent``
        (e.g. ``['country', 'state', 'city']``). Cycles terminate."""
        dim = self.dimension(dimension_name)
        if dim is None:
            return []
        path = [dimension_name]
        seen = {dimension_name}
        while dim is not None and dim.parent and dim.parent not in seen:
            path.insert(0, dim.parent)
            seen.add(dim.parent)
            dim = self.dimension(dim.parent)
        return path

    def get_drill_down(self, dimension_name: str) -> str | None:
        """The child dimension whose ``parent`` is this one."""
        for dim in self.dimensions:
            if dim.parent == dimension_name:
                return dim.name
        return None

    def get_drill_up(self, dimension_name: str) -> str | None:
        dim = self.dimension(dimension_name)
        return dim.parent if dim else None

    def add_metric(self, metric: Metric) -> None:
        self.metrics.append(metric)
        self._metrics[metric.name] = metric

    def add_dimension(self, dim: Dimension) -> None:
        self.dimensions.append(dim)
        self._dims[dim.name] = dim
