"""Pre-aggregation spec + matcher (aggregate awareness).

Re-expression of the reference's rollup routing
(``core/pre_aggregation.py:35`` spec, ``core/preagg_matcher.py:25-300``
matcher): a query can be served from a materialized rollup when

- every queried dimension is in the rollup's dimension set (time dims:
  the query grain must be equal-or-coarser than the rollup granularity
  — day rolls up to month),
- every metric is derivable from stored partials: sum -> SUM(sum_raw),
  count -> SUM(count_raw), min/max -> MIN/MAX over the partials,
  avg -> SUM(sum_raw)/SUM(count_raw) recomposition,
  count_distinct ONLY at exact grain (non-derivable across grains —
  the reference's exact-grain guard at ``core/preagg_matcher.py:138``),
- every filter references covered dimensions only.

Among multiple matches the most specific rollup (fewest extra
dimensions, coarsest sufficient granularity) wins — scanning less data
is the whole point at 100 TB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sidemantic_spark.core.model import Metric, Model

GRAIN_ORDER = ["second", "minute", "hour", "day", "week", "month", "quarter", "year"]
# week cannot be derived from month etc.; derivable pairs are those on
# the same rollup chain
_DERIVABLE = {
    "second": {"second", "minute", "hour", "day", "month", "quarter", "year", "week"},
    "minute": {"minute", "hour", "day", "month", "quarter", "year", "week"},
    "hour": {"hour", "day", "month", "quarter", "year", "week"},
    "day": {"day", "week", "month", "quarter", "year"},
    "week": {"week"},
    "month": {"month", "quarter", "year"},
    "quarter": {"quarter", "year"},
    "year": {"year"},
}


@dataclass
class RefreshKey:
    """Refresh policy for a rollup (reference ``core/pre_aggregation.py:
    16-24``): ``every`` interval / trigger ``sql``, and the incremental
    opt-in with its ``update_window`` (how much trailing history each
    incremental pass rewrites — maps onto the manager's dynamic
    partition overwrite)."""

    every: str | None = None
    sql: str | None = None
    incremental: bool = False
    update_window: str | None = None


@dataclass
class PreAggregation:
    """Materialized rollup spec attached to a model."""

    name: str
    measures: list[str] = field(default_factory=list)  # metric names on the owning model
    dimensions: list[str] = field(default_factory=list)
    time_dimension: str | None = None
    granularity: str = "day"
    partition_granularity: str | None = None  # partition column grain
    # rollup_join: a rollup whose ``dimensions`` include raw join-key
    # columns, servable for queries grouping by a joined model's dims
    # (ref sql/generator.py:6613-6844 join-key route);
    # original_sql: stage the model's base query verbatim as a table —
    # never routed for metric queries (ref core/preagg_matcher.py:114)
    type: str = "rollup"  # rollup | rollup_join | original_sql | lambda
    sql: str | None = None  # original_sql: override the staged base query
    lambda_boundary_grain: str | None = None  # lambda: fresh-data split
    lambda_boundary_sql: str | None = None  # override boundary expr (default: trunc(now))
    # Spark-native extension (no reference analog — their sink is a
    # plain CREATE TABLE AS): hash-bucket the rollup on join/group keys
    # so rollup-rollup joins and re-aggregations on those keys are
    # exchange-free at any scale (indexes in the reference,
    # core/pre_aggregation.py:27, map to this on Spark)
    bucket_by: list[str] = field(default_factory=list)
    buckets: int = 0
    # refresh policy + build bounds (reference core/pre_aggregation.py:
    # 16-24,60-90): refresh_key drives full-vs-incremental resolution,
    # build_range_* bound what the materialization scans, and
    # scheduled_refresh marks the rollup for the refresh scheduler.
    # The reference's `indexes` map onto bucket_by above (bucketed
    # layout is the Spark analog of a rollup index).
    refresh_key: RefreshKey | None = None
    build_range_start: str | None = None  # SQL expr (time lower bound)
    build_range_end: str | None = None  # SQL expr (time upper bound)
    scheduled_refresh: bool = False

    def __post_init__(self) -> None:
        # the name lands verbatim in physical table identifiers that are
        # interpolated into DDL/FROM clauses — reject anything that is
        # not a plain identifier (reference
        # test_preagg_injection_in_preagg_name_rejected)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", self.name or ""):
            raise ValueError(
                f"invalid pre-aggregation name {self.name!r}: must be a "
                "plain SQL identifier"
            )

    def physical_name(self, model_name: str) -> str:
        # the model side of the identifier is validated too: a model
        # name that is not an identifier cannot become a table name
        # (reference test_preagg_injection_in_model_name_rejected)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", model_name or ""):
            raise ValueError(
                f"invalid model name {model_name!r} for pre-aggregation "
                "table: must be a plain SQL identifier"
            )
        return f"{model_name}_preagg_{self.name}"


@dataclass
class PreAggMatch:
    preagg: PreAggregation
    model: str
    # query-dim name -> (rollup column, grain to re-truncate to or None)
    dim_map: dict
    specificity: int


def grain_derivable(rollup_grain: str, query_grain: str) -> bool:
    return query_grain in _DERIVABLE.get(rollup_grain, set())


def match_preagg(
    model: Model,
    metric_names: list[str],
    dims: list[tuple[str, str | None]],  # (dim name, grain or None)
    filter_dims: list[tuple],  # (name, grain, aligned grains) per filter field
    raw_columns: list[str] | None = None,  # join keys the rollup must store
    report: list[dict] | None = None,
    rollups: list[PreAggregation] | None = None,
) -> PreAggMatch | None:
    """Best matching rollup for a single-model query, or None: the most
    specific of ``rollups`` (default: all of the model's) that
    ``_try_match`` accepts.  Each rollup is visited once; with
    ``report``, its verdict is appended there as it is visited (the
    reference's ``core/query_plan.py:43`` candidates and checks)."""
    matches: list[PreAggMatch] = []
    if rollups is None:
        rollups = getattr(model, "pre_aggregations", None) or []
    for pa in rollups:
        reasons: list[str] = []
        m = _try_match(model, pa, metric_names, dims, filter_dims, raw_columns or [], reasons)
        if report is not None:
            report.append({
                "name": pa.physical_name(model.name),
                "ok": m is not None,
                "reasons": reasons,
                "specificity": m.specificity if m else None,
            })
        if m is not None:
            matches.append(m)
    return min(matches, key=lambda c: (c.specificity, c.preagg.name), default=None)


def _try_match(
    model: Model,
    pa: PreAggregation,
    metric_names: list[str],
    dims: list[tuple[str, str | None]],
    filter_dims: list[tuple],
    raw_columns: list[str],
    reasons: list[str],
) -> PreAggMatch | None:
    why = reasons.append

    if pa.type not in ("rollup", "rollup_join", "lambda"):
        why(f"type {pa.type!r} is never routed for metric queries")
        return None
    # join keys must be stored verbatim in the rollup's dimension set
    for col in raw_columns:
        if col not in pa.dimensions:
            why(f"join key {col!r} not stored in rollup dimensions")
            return None
    exact_grain = True
    dim_map: dict = {}
    for name, grain in dims:
        dim = model.dimension(name)
        if dim is None:
            why(f"unknown dimension {name!r}")
            return None
        if dim.type == "time" or grain is not None:
            if pa.time_dimension != name:
                why(f"time dimension {name!r} is not the rollup's time dimension")
                return None
            qgrain = grain or pa.granularity
            if not grain_derivable(pa.granularity, qgrain):
                why(
                    f"grain {qgrain!r} not derivable from stored grain "
                    f"{pa.granularity!r}"
                )
                return None
            # keyed by (name, requested_grain): the same time dim can
            # be queried at TWO grains in one query (month + year), and
            # a name-only key silently collapses them onto one rewrite
            # (found by the routing-identity fuzz, round 9)
            if qgrain != pa.granularity:
                exact_grain = False
                dim_map[(name, grain)] = (f"{name}__{pa.granularity}", qgrain)
            else:
                dim_map[(name, grain)] = (f"{name}__{pa.granularity}", None)
        else:
            if name not in pa.dimensions:
                why(f"dimension {name!r} not stored in rollup")
                return None
            dim_map[(name, grain)] = (name, None)

    # unfiltered rollup dims that the query doesn't group by are fine —
    # re-aggregation collapses them; but query filters must hit stored
    # dims
    for fname, fgrain, aligned in filter_dims:
        fdim = model.dimension(fname)
        if fdim is not None and fdim.type == "time":
            if pa.time_dimension != fname:
                why(f"time filter on {fname!r} not coverable by rollup")
                return None
            # the rollup stores the TRUNCATED time column: a filter at
            # a finer grain than the rollup (or a bare comparison whose
            # literal straddles a rollup bucket) would silently change
            # results — e.g. `>= '2024-01-15'` against month buckets
            # drops all of January instead of keeping Jan 15-31
            if fgrain is not None:
                if not grain_derivable(pa.granularity, fgrain):
                    why(
                        f"time filter grain {fgrain!r} finer than rollup "
                        f"granularity {pa.granularity!r}"
                    )
                    return None
            elif aligned is not None and pa.granularity not in aligned:
                why(
                    f"bare time filter literal not aligned to rollup "
                    f"granularity {pa.granularity!r}"
                )
                return None
            continue
        if fname not in pa.dimensions and fname != pa.time_dimension:
            why(f"filter column {fname!r} not stored in rollup")
            return None

    grouped_all = len({n for n, _g in dim_map}) == len(pa.dimensions) + (1 if pa.time_dimension else 0)
    for mname in metric_names:
        metric = model.metric(mname)
        if metric is None or mname not in pa.measures:
            why(f"measure {mname!r} not stored in rollup")
            return None
        if not _derivable(metric, exact_grain and grouped_all):
            why(
                f"measure {mname!r} ({metric.agg}) not derivable at the "
                f"queried grain (exact-grain-only guard)"
            )
            return None

    extra_dims = len(pa.dimensions) - len(raw_columns) - sum(
        1 for name, _ in dims if model.dimension(name) and model.dimension(name).type != "time"
    )
    # an unqueried time dimension is an extra dimension too: a total
    # query picks the total rollup over a day-grain one — scanning one
    # row beats re-aggregating a year of buckets (reference
    # test_preagg_matcher_prefers_total_rollup_over_time_rollup)
    if pa.time_dimension and pa.time_dimension not in {n for n, _g in dim_map}:
        extra_dims += 1
    specificity = max(extra_dims, 0) * 10 + (0 if exact_grain else 1)
    return PreAggMatch(preagg=pa, model=model.name, dim_map=dim_map, specificity=specificity)


def _derivable(metric: Metric, exact_grain: bool) -> bool:
    if not metric.is_simple:
        # ratio/derived over stored components are resolved by the
        # router recursively; reject here, the router expands first
        return False
    if metric.agg in ("sum", "count", "min", "max", "avg"):
        return True
    if metric.agg == "count_distinct":
        # exact-grain only (ref core/preagg_matcher.py:138-143,258-263)
        return exact_grain
    if metric.agg == "approx_count_distinct":
        # stored HLL sketches merge across grains (hll_union_agg);
        # exact grain still passes the stored exact count through
        return True
    return False  # median/stddev/variance: never derivable from partials
