"""Pre-aggregation recommender: query-pattern analysis -> rollup specs.

Re-expression of the reference's ``core/preagg_recommender.py:11-381``:
parse the instrumentation comments of compiled queries (or a layer's
in-memory query log), aggregate (model, metrics, dimensions, grains)
patterns, score them, and emit ready-to-attach ``PreAggregation``
specs. Queries already served by a rollup are excluded so existing
pre-aggregations don't keep re-recommending themselves.

Scoring mirrors the reference's blend (``:207-242``): log-scaled query
frequency (half weight), dimension narrowness (narrow rollups compress
better and serve more queries), and metric consolidation (one rollup
serving several metrics beats several rollups). Names mirror
``:244-291``: ``{model}_{finest_grain}_{dims}_{metric|Nmetrics}`` with
an md5 digest collapsing >2-dimension sets so distinct sets never
collide. The spec builder improves on the reference's name-heuristic
time-dimension guess (``:300-344``): the model's actual dimension
types decide what is time, so a categorical column can never be
declared time-truncated.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from dataclasses import dataclass

from sidemantic_spark.preagg.matcher import PreAggregation
from sidemantic_spark.sql.generator import read_header

_GRAIN_ORDER = ["second", "minute", "hour", "day", "week", "month", "quarter", "year"]


@dataclass(frozen=True)
class QueryPattern:
    model: str
    metrics: frozenset
    dimensions: frozenset  # dimension names on the model
    granularities: frozenset


@dataclass
class PreAggRecommendation:
    pattern: QueryPattern
    preagg: PreAggregation
    query_count: int
    benefit_score: float

    # reference-parity accessors (ref PreAggRecommendation fields and
    # the CLI `preagg recommend` output columns)
    @property
    def suggested_name(self) -> str:
        return self.preagg.name

    @property
    def estimated_benefit_score(self) -> float:
        return self.benefit_score

    @property
    def model(self) -> str:
        return self.pattern.model

    @property
    def measures(self) -> list[str]:
        return list(self.preagg.measures)

    @property
    def dimensions(self) -> list[str]:
        return list(self.preagg.dimensions)

    @property
    def granularity(self) -> str | None:
        return self.preagg.granularity if self.preagg.time_dimension else None


class PreAggregationRecommender:
    def __init__(self, graph, min_query_count: int = 10, min_benefit_score: float = 0.0):
        self.graph = graph
        self.min_query_count = min_query_count
        self.min_benefit_score = min_benefit_score
        self.patterns: Counter = Counter()
        self.queries_seen = 0
        self.queries_matched = 0

    # -- ingestion ----------------------------------------------------

    def parse_query_log(self, queries: list[str]) -> None:
        for q in queries:
            self.queries_seen += 1
            p = self._extract_pattern(q)
            if p is not None:
                self.queries_matched += 1
                self.patterns[p] += 1

    def parse_query_log_file(self, file_path: str) -> None:
        """Queries from a file, one per line or semicolon-separated
        (reference ``parse_query_log_file``)."""
        with open(file_path) as fh:
            content = fh.read()
        stmts: list[str] = []
        for chunk in content.split(";"):
            for line in chunk.splitlines():
                if line.strip():
                    stmts.append(line.strip())
        self.parse_query_log(stmts)

    def record(self, sql: str) -> None:
        self.parse_query_log([sql])

    def _extract_pattern(self, query: str) -> QueryPattern | None:
        parts = read_header(query)
        if parts.get("used_preagg"):
            return None  # already served by a rollup
        models = [x for x in parts.get("models", "").split(",") if x]
        metrics = [x for x in parts.get("metrics", "").split(",") if x]
        dims = [x for x in parts.get("dimensions", "").split(",") if x]
        grains = [x for x in parts.get("granularities", "").split(",") if x]
        if len(models) != 1 or not metrics:
            return None  # multi-model queries can't route to a rollup
        model = models[0]
        if any(not r.startswith(f"{model}.") for r in metrics + dims):
            return None
        return QueryPattern(
            model=model,
            metrics=frozenset(r.split(".", 1)[1] for r in metrics),
            dimensions=frozenset(r.split(".", 1)[1] for r in dims),
            granularities=frozenset(grains),
        )

    # -- recommendation -----------------------------------------------

    def get_recommendations(self, top_n: int | None = None) -> list[PreAggRecommendation]:
        out: list[PreAggRecommendation] = []
        for pattern, count in self.patterns.items():
            if count < self.min_query_count:
                continue
            preagg = self._to_preagg(pattern)
            if preagg is None:
                continue
            score = self._benefit_score(pattern, count)
            if score < self.min_benefit_score:
                continue
            out.append(PreAggRecommendation(pattern, preagg, count, score))
        out.sort(key=lambda r: (-r.benefit_score, -r.query_count, r.preagg.name))
        # the 'Nmetrics' name form collapses distinct metric sets: two
        # same-shaped recommendations would materialize into the SAME
        # physical table and silently overwrite each other — append a
        # stable digest of the metric set to later duplicates
        seen_names: set[str] = set()
        for rec in out:
            if rec.preagg.name in seen_names:
                digest = hashlib.md5(
                    "_".join(sorted(rec.pattern.metrics)).encode()
                ).hexdigest()[:6]
                rec.preagg.name = f"{rec.preagg.name}_{digest}"
            seen_names.add(rec.preagg.name)
        return out[:top_n] if top_n is not None else out

    def get_summary(self) -> dict:
        """Analysis summary (reference ``get_summary``): totals, skip
        counts, per-model traffic, and how many patterns clear BOTH the
        count threshold and the score floor — anything else overstates
        what ``get_recommendations`` will return."""
        model_counts: defaultdict[str, int] = defaultdict(int)
        for pattern, count in self.patterns.items():
            model_counts[pattern.model] += count
        return {
            "total_queries": sum(self.patterns.values()),
            "queries_seen": self.queries_seen,
            "queries_skipped": self.queries_seen - self.queries_matched,
            "unique_patterns": len(self.patterns),
            "models": dict(model_counts),
            "patterns_above_threshold": sum(
                1
                for pattern, count in self.patterns.items()
                if count >= self.min_query_count
                and self._benefit_score(pattern, count) >= self.min_benefit_score
            ),
        }

    def apply(self, recommendation: PreAggRecommendation) -> PreAggregation:
        """Attach the recommended rollup to its model."""
        model = self.graph.get_model(recommendation.pattern.model)
        if any(p.name == recommendation.preagg.name for p in model.pre_aggregations):
            return recommendation.preagg
        model.pre_aggregations.append(recommendation.preagg)
        self.graph._invalidate()
        return recommendation.preagg

    def _generate_name(self, pattern: QueryPattern) -> str:
        """``{model}_{finest_grain}_{dims}_{metric|Nmetrics}`` (reference
        ``_generate_name``): >2-dimension sets collapse to a count plus
        a stable digest so distinct sets never collide, and the model
        prefix keeps same-named fields on different models distinct."""
        parts = [pattern.model.split(".")[-1]] if pattern.model else []
        grains = [g for g in _GRAIN_ORDER if g in pattern.granularities]
        if grains:
            parts.append(grains[0])
        if pattern.dimensions:
            dims = sorted(d.split(".")[-1] for d in pattern.dimensions)
            if len(dims) <= 2:
                parts.extend(dims)
            else:
                digest = hashlib.md5("_".join(dims).encode()).hexdigest()[:6]
                parts.append(f"{len(dims)}dims_{digest}")
        if len(pattern.metrics) == 1:
            parts.append(next(iter(pattern.metrics)).split(".")[-1])
        else:
            parts.append(f"{len(pattern.metrics)}metrics")
        return "_".join(parts) if parts else "rollup"

    def _to_preagg(self, pattern: QueryPattern) -> PreAggregation | None:
        model = self.graph.models.get(pattern.model)
        if model is None:
            return None
        measures, dims, time_dim = [], [], None
        for mname in sorted(pattern.metrics):
            metric = model.metric(mname)
            if metric is None or not metric.is_simple:
                return None  # complex metrics route through other plans
            measures.append(mname)
        for dname in sorted(pattern.dimensions):
            d = model.dimension(dname)
            if d is None:
                return None
            if d.type == "time":
                time_dim = dname
            else:
                dims.append(dname)
        # finest queried grain keeps every observed grain derivable; a
        # pattern with granularities but NO time-typed dimension must
        # not truncate a categorical — the spec stays grain-less (ref
        # test_time_dimension_not_forced_onto_categorical_dimension)
        grain = None
        if time_dim is not None:
            observed = [g for g in _GRAIN_ORDER if g in pattern.granularities]
            grain = observed[0] if observed else "day"
        return PreAggregation(
            name=self._generate_name(pattern),
            measures=measures,
            dimensions=dims,
            time_dimension=time_dim,
            granularity=grain,
            partition_granularity="month" if time_dim else None,
        )

    def _benefit_score(self, pattern: QueryPattern, count: int) -> float:
        """Reference blend (``_calculate_benefit_score``): log-scaled
        frequency x0.5 (saturates ~1M queries), dimension narrowness
        x0.25, metric consolidation x0.25; non-additive measure sets
        take a penalty on top — their rollups serve exact-grain queries
        only, a fraction of the routable traffic."""
        query_score = math.log10(count + 1) / 6.0
        dim_score = max(0.0, 1.0 - len(pattern.dimensions) * 0.1)
        metric_score = min(1.0, 0.25 + len(pattern.metrics) * 0.25)
        score = query_score * 0.5 + dim_score * 0.25 + metric_score * 0.25
        model = self.graph.models.get(pattern.model)
        if model is not None:
            for mname in pattern.metrics:
                metric = model.metric(mname.split(".")[-1])
                if metric is not None and metric.agg in ("count_distinct", "median"):
                    score *= 0.5
                    break
        return round(min(1.0, score), 4)
