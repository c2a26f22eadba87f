"""Pre-aggregation materialization + refresh on Spark.

The reference materializes rollups with ``CREATE TABLE {model}_preagg_
{name} AS SELECT ...`` (``core/pre_aggregation.py:135``) and refreshes
them full/incrementally (``core/preagg_management.py``).  On Spark the
rollup is a partitioned parquet table:

- partitioned by the ``partition_granularity`` bucket of the time
  dimension, so queries with time filters prune partitions and
  incremental refresh is a dynamic partition overwrite
  (``partitionOverwriteMode=dynamic``) touching only changed buckets,
- partial-aggregate columns per measure ({m}__sum, {m}__count,
  {m}__min, {m}__max, {m}__cd) enabling re-aggregation at any coarser
  grain, avg recomposition, and the exact-grain count_distinct guard.

At 100 TB the rollup write is the one big shuffle; everything served
from it afterwards scans orders of magnitude less data.
"""

from __future__ import annotations

import os
import re

from sidemantic_spark.core.model import Model
from sidemantic_spark.preagg.matcher import PreAggregation


class PreAggManager:
    def __init__(self, layer, base_path: str | None = None) -> None:
        if base_path is None:
            base_path = os.environ.get(
                "SIDEMANTIC_SPARK_PREAGG_PATH", "/tmp/sidemantic_spark_preaggs"
            )
        self.layer = layer
        self.base_path = base_path

    # -- SQL builders -------------------------------------------------

    def rollup_sql(self, model: Model, pa: PreAggregation, extra_where: str | None = None,
                   source_override: str | None = None) -> str:
        """Materialization SELECT over the base model table."""
        return rollup_select_sql(model, pa, extra_where, source_override)



    # -- materialize / register / refresh -----------------------------

    def path_for(self, model: Model, pa: PreAggregation) -> str:
        return os.path.join(self.base_path, pa.physical_name(model.name))

    def recommend(self, min_query_count: int = 10, top_n: int | None = None):
        """Rollup recommendations from the layer's query log (reference
        ``core/preagg_recommender.py``, CLI ``preagg recommend``)."""
        from sidemantic_spark.preagg.recommender import PreAggregationRecommender

        rec = PreAggregationRecommender(self.layer.graph, min_query_count=min_query_count)
        rec.parse_query_log(self.layer.query_log)
        return rec.get_recommendations(top_n=top_n)

    def materialize(self, model_name: str, preagg_name: str | None = None) -> list[str]:
        """Build (or rebuild) rollup tables; returns physical names."""
        model = self.layer.graph.get_model(model_name)
        built = []
        for pa in getattr(model, "pre_aggregations", []) or []:
            if preagg_name is not None and pa.name != preagg_name:
                continue
            df = self.layer.spark.sql(self.rollup_sql(model, pa))
            # pk-grain fast path (r13): when the rollup's dimensions
            # cover the model's declared primary key, every GROUP BY
            # group is exactly one base row, so the aggregation is an
            # identity transform — materialize as a pure PROJECTION
            # (scan -> project -> write) instead of paying the full
            # groupBy exchange + two hash aggregates. At 100 TB a
            # pk-carrying rollup build drops its one corpus-wide
            # shuffle. Values and schema are identical by construction
            # (casts are taken from the analyzed aggregate plan's own
            # schema); correctness rests on the pk declaration, which
            # the whole layer already trusts (fan-out handling).
            fast = pk_grain_select_sql(model, pa, df.schema)
            if fast is not None:
                df = self.layer.spark.sql(fast)
            path = self.path_for(model, pa)
            writer = df.write.mode("overwrite")
            if pa.partition_granularity and pa.time_dimension:
                writer = writer.partitionBy("__part")
            if pa.bucket_by and pa.buckets:
                # bucketed layout: joins/aggregations keyed on bucket_by
                # read pre-shuffled, pre-sorted data — no Exchange, no
                # Sort at query time. Requires a catalog table (bucket
                # metadata lives in the catalog, not the files).
                name = pa.physical_name(model.name)
                spark = self.layer.spark
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                (
                    writer.format("parquet")
                    .option("path", path)
                    .bucketBy(pa.buckets, *pa.bucket_by)
                    .sortBy(*pa.bucket_by)
                    .saveAsTable(name)
                )
            else:
                writer.parquet(path)
                self.register_one(model, pa)
            built.append(pa.physical_name(model.name))
        return built

    def register_one(self, model: Model, pa: PreAggregation) -> bool:
        name = pa.physical_name(model.name)
        if pa.bucket_by and pa.buckets:
            # bucketed rollups live in the session catalog; a temp view
            # over the raw files would shadow the table and lose the
            # bucket metadata
            return self.layer.spark.catalog.tableExists(name)
        path = self.path_for(model, pa)
        try:
            df = self.layer.spark.read.parquet(path)
        except Exception:
            return False
        df.createOrReplaceTempView(name)
        return True

    def register_all(self) -> None:
        for model in self.layer.graph.models.values():
            for pa in getattr(model, "pre_aggregations", []) or []:
                self.register_one(model, pa)

    def refresh(self, model_name: str, preagg_name: str, mode: str = "auto") -> str:
        """Policy-driven refresh (reference ``core/preagg_management.py:
        42-55`` resolve_refresh_mode): ``auto`` resolves to incremental
        iff the spec opts in via ``refresh_key.incremental`` — the
        ``update_window`` bounds how much trailing history the dynamic
        partition overwrite rewrites; everything else is a full
        rebuild. Returns the resolved mode."""
        model = self.layer.graph.get_model(model_name)
        pa = next(p for p in model.pre_aggregations if p.name == preagg_name)
        resolved = resolve_refresh_mode(pa, mode)
        if resolved == "incremental":
            window = (pa.refresh_key.update_window if pa.refresh_key else None) or "7 day"
            m = re.fullmatch(r"\s*(\d+)\s+(day|week|month|quarter|year)s?\s*", window, re.I)
            if not m:
                raise ValueError(
                    f"pre-aggregation {preagg_name!r}: unsupported "
                    f"update_window {window!r}"
                )
            n, unit = int(m.group(1)), m.group(2).lower()
            if unit == "quarter":
                n, unit = 3 * n, "month"
            self.refresh_incremental(
                model_name, preagg_name,
                f"CURRENT_TIMESTAMP - INTERVAL '{n}' {unit.upper()}",
            )
        else:
            self.materialize(model_name, preagg_name)
        return resolved

    def refresh_incremental(self, model_name: str, preagg_name: str, since_sql: str) -> None:
        """Rebuild only partitions where the partition bucket >= the
        given SQL timestamp expression (dynamic partition overwrite:
        untouched history stays as-is)."""
        model = self.layer.graph.get_model(model_name)
        pa = next(
            p for p in model.pre_aggregations if p.name == preagg_name
        )
        if not (pa.partition_granularity and pa.time_dimension):
            return self.materialize(model_name, preagg_name) and None
        if pa.bucket_by:
            # a plain partitioned parquet overwrite would destroy the
            # bucketed file layout while the catalog still advertises
            # bucket metadata (wrong joins under bucket-based Exchange
            # elimination) — rematerialize through the bucketed writer
            return self.materialize(model_name, preagg_name) and None
        inner = self.rollup_sql(model, pa)
        df = self.layer.spark.sql(
            f"SELECT * FROM (\n{inner}\n) WHERE __part >= CAST({since_sql} AS DATE)"
        )
        # a writer option, not the session conf: a concurrent overwrite
        # elsewhere keeps its own (static) mode
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__part").parquet(self.path_for(model, pa))
        self.register_one(model, pa)


def resolve_refresh_mode(pa, requested: str | None = "auto") -> str:
    """``auto`` -> incremental iff ``refresh_key.incremental`` (reference
    ``core/preagg_management.py:42-55``); explicit modes validate."""
    normalized = (requested or "auto").lower()
    if normalized == "auto":
        rk = getattr(pa, "refresh_key", None)
        return "incremental" if rk is not None and rk.incremental else "full"
    if normalized not in {"full", "incremental"}:
        raise ValueError(
            f"invalid refresh mode {requested!r}: expected auto, full, "
            "or incremental"
        )
    return normalized


_DOTTED_REF_RE = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b")


def _local_metric_filter(f: str, model: Model) -> str:
    """Metric-filter SQL rewritten for the raw single-table scan the
    materialization runs: ``model.field`` refs become the dimension's
    expression (or the bare column); a ref to ANY other model is
    rejected — the rollup scans one table and cannot evaluate it."""
    from sidemantic_spark.sql.fragments import LITERALS, replace_refs, segments

    def sub(_m: str, fld: str, g: str | None) -> str:
        dim = model.dimension(fld)
        expr = dim.expr if dim is not None else fld
        return f"DATE_TRUNC('{g}', {expr})" if g else expr

    out = replace_refs(f, {model.name}, sub)
    for seg, literal in segments(out, LITERALS):
        if literal:
            continue
        leftover = _DOTTED_REF_RE.search(seg)
        if leftover:
            raise ValueError(
                f"pre-aggregation measure filter references "
                f"{leftover.group(0)!r}, which is not on model "
                f"{model.name!r}; cross-model filters cannot be baked "
                "into a rollup"
            )
    return out


def pk_grain_select_sql(model: Model, pa: PreAggregation, schema,
                        extra_where: str | None = None,
                        source_override: str | None = None) -> str | None:
    """Single-row-equivalent projection for a PK-grain rollup, or None
    when the fast path does not apply.

    Applies when every primary-key column appears verbatim among the
    rollup's dimension expressions: the GROUP BY then has exactly one
    row per group, so each partial-aggregate column reduces to a scalar
    of the row — SUM(e) -> e, COUNT(e) -> IF(e IS NULL, 0, 1),
    COUNT(*) -> 1, MIN/MAX(e) -> e, COUNT(DISTINCT e) -> the COUNT
    form. ``schema`` must be the analyzed schema of the GROUP BY form
    (``rollup_select_sql``): every output is cast to that exact type,
    so the materialized table is byte-compatible with the aggregate
    (SUM's engine type promotion included). approx_count_distinct
    measures keep the GROUP BY form (an HLL sketch of one element has
    no scalar constructor). NULL semantics match: SUM/MIN/MAX over the
    single row are the value itself (NULL included), COUNT is 0 for
    NULL. Column list and order mirror ``rollup_select_sql`` — the
    name-by-name zip against ``schema`` below asserts that pairing."""
    if pa.type == "original_sql":
        return None
    pk = model.primary_key
    pk_cols = [pk] if isinstance(pk, str) else list(pk or [])
    if not pk_cols:
        return None
    dim_exprs = set()
    for dname in pa.dimensions:
        dim = model.dimension(dname)
        if dim is not None and dim.window:
            return None
        dim_exprs.add((dim.expr if dim else None) or dname)
    if not all(c in dim_exprs for c in pk_cols):
        return None
    cols: list[tuple[str, str]] = []  # (output name, single-row expr)
    for dname in pa.dimensions:
        dim = model.dimension(dname)
        expr = (dim.expr if dim else None) or dname
        cols.append((dname, expr))
    if pa.time_dimension:
        tdim = model.dimension(pa.time_dimension)
        if tdim is not None and tdim.window:
            return None
        texpr = tdim.expr if tdim else pa.time_dimension
        cols.append((
            f"{pa.time_dimension}__{pa.granularity}",
            f"DATE_TRUNC('{pa.granularity}', {texpr})",
        ))
        if pa.partition_granularity:
            cols.append((
                "__part",
                f"CAST(DATE_TRUNC('{pa.partition_granularity}', {texpr}) AS DATE)",
            ))
    for mname in pa.measures:
        metric = model.metric(mname)
        if metric is None or not metric.is_simple:
            return None
        if metric.agg == "approx_count_distinct":
            return None  # sketch column needs the aggregate form
        expr = model.metric_value_sql(metric) or "1"
        if metric.filters:
            cond = " AND ".join(
                f"({_local_metric_filter(f, model)})" for f in metric.filters
            )
            expr = f"CASE WHEN {cond} THEN {expr} ELSE NULL END"
            count_star = f"(CASE WHEN {cond} THEN 1 ELSE 0 END)"
        else:
            count_star = "1"
        nn_count = f"(CASE WHEN ({expr}) IS NULL THEN 0 ELSE 1 END)"
        if metric.agg in ("sum", "avg"):
            cols.append((f"{mname}__sum", expr))
            cols.append((f"{mname}__count", nn_count))
        elif metric.agg == "count":
            cols.append((f"{mname}__count", nn_count if metric.sql else count_star))
        elif metric.agg == "min":
            cols.append((f"{mname}__min", expr))
        elif metric.agg == "max":
            cols.append((f"{mname}__max", expr))
        elif metric.agg == "count_distinct":
            cols.append((f"{mname}__cd", nn_count))
        else:
            return None
    cols.append(("__row_count", "1"))
    if [n for n, _ in cols] != [f.name for f in schema.fields]:
        # pairing drifted from rollup_select_sql — refuse the fast path
        # rather than risk a mis-typed column
        return None
    sel = ",\n    ".join(
        f"CAST(({e}) AS {f.dataType.simpleString()}) AS {n}"
        for (n, e), f in zip(cols, schema.fields)
    )
    source = source_override or model.table or (
        f"({model.sql})" if model.sql else None
    )
    if source is None and model.source_uri:
        source = model.name
    if source is None:
        return None
    sql = f"SELECT\n    {sel}\nFROM {source}"
    where = list(model.row_filters)
    if extra_where:
        where.append(extra_where)
    if pa.time_dimension and (pa.build_range_start or pa.build_range_end):
        tdim = model.dimension(pa.time_dimension)
        texpr = tdim.expr if tdim else pa.time_dimension
        if pa.build_range_start:
            where.append(f"{texpr} >= ({pa.build_range_start})")
        if pa.build_range_end:
            where.append(f"{texpr} < ({pa.build_range_end})")
    if where:
        sql += "\nWHERE " + " AND ".join(f"({w})" for w in where)
    return sql


def rollup_select_sql(model: Model, pa: PreAggregation, extra_where: str | None = None,
                      source_override: str | None = None) -> str:
    """Module-level rollup SELECT builder (also used by the router's
    lambda union-with-fresh branch, which has no manager instance)."""
    if pa.type == "original_sql":
        # stage the base query verbatim — no grouping, no partials
        # (ref core/pre_aggregation.py:162-166); a derived model's
        # expensive SQL then materializes once instead of re-running
        # inside every query
        if pa.sql:
            return pa.sql
        source = model.table or (f"({model.sql})" if model.sql else None)
        if source is None:
            raise ValueError(f"model {model.name!r} has no table binding")
        select = "*"
        if pa.partition_granularity and pa.time_dimension:
            tdim = model.dimension(pa.time_dimension)
            texpr = tdim.expr if tdim else pa.time_dimension
            select = (
                f"*,\n    CAST(DATE_TRUNC('{pa.partition_granularity}', {texpr}) AS DATE)"
                " AS __part"
            )
        sql = f"SELECT {select} FROM {source}"
        where = list(model.row_filters)
        if extra_where:
            where.append(extra_where)
        if where:
            sql += "\nWHERE " + " AND ".join(f"({w})" for w in where)
        return sql
    cols: list[str] = []
    group: list[str] = []
    for dname in pa.dimensions:
        dim = model.dimension(dname)
        if dim is not None and dim.window:
            # a window-function dimension cannot appear in a GROUP BY
            # materialization (reference
            # test_generate_materialization_sql_rejects_window_dimension)
            raise ValueError(
                f"pre-aggregation dimension {dname!r} uses a window "
                "function and cannot be materialized in a rollup"
            )
        expr = dim.expr if dim else dname
        cols.append(f"{expr} AS {dname}")
        group.append(expr)
    if pa.time_dimension:
        tdim = model.dimension(pa.time_dimension)
        if tdim is not None and tdim.window:
            raise ValueError(
                f"pre-aggregation time dimension {pa.time_dimension!r} "
                "uses a window function and cannot be materialized"
            )
        texpr = tdim.expr if tdim else pa.time_dimension
        tcol = f"DATE_TRUNC('{pa.granularity}', {texpr})"
        cols.append(f"{tcol} AS {pa.time_dimension}__{pa.granularity}")
        group.append(tcol)
        if pa.partition_granularity:
            pcol = f"DATE_TRUNC('{pa.partition_granularity}', {texpr})"
            cols.append(f"CAST({pcol} AS DATE) AS __part")
            group.append(f"CAST({pcol} AS DATE)")
    for mname in pa.measures:
        metric = model.metric(mname)
        if metric is None or not metric.is_simple:
            raise ValueError(f"pre-aggregation measure {mname!r} must be a simple metric")
        expr = model.metric_value_sql(metric) or "1"
        agg = metric.agg
        # metric-level filters BAKE into the partial state (reference
        # test_total_rollup_materializes_filtered_metrics_without_empty_
        # group_by): the stored sums/counts are pre-filtered, so routing
        # reads them without re-evaluating the filter.  Filters must
        # reference only the owning model (the materialization scans one
        # table); the router enforces the same on the query side.
        if metric.filters:
            cond = " AND ".join(
                f"({_local_metric_filter(f, model)})" for f in metric.filters
            )
            expr = f"CASE WHEN {cond} THEN {expr} ELSE NULL END"
            count_star = f"COUNT(CASE WHEN {cond} THEN 1 ELSE NULL END)"
        else:
            count_star = "COUNT(*)"
        if agg in ("sum", "avg"):
            cols.append(f"SUM({expr}) AS {mname}__sum")
            cols.append(f"COUNT({expr}) AS {mname}__count")
        elif agg == "count":
            if metric.sql:
                cols.append(f"COUNT({expr}) AS {mname}__count")
            else:
                cols.append(f"{count_star} AS {mname}__count")
        elif agg == "min":
            cols.append(f"MIN({expr}) AS {mname}__min")
        elif agg == "max":
            cols.append(f"MAX({expr}) AS {mname}__max")
        elif agg == "count_distinct":
            cols.append(f"COUNT(DISTINCT {expr}) AS {mname}__cd")
        elif agg == "approx_count_distinct":
            # exact value for exact-grain passthrough PLUS a
            # mergeable HLL sketch (Spark hll_sketch_agg) so the
            # metric re-aggregates at ANY coarser grain — the
            # reference can't do this (exact-grain guard
            # core/preagg_matcher.py:138); sketches are the
            # Spark-first improvement SURVEY.md §7 suggests
            cols.append(f"COUNT(DISTINCT {expr}) AS {mname}__cd")
            cols.append(f"hll_sketch_agg({expr}) AS {mname}__hll")
        else:
            raise ValueError(
                f"measure {mname!r} ({agg}) has no partial-aggregate decomposition"
            )
    cols.append("COUNT(*) AS __row_count")
    source = source_override or model.table or (
        f"({model.sql})" if model.sql else None
    )
    if source is None and model.source_uri:
        # file-backed models are registered as temp views under their
        # own name (layer.register_sources)
        source = model.name
    if source is None:
        raise ValueError(f"model {model.name!r} has no table binding")
    sql = "SELECT\n    " + ",\n    ".join(cols) + f"\nFROM {source}"
    where = list(model.row_filters)
    if extra_where:
        where.append(extra_where)
    # build-range bounds (reference core/pre_aggregation.py:60-66):
    # the materialization scans only the declared time range — at
    # 100 TB this is the difference between a bounded backfill and a
    # full-history rebuild
    if pa.time_dimension and (pa.build_range_start or pa.build_range_end):
        tdim = model.dimension(pa.time_dimension)
        texpr = tdim.expr if tdim else pa.time_dimension
        if pa.build_range_start:
            where.append(f"{texpr} >= ({pa.build_range_start})")
        if pa.build_range_end:
            where.append(f"{texpr} < ({pa.build_range_end})")
    if where:
        sql += "\nWHERE " + " AND ".join(f"({w})" for w in where)
    if group:
        # a TOTAL rollup (no dims, no time dim) is a global aggregate:
        # emitting an empty GROUP BY would be a syntax error (reference
        # test_total_rollup_materializes_..._without_empty_group_by)
        sql += "\nGROUP BY " + ", ".join(group)
    return sql
