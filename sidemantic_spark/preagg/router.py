"""Transparent rollup routing: rewrite a semantic query to scan a
materialized pre-aggregation instead of the base table.

Re-expression of the reference's aggregate-awareness path
(``sql/generator.py:6988-7217`` query-from-rollup generation with
re-aggregation: ``SUM({m}__sum)``, avg = SUM(sum)/SUM(count),
count_distinct exact-grain passthrough).  Nothing in OSS Spark does
this natively (SURVEY.md §4), so it lives pre-compile, as in the
reference.
"""

from __future__ import annotations

import re

import datetime as _dt

from sidemantic_spark.core.model import Metric
from sidemantic_spark.preagg.matcher import PreAggMatch, match_preagg
from sidemantic_spark.sql.fragments import find_refs, replace_refs, split_conjuncts

_TIME_LIT_RE = re.compile(
    r"(>=|<=|<|>|=)\s*(?:TIMESTAMP|DATE)?\s*'([^']+)'", re.IGNORECASE
)


def _aligned_grains(conj: str) -> set[str]:
    """Grains whose truncation leaves the compared literal unchanged —
    the condition under which a range comparison against a TRUNCATED
    column is exact.  Only ``>=`` and ``<`` qualify: for an aligned
    literal B, ``ts >= B`` ≡ ``trunc(ts) >= B`` and ``ts < B`` ≡
    ``trunc(ts) < B``, but ``ts <= B`` against truncated buckets keeps
    the ENTIRE bucket starting at B (ts in (B, B+grain) leaks in) and
    ``ts > B`` symmetrically drops that partial bucket.  Equality never
    qualifies (a truncated column matches the whole bucket, not the
    instant)."""
    m = _TIME_LIT_RE.search(conj)
    if not m:
        return set()
    op, lit = m.group(1), m.group(2)
    if op not in (">=", "<"):
        return set()
    try:
        dt = _dt.datetime.fromisoformat(lit.replace(" ", "T"))
    except ValueError:
        return set()
    out: set[str] = set()
    if dt.microsecond == 0:
        out.add("second")
        if dt.second == 0:
            out.add("minute")
            if dt.minute == 0:
                out.add("hour")
                if dt.hour == 0:
                    out.add("day")
                    if dt.weekday() == 0:
                        out.add("week")
                    if dt.day == 1:
                        out.add("month")
                        if dt.month in (1, 4, 7, 10):
                            out.add("quarter")
                        if dt.month == 1:
                            out.add("year")
    return out


def try_route(gen, r) -> str | None:
    """Serve the resolved query from a rollup if one matches.

    This pass is the only routing decision, and it records itself on
    ``r.route`` as it goes: ``eligible`` (every gate passed and the
    rollups were matched), ``reason`` (the gate that refused),
    ``candidates`` (each visited rollup's verdict, from the matcher's
    one visit) and ``used`` (the rollup the SQL scans).
    ``explain_plan`` reports that record."""
    r.route = {"eligible": False, "reason": None, "candidates": [], "used": None}
    if r.spec.with_totals:
        return _refuse(r, "with_totals queries never route")
    if r.spec.timezone:
        # rollups are materialized with UTC-truncated buckets; serving a
        # timezone query from one would silently return UTC day/month
        # boundaries — bucket live in the requested zone instead
        # (ref tests/dates/test_query_timezone.py:63-120)
        return _refuse(r, "timezone queries bucket live: rollups store UTC buckets")
    if r.spec.ungrouped and r.hops:
        # drill-to-detail routes only to a PK-carrying rollup of the
        # base model
        return _refuse(r, "ungrouped queries route only without joins")
    # rollups are materialized WITHOUT user context: static
    # model.row_filters are baked in at materialization (manager.py:166),
    # but a user-dependent SecurityPolicy cannot be — serving a scoped
    # query from an unscoped rollup would leak other tenants' aggregates,
    # and the routed plan would also skip the access gate. The join
    # route's REMOTE side scans the raw source and applies its policy
    # live (_build_join_sql), so only the rollup-owning fact model
    # disqualifies (ref tests/core/test_security_enforcement.py:239)
    owners = sorted({rm.model for rm in r.metrics} if r.hops else {r.base})
    for name in owners:
        if getattr(gen.graph.get_model(name), "security", None) is not None:
            return _refuse(r, f"model {name!r} has a security policy; "
                              "rollups are materialized without user context")
    if not any(getattr(gen.graph.get_model(n), "pre_aggregations", None) for n in owners):
        return _refuse(r, "the queried model declares no pre-aggregations")
    if r.spec.ungrouped:
        return _try_ungrouped_route(gen, r)
    if r.hops:
        return _try_join_route(gen, r)
    model = gen.graph.get_model(r.base)
    comp_names = _component_names(gen, r)
    if comp_names is None:
        return None
    filter_dims = _filter_dims(gen, r, model, _conjuncts(r))
    if filter_dims is None:
        return None
    dims = [(rd.name, rd.grain) for rd in r.dims]
    r.route["eligible"] = True
    match = match_preagg(model, comp_names, dims, filter_dims, report=r.route["candidates"])
    return None if match is None else _build_sql(gen, r, match)


def _refuse(r, reason: str) -> None:
    """Record why the route was refused; the caller returns None."""
    r.route["reason"] = reason
    return None


def _conjuncts(r) -> list[str]:
    return [conj for f in r.spec.filters for conj in split_conjuncts(f)]


def _filter_dims(gen, r, model, conjuncts: list[str]) -> list[tuple] | None:
    """The ``(name, grain, aligned_grains)`` filter dims the matcher
    checks for ``conjuncts`` over ``model``'s own fields (metric
    references are skipped), or None — with the reason recorded — when
    a conjunct references another model or compares more than one time
    field (an unanalyzable range)."""
    known = set(gen.graph.models)
    out: list[tuple] = []
    for conj in conjuncts:
        refs = find_refs(conj, known)
        other = next((m for m, _f, _g in refs if m != model.name), None)
        if other is not None:
            return _refuse(r, f"filter references joined model {other!r}")
        times = [
            fld for _m, fld, _g in refs
            if (d := model.dimension(fld)) is not None and d.type == "time"
        ]
        if len(times) > 1:
            return _refuse(r, f"filter {conj!r} compares more than one time field")
        for _m, fld, g in refs:
            if model.metric(fld) is not None:
                continue
            if fld in times:
                out.append((fld, g, _aligned_grains(conj)))
            else:
                out.append((fld, None, None))
    return out


def _component_names(gen, r) -> list[str] | None:
    """Expand ratio/derived metrics into their simple components, or
    refuse (None, reason recorded) when a metric is not routable: a
    windowed/special metric disqualifies routing.  Metric-level filters
    that reference only the OWNING model are fine — the materialization
    bakes them into the stored partials (reference
    test_total_rollup_materializes_filtered_metrics_without_empty_group_by)
    — but a filter touching another model cannot be baked and refuses.
    Derived metrics containing ``all(...)`` window totals are likewise
    refused: ``all`` is a SQL keyword so ``_metric_reagg_sql`` would
    leave the call un-substituted and emit invalid ``all((SUM(x__sum)))``
    SQL (mirrors the fan-out dedup plan's guard)."""
    known = set(gen.graph.models)
    comp_names: list[str] = []
    for rm in r.metrics:
        name = f"{rm.model}.{rm.metric.name}"
        if rm.metric.type in ("cumulative", "time_comparison", "conversion", "retention", "cohort"):
            return _refuse(r, f"metric {name!r} is a {rm.metric.type} metric")
        if rm.metric.non_additive_dimension:
            return _refuse(r, f"metric {name!r} is semi-additive")
        if _has_window_total(gen, rm.model, rm.metric):
            return _refuse(r, f"metric {name!r} uses an all(...) window total")
        for _out, comp in gen._expand_components(rm):
            for flt in comp.filters:
                if any(m != rm.model for m, _f, _g in find_refs(flt, known)):
                    return _refuse(r, f"metric {name!r} has a filter on another model")
            if comp.name not in comp_names:
                comp_names.append(comp.name)
    return comp_names


def _has_window_total(gen, model_name: str, metric: Metric, depth: int = 0) -> bool:
    """True when ``metric`` (or any ratio leg / derived child) uses the
    BSL ``all(...)`` window-total form, which is not re-aggregable from
    rollup partials."""
    from sidemantic_spark.sql.generator import _ALL_RE, _identifiers, _qualify

    if depth > 10:
        return True  # cycle: refuse routing, the generator will report
    if _ALL_RE.search(metric.expr or "") or _ALL_RE.search(metric.sql or ""):
        return True
    children: list[str] = []
    if metric.type == "ratio":
        children = [leg for leg in (metric.numerator, metric.denominator) if leg]
    elif metric.type == "derived":
        children = list(_identifiers(metric.expr or ""))
    for name in children:
        try:
            _, child = gen._lookup_metric(_qualify(name, model_name))
        except Exception:
            continue
        if _has_window_total(gen, model_name, child, depth + 1):
            return True
    return False


def _try_ungrouped_route(gen, r) -> str | None:
    """Ungrouped (drill-to-detail) routing: a rollup that stores the
    model's full primary key (every pk column appears as a stored
    dimension, matched by name or by the dimension's expression) has
    one row per base row, so the stored sum/count/min/max partials ARE
    the per-row raw values — select them directly with no GROUP BY and
    no re-aggregation (reference
    tests/optimizations/test_pre_aggregations.py
    ``test_ungrouped_routes_to_pk_carrying_rollup`` and the bail cases:
    avg, approx_count_distinct, metric filters, partial composite pk,
    keyless models).

    At 100 TB this serves drill-to-detail pages from the bucketed
    rollup instead of re-scanning the raw fact table."""
    model = gen.graph.get_model(r.base)
    if model.primary_key is None:
        # an empty key set is not evidence that an aggregate rollup
        # preserves detail rows (ref test_ungrouped_keyless_model)
        return _refuse(r, "ungrouped query, model has no declared primary "
                          "key for unique rows")
    for rm in r.metrics:
        m = rm.metric
        # avg is not a per-row value from (sum, count) state under
        # detail semantics; approx/count_distinct likewise bail
        if (not m.is_simple or m.filters or m.non_additive_dimension
                or m.agg not in ("sum", "count", "min", "max")):
            return _refuse(r, f"ungrouped query: metric {m.name!r} has no "
                              "per-row value in a rollup")
    conjuncts = _conjuncts(r)
    known = set(gen.graph.models)
    if any(model.metric(fld) is not None
           for conj in conjuncts for _m, fld, _g in find_refs(conj, known)):
        return _refuse(r, "ungrouped query: metric filters bail to raw")
    filter_dims = _filter_dims(gen, r, model, conjuncts)
    if filter_dims is None:
        return None
    pks = model.pk_list()
    covering = [
        pa for pa in model.pre_aggregations
        # lambda's fresh-union math targets aggregates
        if pa.type in ("rollup", "rollup_join") and all(
            any(d == c or ((dim := model.dimension(d)) is not None and dim.expr == c)
                for d in pa.dimensions)
            for c in pks
        )
    ]
    if not covering:
        return _refuse(r, "ungrouped query: no rollup stores the model's "
                          "full primary key")
    dims = [(rd.name, rd.grain) for rd in r.dims]
    r.route["eligible"] = True
    match = match_preagg(
        model, [rm.metric.name for rm in r.metrics], dims, filter_dims,
        report=r.route["candidates"], rollups=covering,
    )
    return None if match is None else _build_ungrouped_sql(gen, r, match)


def _build_ungrouped_sql(gen, r, match: PreAggMatch) -> str:
    model = gen.graph.get_model(r.base)
    pa = match.preagg
    physical = pa.physical_name(model.name)
    _PARTIAL = {"sum": "__sum", "count": "__count", "min": "__min", "max": "__max"}

    select: list[str] = []
    for rd in r.dims:
        col, regrain = match.dim_map[(rd.name, rd.grain)]
        expr = f"DATE_TRUNC('{regrain}', {col})" if regrain else col
        select.append(f"{expr} AS {rd.out}")
    for rm in r.metrics:
        m = rm.metric
        expr = f"{m.name}{_PARTIAL[m.agg]}"
        if m.fill_nulls_with is not None:
            expr = f"COALESCE({expr}, {m.fill_nulls_with})"
        select.append(f"{expr} AS {rm.out}")

    known = set(gen.graph.models)
    rollup_col = _rollup_col(model, match)
    where = [replace_refs(conj, known, rollup_col) for conj in _conjuncts(r)]
    sql = "SELECT\n    " + ",\n    ".join(select) + f"\nFROM {physical}"
    if where:
        sql += "\nWHERE " + "\n  AND ".join(f"({w})" for w in where)
    sql += gen._order_limit(r)
    return f"{_header(r, r.base, 'preagg-ungrouped', physical)}\n{sql}"


def _try_join_route(gen, r) -> str | None:
    """Join-key rollup route (ref ``sql/generator.py:6613-6844``): a
    query whose metrics live on one model and whose extra dimensions
    come from ONE other model reachable via a single many_to_one hop can
    be served by a rollup that stores the join-key columns — scan the
    rollup, join the (small) dimension table on fk=pk, re-aggregate at
    the requested grain.

    At 100 TB this is the canonical star-schema shape: the rollup is
    orders of magnitude smaller than the fact table and the dimension
    side stays broadcast-sized, so the routed plan replaces a full fact
    shuffle with a broadcast hash join over the rollup."""
    metric_models = {rm.model for rm in r.metrics}
    if len(metric_models) != 1:
        return _refuse(r, "join-key route needs metrics from one model")
    fact_name = next(iter(metric_models))
    fact = gen.graph.get_model(fact_name)
    remote_models = {rd.model for rd in r.dims} - {fact_name}
    if len(remote_models) != 1 or len(r.hops) != 1:
        return _refuse(r, "join-key route needs the dimensions of exactly "
                          "one joined model, one join away")
    remote_name = next(iter(remote_models))
    remote = gen.graph.get_model(remote_name)
    rel = next(
        (
            rel
            for rel in fact.relationships
            if rel.name == remote_name and rel.type == "many_to_one"
        ),
        None,
    )
    if rel is None:
        return _refuse(r, f"join-key route needs a many_to_one relationship "
                          f"{fact_name!r} -> {remote_name!r}")
    fks = rel.fk_list()
    pks = rel.pk_list(remote.pk_list())
    if not fks or len(fks) != len(pks):
        return _refuse(r, "join-key route needs matching foreign and primary keys")

    comp_names = _component_names(gen, r)
    if comp_names is None:
        return None

    local_dims = [(rd.name, rd.grain) for rd in r.dims if rd.model == fact_name]
    known = set(gen.graph.models)
    local_filters: list[str] = []
    remote_filters: list[str] = []
    metric_filters: list[str] = []
    for conj in _conjuncts(r):
        refs = find_refs(conj, known)
        ref_models = {m for m, _f, _g in refs}
        if any(fact.metric(fld) is not None for m, fld, _g in refs if m == fact_name):
            metric_filters.append(conj)
        elif ref_models <= {fact_name}:
            local_filters.append(conj)
        elif ref_models <= {remote_name}:
            remote_filters.append(conj)
        else:
            return _refuse(r, f"filter {conj!r} mixes models")
    local_filter_dims = _filter_dims(gen, r, fact, local_filters)
    if local_filter_dims is None:
        return None

    r.route["eligible"] = True
    match = match_preagg(fact, comp_names, local_dims, local_filter_dims,
                         raw_columns=fks, report=r.route["candidates"])
    if match is None:
        return None
    if match.preagg.type == "lambda":
        return _refuse(r, f"best match {match.preagg.name!r} is a lambda "
                          "rollup, which the join-key route does not serve")
    return _build_join_sql(
        gen, r, match, fact, remote, fks, pks,
        local_filters, remote_filters, metric_filters,
    )


def _build_join_sql(
    gen, r, match, fact, remote, fks, pks,
    local_filters, remote_filters, metric_filters,
) -> str:
    pa = match.preagg
    physical = pa.physical_name(fact.name)
    remote_cte = f"{remote.name}_cte"
    rollup_cte = f"{fact.name}_rollup"
    rollup_col = _rollup_col(fact, match)
    known = set(gen.graph.models)

    # remote CTE: project remote dim exprs + pk columns, apply remote
    # filters and row-level security on the raw scan (pre-join)
    remote_sel: dict[str, str] = {}
    for rd in r.dims:
        if rd.model == remote.name:
            remote_sel[rd.out] = rd.expr
    pk_aliases = [f"__pk_{i}" for i in range(len(pks))]
    for alias, pk in zip(pk_aliases, pks):
        remote_sel[alias] = pk
    remote_source = remote.table or (f"({remote.sql})" if remote.sql else remote.name)
    remote_where = [
        replace_refs(
            conj,
            known,
            lambda m, fld, g: (
                f"DATE_TRUNC('{g}', {remote.dimension(fld).expr})"
                if g
                else remote.dimension(fld).expr
            )
            if remote.dimension(fld) is not None
            else fld,
        )
        for conj in remote_filters
    ]
    remote_where += list(remote.row_filters)
    policy = getattr(remote, "security", None)
    if policy is not None:
        policy.check_access(remote.name, r.spec.user)
        remote_where += policy.rendered_row_filters(remote.name, r.spec.user)
    remote_sql = "SELECT " + ", ".join(
        expr if expr == alias else f"{expr} AS {alias}"
        for alias, expr in remote_sel.items()
    ) + f" FROM {remote_source}"
    if remote_where:
        remote_sql += " WHERE " + " AND ".join(f"({w})" for w in remote_where)

    rollup_where = [
        replace_refs(c, known, rollup_col) for c in local_filters
    ]
    rollup_sql = f"SELECT * FROM {physical}"
    if rollup_where:
        rollup_sql += " WHERE " + " AND ".join(f"({w})" for w in rollup_where)

    select: list[str] = []
    group: list[str] = []
    for rd in r.dims:
        if rd.model == remote.name:
            expr = f"{remote_cte}.{rd.out}"
        else:
            col, regrain = match.dim_map[(rd.name, rd.grain)]
            expr = f"DATE_TRUNC('{regrain}', {col})" if regrain else col
        select.append(f"{expr} AS {rd.out}" if expr != rd.out else expr)
        group.append(expr)
    # join-grain is finer than the output grain (many fks per remote
    # dim value), so count_distinct-style exact passthrough never
    # applies here: exact=False
    for rm in r.metrics:
        select.append(f"{_metric_reagg_sql(gen, fact.name, rm.metric, False)} AS {rm.out}")

    having = [
        replace_refs(
            conj,
            known,
            lambda m, fld, g: f"({_metric_reagg_sql(gen, fact.name, fact.metric(fld), False)})"
            if fact.metric(fld)
            else rollup_col(m, fld, g),
        )
        for conj in metric_filters
    ]

    on = " AND ".join(
        f"{rollup_cte}.{fk} = {remote_cte}.{alias}"
        for fk, alias in zip(fks, pk_aliases)
    )
    sql = (
        f"WITH {remote_cte} AS (\n    {remote_sql}\n),\n"
        f"{rollup_cte} AS (\n    {rollup_sql}\n)\n"
        "SELECT\n    " + ",\n    ".join(select) + "\n"
        # FACT side preserved (rollup LEFT JOIN dim) to match the
        # unrouted plan's row shape: dim values with zero fact rows
        # must not appear just because a rollup exists.  A filtered
        # dim side flips to INNER, mirroring the generator's
        # filtered-model rule (generator.py:745)
        f"FROM {rollup_cte}\n"
        + ("JOIN" if remote_where else "LEFT JOIN")
        + f" {remote_cte} ON {on}"
    )
    if group:
        sql += "\nGROUP BY " + ", ".join(group)
    if having:
        sql += "\nHAVING " + "\n  AND ".join(f"({h})" for h in having)
    sql += gen._order_limit(r)
    return f"{_header(r, ','.join(r.models), 'preagg_join', physical)}\n{sql}"


def _reagg(metric: Metric, exact_single_row: bool) -> str:
    m = metric.name
    if metric.agg == "sum":
        return f"SUM({m}__sum)"
    if metric.agg == "count":
        return f"SUM({m}__count)"
    if metric.agg == "avg":
        return f"CAST(SUM({m}__sum) AS DOUBLE) / SUM({m}__count)"
    if metric.agg == "min":
        return f"MIN({m}__min)"
    if metric.agg == "max":
        return f"MAX({m}__max)"
    if metric.agg == "count_distinct":
        # matcher only admits this at exact grain: one rollup row per
        # output group, so the stored value passes through
        return f"MAX({m}__cd)"
    if metric.agg == "approx_count_distinct":
        if exact_single_row:
            return f"MAX({m}__cd)"  # exact value available at exact grain
        # coarser grain: merge the stored HLL sketches
        return f"hll_sketch_estimate(hll_union_agg({m}__hll))"
    raise ValueError(f"metric {m!r} not derivable from rollup partials")


def _metric_reagg_sql(gen, model_name: str, metric: Metric, exact: bool, depth: int = 0) -> str:
    from sidemantic_spark.sql.generator import _identifiers, _qualify

    if depth > 10:
        raise ValueError(f"metric recursion at {metric.name!r}")
    if metric.is_simple:
        sql = _reagg(metric, exact)
    elif metric.type == "ratio":
        _, num = gen._lookup_metric(_qualify(metric.numerator, model_name))
        _, den = gen._lookup_metric(_qualify(metric.denominator, model_name))
        num_sql = _metric_reagg_sql(gen, model_name, num, exact, depth + 1)
        den_sql = _metric_reagg_sql(gen, model_name, den, exact, depth + 1)
        sql = f"CAST(({num_sql}) AS DOUBLE) / NULLIF(CAST(({den_sql}) AS DOUBLE), 0)"
    elif metric.type == "derived":
        sql = metric.expr
        for name in _identifiers(metric.expr):
            try:
                _, child = gen._lookup_metric(_qualify(name, model_name))
            except Exception:
                continue
            child_sql = _metric_reagg_sql(gen, model_name, child, exact, depth + 1)
            sql = re.sub(rf"\b{re.escape(name)}\b", f"({child_sql})", sql)
    else:
        raise ValueError(f"metric {metric.name!r} not servable from rollup")
    if metric.fill_nulls_with is not None:
        sql = f"COALESCE({sql}, {metric.fill_nulls_with})"
    return sql


def _build_sql(gen, r, match: PreAggMatch) -> str:
    model = gen.graph.get_model(r.base)
    pa = match.preagg
    physical = pa.physical_name(model.name)
    physical_name = physical
    if pa.type == "lambda" and pa.time_dimension:
        # lambda rollup: serve history from the materialized table and
        # everything at-or-after the boundary bucket fresh from the base
        # table, unioned at the rollup grain (reference
        # sql/generator.py:7104-7135 union-with-fresh)
        from sidemantic_spark.preagg.manager import rollup_select_sql

        tdim = model.dimension(pa.time_dimension)
        texpr = tdim.expr if tdim else pa.time_dimension
        grain = pa.lambda_boundary_grain or pa.granularity
        boundary = pa.lambda_boundary_sql or f"DATE_TRUNC('{grain}', CURRENT_TIMESTAMP)"
        # both sides must split at a ROLLUP-granularity bucket edge: a
        # finer boundary (e.g. day against month buckets) would keep a
        # history bucket that already contains part of the fresh window
        # (double count) or drop the gap between materialization time
        # and the boundary.  Truncating the boundary to the rollup
        # granularity recomputes the whole current bucket fresh.
        boundary = f"DATE_TRUNC('{pa.granularity}', {boundary})"
        tcol = f"{pa.time_dimension}__{pa.granularity}"
        fresh = rollup_select_sql(model, pa, extra_where=f"{texpr} >= {boundary}")
        physical = (
            f"(SELECT * FROM {pa.physical_name(model.name)} WHERE {tcol} < {boundary}\n"
            f" UNION ALL\n{fresh})"
        )
    exact = all(regrain is None for _col, regrain in match.dim_map.values()) and (
        len({n for n, _g in match.dim_map})
        == len(pa.dimensions) + (1 if pa.time_dimension else 0)
    )

    select: list[str] = []
    group: list[str] = []
    for rd in r.dims:
        col, regrain = match.dim_map[(rd.name, rd.grain)]
        expr = f"DATE_TRUNC('{regrain}', {col})" if regrain else col
        select.append(f"{expr} AS {rd.out}")
        group.append(expr)
    for rm in r.metrics:
        select.append(f"{_metric_reagg_sql(gen, r.base, rm.metric, exact)} AS {rm.out}")

    known = set(gen.graph.models)
    rollup_col = _rollup_col(model, match)
    where: list[str] = []
    having: list[str] = []
    for conj in _conjuncts(r):
        refs = find_refs(conj, known)
        if any(model.metric(fld) is not None for _m, fld, _g in refs):
            having.append(
                replace_refs(
                    conj,
                    known,
                    lambda m, fld, g: f"({_metric_reagg_sql(gen, r.base, model.metric(fld), exact)})"
                    if model.metric(fld)
                    else rollup_col(m, fld, g),
                )
            )
        else:
            where.append(replace_refs(conj, known, rollup_col))

    sql = "SELECT\n    " + ",\n    ".join(select) + f"\nFROM {physical}"
    if where:
        sql += "\nWHERE " + "\n  AND ".join(f"({w})" for w in where)
    if group:
        sql += "\nGROUP BY " + ", ".join(group)
    if having:
        sql += "\nHAVING " + "\n  AND ".join(f"({h})" for h in having)
    sql += gen._order_limit(r)
    header = _header(r, r.base, "preagg", physical_name) + (
        " lambda=true" if pa.type == "lambda" else ""
    )
    return f"{header}\n{sql}"


def _header(r, models: str, plan: str, physical: str) -> str:
    """The routed SQL's instrumentation header; the rollup it names is
    the route record's ``used``, so the two cannot disagree."""
    r.route["used"] = physical
    return f"-- sidemantic_spark models={models} plan={plan} used_preagg={physical}"


def _rollup_col(model, match: PreAggMatch):
    """``replace_refs`` callback: a filter field of ``model`` as the
    column of the rollup ``match`` scans, re-truncated to its grain."""
    pa = match.preagg

    def col(_m: str, fld: str, grain: str | None) -> str:
        c, _ = match.dim_map.get((fld, grain), (None, None))
        if c is None:
            dim = model.dimension(fld)
            if dim is not None and dim.type == "time" and pa.time_dimension == fld:
                c = f"{fld}__{pa.granularity}"
            else:
                c = fld
        return f"DATE_TRUNC('{grain}', {c})" if grain else c

    return col
