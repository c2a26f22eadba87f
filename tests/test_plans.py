"""Physical-plan assertions: the properties SCALING.md claims must be
visible in `.explain` — predicate pushdown to the parquet scan, column
pruning in ReadSchema, broadcast joins for small dimensions, whole-stage
codegen coverage, and no shuffle where none is needed.

These guard against regressions that correctness tests cannot see: a
query can return the right rows while silently scanning every column or
shuffling a broadcastable dimension table.
"""

from __future__ import annotations

import pytest

from sidemantic_spark.models.tpch import build_layer


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    return build_layer(spark, sf_dir)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_reaches_parquet_scan(layer):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.priority"],
        filters=["orders.status = 'F'"],
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the literal filter must be pushed into the scan, not applied post-read
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")


def test_column_pruning_in_read_schema(layer):
    df = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    plan = _plan(df)
    # orders has 9 columns; the scan must read only status + totalprice
    scan = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "o_orderstatus" in scan and "o_totalprice" in scan
    assert "o_comment" not in scan and "o_clerk" not in scan and "o_custkey" not in scan


def test_small_dimension_joins_broadcast(layer):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["region.name AS region_name"],
    )
    plan = _plan(df)
    # region/nation/customer sides are small: no sort-merge join should
    # survive planning (AQE or static broadcast threshold converts them)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_whole_stage_codegen_covers_agg(layer):
    df = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    # under AQE codegen annotations appear in the final plan (after
    # execution); formatted explain marks codegen'd operators with '*'
    df.collect()
    f = _formatted(df)
    assert "codegen id" in f
    assert "* HashAggregate" in f and "* Project" in f


def test_grouped_agg_is_partial_then_final(layer):
    """Map-side combine: the aggregate must appear as partial+final
    HashAggregate pairs, not a single post-shuffle aggregate."""
    df = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan


def test_ungrouped_query_has_no_shuffle(layer):
    """Drill-to-detail is a pure projection+filter: any Exchange in the
    plan means something regressed."""
    df = layer.query(
        dimensions=["orders.status", "orders.priority"],
        filters=["orders.status = 'P'"],
        ungrouped=True,
    )
    assert "Exchange" not in _plan(df)


def test_preagg_route_scans_rollup_not_base(spark, sf_dir, tmp_path):
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="plans_daily",
            measures=["revenue", "order_count"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="day",
        )
    ]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    sql = layer.compile(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert "used_preagg=orders_preagg_plans_daily" in sql
    df = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    plan = _optimized(df)
    # the scan must read the rollup's partial-aggregate column, not the
    # base table's raw measure
    assert "revenue__sum" in plan
    assert "o_totalprice" not in plan


def test_semantic_sql_topn_limits_rows_early(layer):
    """QUALIFY top-N compiles to a window + filter; the limit semantics
    stay in the plan (no full materialization of the unfiltered rank)."""
    df = layer.sql(
        "SELECT orders.status, orders.order_date__year, orders.revenue FROM orders "
        "QUALIFY RANK() OVER (PARTITION BY status ORDER BY revenue DESC) <= 2"
    )
    plan = _plan(df)
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "rank" in plan.lower()


def test_explain_plan_reports_preagg_candidates(spark, sf_dir, tmp_path):
    """Structured explain IR (ref core/query_plan.py:43): candidates
    carry accept/reject reasons; the chosen rollup matches the
    instrumentation comment."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="daily",
            measures=["revenue", "order_count", "customer_count"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="day",
        ),
        PreAggregation(
            name="monthly",
            measures=["revenue"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="month",
        ),
    ]
    layer.preaggs.base_path = str(tmp_path / "p")
    layer.preaggs.materialize("orders")

    ex = layer.explain_plan(
        metrics=["orders.revenue"],
        dimensions=["orders.status", "orders.order_date__month"],
    )
    assert ex["base_model"] == "orders"
    assert ex["preagg"]["eligible"]
    by_name = {c["name"]: c for c in ex["preagg"]["candidates"]}
    assert by_name["orders_preagg_daily"]["ok"]
    assert by_name["orders_preagg_monthly"]["ok"]
    # monthly is more specific for a month-grain query and must win
    assert ex["preagg"]["used"] == "orders_preagg_monthly"
    assert ex["used_preagg"] == "orders_preagg_monthly"

    # count_distinct at a coarser grain: daily must be REJECTED with the
    # exact-grain reason, monthly doesn't store the measure
    ex2 = layer.explain_plan(
        metrics=["orders.customer_count"],
        dimensions=["orders.order_date__month"],
    )
    by_name2 = {c["name"]: c for c in ex2["preagg"]["candidates"]}
    assert not by_name2["orders_preagg_daily"]["ok"]
    assert any("exact-grain" in r for r in by_name2["orders_preagg_daily"]["reasons"])
    assert not by_name2["orders_preagg_monthly"]["ok"]
    assert ex2["used_preagg"] is None


def test_explain_plan_fanout_and_join_path(layer):
    ex = layer.explain_plan(
        metrics=["orders.revenue"],
        dimensions=["lineitem.returnflag"],
        filters=["orders.status = 'F'"],
    )
    assert ex["fanout"]["detected"]
    assert ex["fanout"]["strategy"] == "auto_entity_grain_dedup"
    # the generator roots the join at the many side (lineitem) so the
    # orders metrics fan out across the many_to_one hop
    assert ex["join_path"][0]["from"] == "lineitem"
    assert ex["join_path"][0]["to"] == "orders"
    assert ex["join_path"][0]["type"] == "many_to_one"
    assert ex["filters"]["pushdown"].get("orders")


def test_explain_plan_fanout_follows_the_compiler(spark, layer):
    """A one_to_one hop after a duplicated model carries the duplication
    on: explain_plan reports the fan-out the compiler corrects for, and
    its strategy is the plan the compiler chose."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [(1, "A", 10), (2, "A", 10), (3, "B", 11)],
        "id long, flag string, order_id long",
    ).createOrReplaceTempView("xf_items")
    spark.createDataFrame([(10,), (11,)], "id long").createOrReplaceTempView(
        "xf_orders")
    spark.createDataFrame(
        [(10, 100), (11, 50)], "id long, amount long",
    ).createOrReplaceTempView("xf_ext")
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="xf_items", table="xf_items", primary_key="id",
        dimensions=[Dimension(name="flag")],
        relationships=[Relationship(
            name="xf_orders", type="many_to_one", foreign_key="order_id")],
    ))
    lay.add_model(Model(
        name="xf_orders", table="xf_orders", primary_key="id",
        relationships=[Relationship(
            name="xf_ext", type="one_to_one", foreign_key="id")],
    ))
    lay.add_model(Model(
        name="xf_ext", table="xf_ext", primary_key="id",
        metrics=[Metric(name="total", agg="sum", sql="amount")],
    ))
    kw = dict(metrics=["xf_ext.total"], dimensions=["xf_items.flag"])
    ex = lay.explain_plan(**kw)
    assert "plan=grouped-dedup" in ex["compiled_sql"]
    assert ex["fanout"]["detected"]
    assert "xf_items->xf_orders" in ex["fanout"]["hops"]
    assert ex["fanout"]["strategy"] == "auto_entity_grain_dedup"
    rows = {r["flag"]: r["total"] for r in lay.query(**kw).collect()}
    assert rows == {"A": 100, "B": 50}

    # fan-out-safe metrics (max, count_distinct) over a duplicating join
    # keep the plain grouped plan: detected, but no dedup strategy
    ex = layer.explain_plan(
        metrics=["orders.max_order_value", "orders.customer_count"],
        dimensions=["lineitem.returnflag"],
    )
    assert " plan=grouped " in ex["compiled_sql"].split("\n", 1)[0]
    assert ex["fanout"]["detected"]
    assert ex["fanout"]["strategy"] is None


def _two_rollup_layer(spark, sf_dir):
    """The tpch layer with a day and a month rollup on orders (declared
    only: explain_plan compiles, it runs nothing)."""
    from sidemantic_spark.preagg.matcher import PreAggregation

    lyr = build_layer(spark, sf_dir)
    lyr.graph.get_model("orders").pre_aggregations = [
        PreAggregation(
            name="daily", measures=["revenue", "order_count"],
            dimensions=["status"], time_dimension="order_date",
            granularity="day",
        ),
        PreAggregation(
            name="monthly", measures=["revenue"], dimensions=["status"],
            time_dimension="order_date", granularity="month",
        ),
    ]
    return lyr


def test_explain_plan_preagg_is_the_routers_decision(spark, sf_dir):
    """explain_plan's preagg block is the record of the route the
    compiled SQL took: its ``used`` is the SQL's ``used_preagg``, and
    every rejected candidate says why."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.preagg.matcher import PreAggregation

    lyr = _two_rollup_layer(spark, sf_dir)
    q = {"metrics": ["orders.revenue"],
         "dimensions": ["orders.status", "orders.order_date__month"]}
    cases = {
        "routed": (lyr, dict(q)),
        "use_preaggs_off": (lyr, dict(q, use_preaggs=False)),
        "timezone": (lyr, dict(q, timezone="America/New_York")),
        "two_time_refs": (lyr, dict(q, filters=[
            "orders.order_date__year >= TIMESTAMP '1995-01-01' "
            "OR orders.order_date__month < TIMESTAMP '1996-01-01'"])),
        "unaligned_literal": (lyr, dict(q, filters=[
            "orders.order_date >= '1995-01-15'"])),
        "multi_fact": (lyr, {"metrics": ["orders.revenue", "lineitem.qty"],
                             "dimensions": ["orders.status"]}),
    }
    spark.createDataFrame(
        [("completed", 100.0)], "status string, amount double",
    ).createOrReplaceTempView("xr_keyless")
    keyless = SparkSemanticLayer(spark)
    keyless.add_model(Model(
        name="xr_keyless", table="xr_keyless", primary_key=None,
        dimensions=[Dimension(name="status")],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
        pre_aggregations=[PreAggregation(
            name="by_status", measures=["revenue"], dimensions=["status"])],
    ))
    cases["ungrouped_keyless"] = (keyless, {
        "metrics": ["xr_keyless.revenue"], "dimensions": ["xr_keyless.status"],
        "ungrouped": True})

    ex = {}
    for name, (lay, kw) in cases.items():
        ex[name] = lay.explain_plan(**kw)
        pre = ex[name]["preagg"]
        assert pre["used"] == ex[name]["used_preagg"], name
        for c in pre["candidates"]:
            assert c["ok"] or c["reasons"], (name, c)

    assert ex["routed"]["used_preagg"] == "orders_preagg_monthly"
    for name in ("use_preaggs_off", "timezone", "two_time_refs",
                 "multi_fact", "ungrouped_keyless"):
        assert ex[name]["used_preagg"] is None, name
        assert not ex[name]["preagg"]["eligible"], name
        assert ex[name]["preagg"]["reason"], name
    assert "no declared primary key" in ex["ungrouped_keyless"]["preagg"]["reason"]
    # the router rejects month buckets for a mid-month literal and
    # serves the day rollup
    unaligned = ex["unaligned_literal"]["preagg"]
    assert unaligned["eligible"]
    by_name = {c["name"]: c for c in unaligned["candidates"]}
    assert not by_name["orders_preagg_monthly"]["ok"]
    assert any("not aligned" in r for r in by_name["orders_preagg_monthly"]["reasons"])
    assert by_name["orders_preagg_daily"]["ok"]
    assert unaligned["used"] == "orders_preagg_daily"


def test_explain_plan_routes_once(spark, sf_dir, monkeypatch):
    """One explain_plan call matches each rollup once: the report is
    filled by the compile's own routing pass, not by a second one."""
    from collections import Counter

    from sidemantic_spark.preagg import matcher

    lyr = _two_rollup_layer(spark, sf_dir)
    visits: Counter = Counter()
    real = matcher._try_match

    def spy(model, pa, *args, **kwargs):
        visits[pa.name] += 1
        return real(model, pa, *args, **kwargs)

    monkeypatch.setattr(matcher, "_try_match", spy)
    ex = lyr.explain_plan(
        metrics=["orders.revenue"],
        dimensions=["orders.status", "orders.order_date__month"],
    )
    assert ex["used_preagg"] == "orders_preagg_monthly"
    assert visits == {"daily": 1, "monthly": 1}


def test_explain_plan_agrees_with_compile(spark, sf_dir):
    """explain_plan reports the resolution of the exact SQL it returns:
    segments, the {model} placeholder, graph parameter defaults and the
    layer's limits apply as in compile, and hidden fields are refused
    by both."""
    from sidemantic_spark.core.model import Parameter
    from sidemantic_spark.core.security import SecurityError

    lyr = build_layer(spark, sf_dir)
    q = {"metrics": ["orders.revenue"], "dimensions": ["orders.status"]}

    ex = lyr.explain_plan(**q, segments=["orders.urgent"])
    assert ex["compiled_sql"] == lyr.compile(**q, segments=["orders.urgent"])
    assert ex["filters"]["pushdown"] == {"orders": ["o_orderpriority = '1-URGENT'"]}

    placeholder = ["{model}.status = 'F'"]
    ex = lyr.explain_plan(**q, filters=placeholder)
    assert ex["compiled_sql"] == lyr.compile(**q, filters=placeholder)
    assert ex["filters"]["pushdown"] == {"orders": ["o_orderstatus = 'F'"]}
    assert ex["filters"]["outer"] == []

    lyr.default_limit, lyr.max_limit = 50, 7
    lyr.graph.add_parameter(Parameter(name="st", type="string", default_value="O"))
    templated = ["orders.status = {{ st }}"]
    ex = lyr.explain_plan(**q, filters=templated)
    assert ex["compiled_sql"] == lyr.compile(**q, filters=templated)
    assert ex["limit"] == 7
    assert ex["filters"]["pushdown"] == {"orders": ["o_orderstatus = 'O'"]}

    revenue = lyr.graph.get_model("orders").metric("revenue")
    revenue.public = False
    try:
        with pytest.raises(SecurityError, match="not public"):
            lyr.compile(**q)
        with pytest.raises(SecurityError, match="not public"):
            lyr.explain_plan(**q)
    finally:
        revenue.public = True


def test_semi_additive_agg_plan_is_sort_free(layer):
    """The decomposable-agg semi-additive strategy (chosen when the
    metric has no per-entity groupings, i.e. low-cardinality marker
    partitions) must contain no Sort operator (the window-marker plan's
    dominant cost at fact scale) and keep map-side partial aggregation
    on the first shuffle."""
    from sidemantic_spark.core.model import Metric

    li = layer.graph.get_model("lineitem")
    if li.metric("last_day_qty") is None:
        li.add_metric(Metric(
            name="last_day_qty", agg="sum", sql="l_quantity",
            non_additive_dimension="ship_date",
            non_additive_window="max",
        ))
    df = layer.query(
        metrics=["lineitem.last_day_qty"],
        dimensions=["lineitem.ship_date__month AS ship_month"],
    )
    plan = _plan(df)
    assert "Sort" not in plan, plan
    assert "partial_" in plan or "HashAggregate" in plan
    # window plan would show a Window node
    assert "Window" not in plan


def test_metric_window_total_plan_over_aggregate(layer):
    """all(metric) window totals must run the Window over the
    already-aggregated result (rows = output groups), never the fact
    rows: exactly one Window node ABOVE the aggregate in the plan."""
    df = layer.query(
        metrics=["orders.revenue", "orders.revenue_share"],
        dimensions=["orders.status"],
    )
    plan = _plan(df)
    assert plan.count("Window") >= 1
    # the Window's child chain must contain the HashAggregate — i.e. the
    # window input is the aggregated frame, not the scan
    win_pos = plan.find("Window")
    agg_pos = plan.find("HashAggregate", win_pos)
    assert agg_pos > win_pos, plan


def test_semi_additive_grouped_uses_window_plan(layer):
    """With per-entity groupings (partkey), marker partitions are
    ~entity-count: the window plan's single sort-shuffle over tiny
    partitions beats the pipeline's three shuffles (first GROUP BY is
    near row-cardinality, so map-side combine buys nothing).  The plan
    must be a Window over exactly one Exchange, with no second
    aggregate-input Exchange."""
    df = layer.query(
        metrics=["lineitem.last_qty_per_part"],
        dimensions=["lineitem.ship_date__month AS ship_month"],
    )
    plan = _plan(df)
    assert "Window" in plan, plan


def test_preagg_partition_pruning(spark, sf_dir, tmp_path):
    """A time-filtered query routed to a partition_granularity rollup
    must prune partitions at the scan (PartitionFilters on __part) —
    the property that makes time-bounded queries O(window), not
    O(history), at 100 TB."""
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="pp_daily",
            measures=["revenue"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="day",
            partition_granularity="month",
        )
    ]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.status"],
        filters=["orders.order_date >= TIMESTAMP '1997-06-01'"],
    )
    plan = _plan(df)
    assert "used_preagg" in layer.compile(
        metrics=["orders.revenue"],
        dimensions=["orders.status"],
        filters=["orders.order_date >= TIMESTAMP '1997-06-01'"],
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "__part" in pf[0]
    # and values still match the unrouted query
    base = {(r[0], round(float(r[1]), 2)) for r in layer.query(
        metrics=["orders.revenue"], dimensions=["orders.status"],
        filters=["orders.order_date >= TIMESTAMP '1997-06-01'"],
        use_preaggs=False,
    ).collect()}
    routed = {(r[0], round(float(r[1]), 2)) for r in df.collect()}
    assert routed == base


def test_text_ops_are_single_stage_no_shuffle(spark, sf_dir):
    """PII scrub and repetition score are pure map work: no Exchange in
    the plan, and PII scrub stays inside whole-stage codegen."""
    from pyspark.sql import functions as F

    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.text import pii_scrub, repetition_score

    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    scrub_plan = _plan(docs.select(pii_scrub(F.col("text")).alias("t")))
    assert "Exchange" not in scrub_plan
    # "*(n)" node prefix = inside a WholeStageCodegen span
    assert scrub_plan.lstrip().startswith("*("), scrub_plan.splitlines()[0]
    rep_plan = _plan(
        docs.select(repetition_score(F.col("text")).alias("s"))
    )
    assert "Exchange" not in rep_plan


def test_profile_numeric_partial_aggregation(spark, sf_dir):
    """The numeric profile shuffles once at group cardinality with
    map-side partial aggregation before the exchange."""
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.text import profile_numeric

    register_tables(spark, sf_dir)
    plan = _plan(profile_numeric(spark.table("documents"), "n_chars", by=["lang"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial_* aggregate functions must appear before the exchange
    assert "partial" in plan


def test_domain_mix_scale_is_broadcast(spark, sf_dir):
    """The single-row scale factor joins back via broadcast — the
    per-source frame never shuffles for the join."""
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.pipeline import domain_mix_plan

    register_tables(spark, sf_dir)
    target = {f"src{i}": 0.05 for i in range(20)}
    plan = _plan(domain_mix_plan(spark.table("documents"), target))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_fk_dimension_query_has_no_join(layer):
    """FK-as-dimension groups on the raw key column without touching
    the customer table."""
    df = layer.query(
        metrics=["orders.revenue"], dimensions=["orders.o_custkey"]
    )
    plan = _plan(df)
    assert "Join" not in plan
    scan = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "customer" not in scan


def test_vocab_topk_no_expand_takeordered(spark, sf_dir):
    """vocab_topk's two-stage counting must avoid the Expand operator
    (a COUNT DISTINCT formulation would replicate every (term, doc)
    pair per distinct aggregate) and take top-k without a global sort."""
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.text import vocab_topk

    register_tables(spark, sf_dir)
    plan = _plan(vocab_topk(spark.table("documents"), k=10))
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan


def test_source_overlap_no_nested_loop(spark, sf_dir):
    """The fingerprint self-join is an equi-join (hash/sort-merge),
    never a nested-loop pair blowup."""
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.dedup import source_overlap_matrix

    register_tables(spark, sf_dir)
    plan = _plan(source_overlap_matrix(spark.table("documents"), prefix_words=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucket_pair_cap_is_map_side_window_group_limit(spark, sf_dir):
    """pairs_from_bucket_keys caps buckets BEFORE collecting: the
    rank<=cap filter must compile to the Partial+Final WindowGroupLimit
    pair (bounded aggregation state; a degenerate bucket ships at most
    bucket_cap rows per map partition), not a collect-everything-then-
    slice whose buffer grows with the hottest bucket."""
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.operators.dedup import simhash_near_dups

    register_tables(spark, sf_dir)
    plan = _plan(simhash_near_dups(spark.table("documents")))
    assert plan.count("WindowGroupLimit") >= 2  # Partial (map-side) + Final


def test_ungrouped_preagg_route_plan_is_scan_filter_limit(spark, sf_dir, tmp_path):
    """Drill-to-detail from a PK-carrying rollup compiles to a rollup
    scan + filter + TakeOrdered — no aggregation, no join, and the only
    ordering work is the top-N (100 TB shape: detail pages come off the
    bucketed rollup without touching the fact table)."""
    from sidemantic_spark.core.model import Dimension
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.dimensions.append(Dimension(name="okey", sql="o_orderkey"))
    orders.reindex()
    layer.graph._invalidate()
    orders.pre_aggregations = [PreAggregation(
        name="plans_detail",
        measures=["revenue", "order_count"],
        dimensions=["okey", "status"],
    )]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    kw = dict(
        metrics=["orders.revenue"],
        dimensions=["orders.okey", "orders.status"],
        filters=["orders.status = 'P'"],
        order_by=["okey"],
        limit=100,
        ungrouped=True,
    )
    sql = layer.compile(**kw)
    assert "plan=preagg-ungrouped" in sql
    df = layer.query(**kw)
    plan = _plan(df)
    assert "orders_preagg_plans_detail" in plan or "revenue__sum" in plan
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_filtered_measure_route_scans_rollup_partials(spark, sf_dir, tmp_path):
    """A filtered measure served from a rollup reads pre-filtered
    partial state: the plan scans the rollup columns, never re-reads
    the base table or re-evaluates the filter."""
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [PreAggregation(
        name="plans_filt",
        measures=["open_revenue"],
        dimensions=["priority"],
    )]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    df = layer.query(metrics=["orders.open_revenue"],
                     dimensions=["orders.priority"])
    plan = _optimized(df)
    assert "open_revenue__sum" in plan
    assert "o_totalprice" not in plan and "o_orderstatus" not in plan


def test_approx_distinct_route_scans_hll_sketches(spark, sf_dir, tmp_path):
    """approx_count_distinct at a coarser grain than the rollup reads
    the stored HLL sketch column and re-aggregates it with
    hll_union_agg — never re-reading the base table's raw key column
    (the Spark-first upgrade over the reference's exact-grain-only
    guard, core/preagg_matcher.py:138-143)."""
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [PreAggregation(
        name="plans_hll",
        measures=["approx_customers"],
        dimensions=[],
        time_dimension="order_date",
        granularity="day",
    )]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    sql = layer.compile(
        metrics=["orders.approx_customers"],
        dimensions=["orders.order_date__month AS order_month"],
    )
    assert "used_preagg=orders_preagg_plans_hll" in sql
    assert "hll_union_agg" in sql and "hll_sketch_estimate" in sql
    df = layer.query(
        metrics=["orders.approx_customers"],
        dimensions=["orders.order_date__month AS order_month"],
    )
    plan = _optimized(df)
    # the scan reads the binary sketch partial, not the raw key column
    assert "approx_customers__hll" in plan
    assert "o_custkey" not in plan


def test_exact_count_distinct_refuses_coarser_grain_rollup(spark, sf_dir, tmp_path):
    """The exact-grain guard stays intact for exact count_distinct:
    the same coarser-grain query must NOT route (re-aggregating exact
    distinct counts across buckets double-counts keys)."""
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [PreAggregation(
        name="plans_cd",
        measures=["customer_count"],
        dimensions=[],
        time_dimension="order_date",
        granularity="day",
    )]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    sql = layer.compile(
        metrics=["orders.customer_count"],
        dimensions=["orders.order_date__month AS order_month"],
    )
    assert "used_preagg" not in sql


def test_incremental_refresh_prunes_source_scan(spark, tmp_path):
    """The update_window-bounded incremental refresh
    (preagg/manager.py refresh_incremental) must push its trailing
    bound THROUGH the rollup aggregate down to the SOURCE scan as a
    partition filter — at 100 TB an incremental refresh that re-reads
    full history is a full rebuild with extra steps — and its dynamic
    partition overwrite must rewrite only the trailing rollup
    partitions, leaving history byte-identical."""
    import datetime
    import os

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.preagg.matcher import PreAggregation, RefreshKey

    # date-partitioned source: ~4 months of daily rows
    days = [datetime.date(1997, 1, 1) + datetime.timedelta(days=i) for i in range(110)]
    src = spark.createDataFrame(
        [(d, i % 7, float(i)) for i, d in enumerate(days)],
        "od date, k int, amount double",
    )
    src_path = str(tmp_path / "inc_src")
    src.write.partitionBy("od").parquet(src_path)
    spark.read.parquet(src_path).createOrReplaceTempView("inc_src")

    layer = SparkSemanticLayer(spark)
    pa = PreAggregation(
        name="mo",
        measures=["amt"],
        dimensions=["k"],
        time_dimension="od",
        granularity="day",
        partition_granularity="month",
        refresh_key=RefreshKey(incremental=True, update_window="45 day"),
    )
    model = Model(
        name="inc_orders",
        table="inc_src",
        primary_key="od",
        dimensions=[
            Dimension(name="od", type="time", sql="od"),
            Dimension(name="k", type="numeric", sql="k"),
        ],
        metrics=[Metric(name="amt", agg="sum", sql="amount")],
        pre_aggregations=[pa],
    )
    layer.add_model(model)
    layer.preaggs.base_path = str(tmp_path / "rollups")
    layer.preaggs.materialize("inc_orders")

    rollup_dir = layer.preaggs.path_for(model, pa)
    def snapshot():
        out = {}
        for part in os.listdir(rollup_dir):
            if not part.startswith("__part="):
                continue
            d = os.path.join(rollup_dir, part)
            out[part] = sorted(os.listdir(d))
        return out

    before = snapshot()
    assert len(before) == 4  # jan..apr

    # (a) the refresh SELECT partition-prunes the SOURCE scan
    inner = layer.preaggs.rollup_sql(model, pa)
    df = spark.sql(
        f"SELECT * FROM (\n{inner}\n) "
        "WHERE __part >= CAST(DATE '1997-03-01' AS DATE)"
    )
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "od" in pf[0] and "PartitionFilters: []" not in pf[0], pf[0]
    # the pruned scan reads the trailing window's days only, visible as
    # the filter bound in the partition filter expression
    assert "1997-03-01" in pf[0] or "9922" in pf[0], pf[0]

    # (b) dynamic overwrite touches only trailing partitions
    layer.preaggs.refresh_incremental("inc_orders", "mo", "DATE '1997-03-01'")
    after = snapshot()
    assert set(after) == set(before)
    for part, files in before.items():
        month = part.split("=")[1][:7]
        if month < "1997-03":
            assert after[part] == files, f"{part} was rewritten"
        else:
            assert after[part] != files, f"{part} was not refreshed"

    # (c) values still match the source after the partial rewrite
    got = {
        (r["k"], r["amt"])
        for r in layer.query(metrics=["inc_orders.amt"], dimensions=["inc_orders.k"]).collect()
    }
    want = {
        (r["k"], r["s"])
        for r in spark.sql("SELECT k, SUM(amount) AS s FROM inc_src GROUP BY k").collect()
    }
    assert got == want


def test_at_context_joins_broadcast(spark, sf_dir):
    """The AT-modifier plan's context joins must be broadcast-hash
    (the context sides are tiny pre-aggregated frames) — a sort-merge
    join here would shuffle the full grouped result per context at
    scale (round-9 plan audit, pinned)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW plan_vis_orders AS
SELECT o_orderstatus, o_orderpriority,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS MEASURE sum_rev
FROM orders;
""")
    df = lyr.sql(
        "SELECT o.o_orderstatus AS status, COUNT(*) AS c, "
        "AGGREGATE(o.sum_rev) AS ragg, o.sum_rev AT (VISIBLE) AS rviz, "
        "o.sum_rev AS r FROM plan_vis_orders o "
        "WHERE o.o_orderpriority <> '1-URGENT' "
        "GROUP BY ROLLUP(o.o_orderstatus)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3  # one per AT context
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multifact_private_dim_joins_on_shared_dims_only(spark, sf_dir):
    """Cross-view conformed join with a fact-private dim: the FULL
    OUTER join must key on the SHARED dims only — keying on the
    private dim (absent from one side) would null-join every row."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (2022,'US',100.0),(2023,'EU',75.0) "
        "AS t(year, region, amount)"
    ).createOrReplaceTempView("plan_mf_sales")
    spark.sql(
        "SELECT * FROM VALUES (2022,'US','Cars',1.0),(2023,'EU','Shoes',2.0) "
        "AS t(year, region, product, qty)"
    ).createOrReplaceTempView("plan_mf_details")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW plan_mf_sales_v AS
SELECT year, region, SUM(amount) AS MEASURE revenue
FROM plan_mf_sales;
CREATE VIEW plan_mf_details_v AS
SELECT year, region, product, SUM(qty) AS MEASURE quantity
FROM plan_mf_details;
""")
    sql = lyr.rewrite(
        "SEMANTIC SELECT s.year, s.region, sd.product, "
        "AGGREGATE(revenue) AS rev, AGGREGATE(quantity) AS qty "
        "FROM plan_mf_sales_v s JOIN plan_mf_details_v sd "
        "ON s.year = sd.year AND s.region = sd.region"
    )
    join_line = next(l for l in sql.splitlines() if "FULL OUTER JOIN" in l)
    assert "year" in join_line and "region" in join_line
    assert "product" not in join_line  # private dim excluded from keys
    assert "CROSS JOIN" not in sql


def test_minhash_bucket_local_verify_plan_and_adversarial_parity(spark, monkeypatch):
    """Round-10 scale fix (VERDICT r9 ask #1): the minhash verify runs
    INSIDE the capped buckets — the physical plan must have NO join at
    all (the pair-grain verify shipped ~30 GB of shingle arrays through
    a pair groupBy at 500k docs), and on an adversarial 64-deep
    exact-duplicate clique both the plain and the collapsed path
    (forced by patching ``gate.Probe.dup_heavy``) must return every
    pair."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators import gate
    from sidemantic_spark.operators.dedup import minhash_lsh_pairs

    def force_collapse(flag):
        monkeypatch.setattr(gate.Probe, "dup_heavy", property(lambda p: flag))

    docs = spark.range(320).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog variant "),
            # 64-deep cliques: 5 distinct texts, 64 copies each
            (F.col("id") % 5).cast("string"),
        ).alias("text"),
    )
    # the corpus plans (a corpus this small otherwise runs on the driver)
    monkeypatch.setattr(gate, "DRIVER_BYTES", 0)
    force_collapse(False)
    plain = minhash_lsh_pairs(docs, jaccard_threshold=0.4)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan  # no pair-grain or id-grain join
    assert "Window" in plan  # row_number bucket cap
    # Spark 4 rewrites rank<=k into WindowGroupLimit with a PARTIAL
    # pre-shuffle pass: mega-buckets are capped map-side, so their
    # excess sets never ride the banding exchange at all
    assert "WindowGroupLimit" in plan
    # r12 exact-dup collapse: the group prepass adds a text-keyed
    # window + aggregate but the bucket-local plan must STAY join-free
    # (member arrays ride the banding shuffle; expansion is a map), and
    # the group cap must also be a map-side WindowGroupLimit so a
    # one-text corpus ships a bounded row count per partition
    force_collapse(True)
    collapsed = minhash_lsh_pairs(docs, jaccard_threshold=0.4)
    cplan = collapsed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in cplan, cplan
    assert cplan.count("WindowGroupLimit") >= 2, cplan
    # the 5 variants differ by one trailing char, so ALL 320 docs form
    # one near-dup clique: every pair survives, on both paths
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, collapsed.collect()))
    assert len(a) == 320 * 319 // 2 and a == b
    # the driver path: one local relation, no exchange and no Python
    # evaluation in the plan, the same pairs with and without collapse
    monkeypatch.setattr(gate, "DRIVER_BYTES", 1 << 20)
    for flag in (False, True):
        force_collapse(flag)
        local = minhash_lsh_pairs(docs, jaccard_threshold=0.4)
        lplan = local._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in lplan and "ArrowEvalPython" not in lplan, lplan
        assert sorted(map(tuple, local.collect())) == a


def test_embedding_verify_broadcast_gate_plan_and_parity(spark, monkeypatch):
    """r12: embedding_near_dup_pairs' verify broadcasts both vector
    sides when the vector side fits the operators' byte budget (two
    MAP-ONLY joins — the long-format explode + id-join + pair-groupBy
    exchanges leave the plan); above the budget the long-format verify
    stays. Both paths run the identical JVM cosine fold on the
    identical arrays, so rows are bit-identical."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators import gate
    from sidemantic_spark.operators.similarity import embedding_near_dup_pairs

    vecs = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            # 3 base directions + a tiny id-dependent wobble: plenty of
            # near-dup pairs at 0.9 without being one giant clique
            lambda i: (
                F.cos((F.col("id") % 3).cast("double"))
                + i.cast("double") / F.lit(64.0)
                + (F.col("id") % 7).cast("double") / F.lit(300.0)
            ).cast("float"),
        ).alias("embedding"),
    )
    kw = dict(min_cosine=0.9, bands=4, bits_per_band=4, dim=64)
    # the gate sizes the vector side at id + 64 doubles + norm = 528
    # bytes a row: 300 rows fit a budget of exactly 300 * 528 bytes
    # (broadcast plan) and not one byte less (long plan), same rows
    # (driver path off: 300 vectors are far below gate.DRIVER_BYTES)
    monkeypatch.setattr(gate, "DRIVER_BYTES", 0)
    rows, plans = {}, {}
    for budget, broadcast in ((300 * 528, True), (300 * 528 - 1, False)):
        monkeypatch.setattr(gate, "BUDGET_BYTES", budget)
        out = embedding_near_dup_pairs(vecs, **kw)
        plans[broadcast] = out._jdf.queryExecution().executedPlan().toString()
        rows[broadcast] = sorted(map(tuple, out.collect()))
    # the driver path at the same budget: one local relation, same rows
    monkeypatch.setattr(gate, "DRIVER_BYTES", 300 * 528)
    monkeypatch.setattr(gate, "BUDGET_BYTES", 300 * 528)
    local = embedding_near_dup_pairs(vecs, **kw)
    dplan = local._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in dplan and "ArrowEvalPython" not in dplan, dplan
    assert sorted(map(tuple, local.collect())) == rows[True]
    bplan, lplan = plans[True], plans[False]
    # verify = two broadcast joins; no sort-merge/shuffled-hash join
    # and no pair-grain groupBy re-assembly anywhere in the plan
    assert bplan.count("BroadcastHashJoin") == 2, bplan
    assert "SortMergeJoin" not in bplan and "ShuffledHashJoin" not in bplan
    assert "explode(array(id_a" not in bplan, bplan
    # the long path re-assembles pairs with a groupBy — its signature
    # is the explode of the two pair sides feeding an id-keyed join
    # (join strategy itself is AQE's pick at this size)
    assert lplan.count("BroadcastHashJoin") != 2, lplan
    assert "explode(array(id_a" in lplan, lplan
    assert rows[True] == rows[False] and len(rows[True]) > 0
    # r13 norm hoist: the per-PAIR verify projection computes exactly
    # one interpreted fold (the dot product) — each vector's norm fold
    # is hoisted to the per-vector side (a vector in k candidate pairs
    # used to pay its 64-element norm fold k times). dot/(na*nb)
    # evaluates the same expressions in the same order, so rows above
    # already proved bit-identity on both paths.
    pair_projects = [
        l for l in bplan.splitlines() if "cosine_sim" in l and "round" in l
    ]
    assert pair_projects, bplan
    assert all(l.count("aggregate(") == 1 for l in pair_projects), pair_projects


def test_semantic_dedup_keep_join_broadcasts_labels_that_fit(spark, monkeypatch):
    """semantic_dedup's keep-flag join broadcasts the driver-side
    connected-component labels: they come back as an Arrow-backed local
    relation, whose size statistics let the planner broadcast them (the
    former row-built frame carried none and needed a gate hint). 16
    disjoint near-dup pairs are 16 (long, long) edges and 32 labels of
    16 bytes: under a budget of 512 bytes and one byte less, the
    union-find path runs and the join broadcasts with the same rows."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators import dedup, gate
    from sidemantic_spark.operators.similarity import semantic_dedup

    def loop(*a, **kw):
        raise AssertionError("edges fit the budget: no distributed loop")

    monkeypatch.setattr(dedup, "_cc_loop", loop)
    # pair i (ids 2i+1, 2i+2): e_i and e_i tilted toward e_(i+32)
    # (cosine 0.9988); every cross-pair cosine is 0; vec 100 (e_16) is
    # a singleton
    vecs = spark.range(33).select(
        F.when(F.col("id") < 32, F.col("id") + 1).otherwise(100).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.when(j == F.floor(F.col("id") / 2), 1.0)
            .when((j == F.floor(F.col("id") / 2) + 32) & (F.col("id") % 2 == 1), 0.05)
            .otherwise(0.0)
            .cast("float"),
        ).alias("embedding"),
    )
    rows, joins = {}, {}
    for budget, fits in ((32 * 16, True), (32 * 16 - 1, False)):
        monkeypatch.setattr(gate, "BUDGET_BYTES", budget)
        out = semantic_dedup(vecs, min_cosine=0.95)
        joins[fits] = [
            l.strip() for l in _plan(out).splitlines() if "Join" in l and "__node" in l
        ]
        rows[fits] = sorted(map(tuple, out.collect()))
    assert len(joins[True]) == 1 and "BroadcastHashJoin" in joins[True][0], joins
    assert len(joins[False]) == 1 and "BroadcastHashJoin" in joins[False][0], joins
    assert rows[True] == rows[False]
    # at the default budget the pairs come from the driver path: same rows
    monkeypatch.setattr(gate, "BUDGET_BYTES", 64 << 20)
    assert sorted(map(tuple, semantic_dedup(vecs, min_cosine=0.95).collect())) == rows[True]
    assert [r for r in rows[True] if not r[2]] == [(i, i - 1, False) for i in range(2, 33, 2)]


def test_ngram_prefix_filter_plan_pin(spark, monkeypatch):
    """Round-11 scale fix (VERDICT r10 ask #1): the ngram inverted
    index must explode only the PREFIX slice of each doc's sorted gram
    array (posting rows per doc drop from |g| to (1-t)|g|+1, candidate
    pairs by ~the square) — pin that the slice reached the physical
    plan's Generate node, and that turning the filter off removes it.
    Output parity is pinned separately
    (test_ngram_prefix_filter_bit_identical_to_full_posting)."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators import gate
    from sidemantic_spark.operators.dedup import ngram_jaccard_pairs

    # the corpus plan (64 docs otherwise run on the driver)
    monkeypatch.setattr(gate, "DRIVER_BYTES", 0)
    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta iota kappa "),
            (F.col("id") % 4).cast("string"),
        ).alias("text"),
    )
    plan_on = ngram_jaccard_pairs(
        docs, n=3, threshold=0.6
    )._jdf.queryExecution().optimizedPlan().toString()
    plan_off = ngram_jaccard_pairs(
        docs, n=3, threshold=0.6, prefix_filter=False
    )._jdf.queryExecution().optimizedPlan().toString()
    # the explode feeding the bucket keys generates from the prefix
    # slice of the gram array (bucket-cap slices elsewhere in the plan
    # are shared with the LSH family and appear in both variants)
    def gram_explodes(plan):
        return [
            l for l in plan.splitlines()
            if "Generate explode" in l and "__grams" in l
        ]

    assert all("slice(__grams" in l for l in gram_explodes(plan_on)), (
        gram_explodes(plan_on)
    )
    assert gram_explodes(plan_on)
    assert not any("slice(__grams" in l for l in gram_explodes(plan_off))


def test_bm25_inline_single_tokenize_checkpoint_pin(spark):
    """r12: the inline BM25/TF-IDF paths checkpoint the tokenized frame
    on small corpora so the corpus-stats aggregate and the scoring
    probe share ONE tokenize pass (expression IDs defeat subtree reuse
    otherwise). Pin that the small-corpus plan reads the checkpoint
    (ExistingRDD) with zero duplicate tokenizer subtrees, and that the
    materialized-stats path stays checkpoint-free (it reads the
    tokenized frame once; a checkpoint would only add cost)."""
    from pyspark.sql import functions as F

    from sidemantic_spark.operators.search import bm25_topk, build_term_stats

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma doc "), F.col("id").cast("string")
        ).alias("text"),
    )
    plan = bm25_topk(docs, "alpha beta", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    # the tokenizer (split on the shared regex) must not appear at all:
    # it ran once, inside the checkpoint job
    assert "split(lower(" not in plan, plan
    stats = build_term_stats(docs).localCheckpoint()
    splan = bm25_topk(docs, "alpha beta", k=5, stats=stats) \
        ._jdf.queryExecution().executedPlan().toString()
    # one tokenize subtree (the scoring scan) and no token checkpoint:
    # the probe side itself must NOT be an ExistingRDD scan of tokens
    assert splan.count("split(lower(") == 1, splan
