"""Pre-aggregation materialization + routing vs raw-table oracle.

Mirrors sidemantic ``tests/optimizations/test_pre_aggregations.py`` /
``tests/native-fixtures/preaggregation_routing``: build a rollup, check
queries route to it, and check routed results equal the raw answer.
"""

from __future__ import annotations

import shutil

import pytest

from sidemantic_spark.models.tpch import build_layer
from sidemantic_spark.preagg.matcher import PreAggregation
from sidemantic_spark.sql.generator import QueryCompileError
from tests.conftest import assert_df_matches_oracle

PREAGG_PATH = "/tmp/sidemantic_spark_test_preaggs"


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    shutil.rmtree(PREAGG_PATH, ignore_errors=True)
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="daily",
            measures=["revenue", "order_count", "avg_order_value", "customer_count", "approx_customers"],
            dimensions=["status", "priority"],
            time_dimension="order_date",
            granularity="day",
            partition_granularity="year",
        )
    ]
    layer.preaggs.base_path = PREAGG_PATH
    built = layer.preaggs.materialize("orders")
    assert built == ["orders_preagg_daily"]
    return layer


def test_routes_to_rollup(layer):
    sql = layer.compile(
        metrics=["orders.revenue"],
        dimensions=["orders.status"],
    )
    assert "used_preagg=orders_preagg_daily" in sql
    assert "FROM orders_preagg_daily" in sql


def test_rollup_results_match_raw_sum_count(layer, duck):
    df = layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["orders.status"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
               COUNT(*) AS order_count
        FROM orders GROUP BY 1
        """,
    )


def test_rollup_month_from_day(layer, duck):
    sql = layer.compile(
        metrics=["orders.revenue"],
        dimensions=["orders.order_date__month AS order_month"],
    )
    assert "used_preagg" in sql
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.order_date__month AS order_month"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_wrapped_month_query_switches_to_rollup_table(layer, duck):
    """The reference's wrapped-rollup scenario (ref
    sql/query_rewriter.py:1960-2016): a BI-tool month re-aggregation
    wrapped around the day-grain semantic view is lifted into the
    semantic query AND routed to the materialized day rollup — the
    scanned table switches away from the base fact.  This is the
    deterministic guard behind bench.py's time_rollup ratio."""
    rollup_sql = """
        SELECT DATE_TRUNC('month', order_date__day) AS m, SUM(revenue) AS revenue
        FROM (SELECT orders.order_date__day, orders.revenue FROM orders) t
        GROUP BY 1
    """
    opt = layer.rewrite(rollup_sql)
    assert "orders_preagg_daily" in opt
    rw = layer._rewriter
    rw.wrapper_rules_enabled = False
    try:
        naive = rw.rewrite(rollup_sql, use_preaggs=False)
    finally:
        rw.wrapper_rules_enabled = True
    assert "orders_preagg_daily" not in naive
    # both plans must return the same answer as the raw-table oracle
    for sql in (opt, naive):
        df = layer.spark.sql(sql)
        assert_df_matches_oracle(
            df,
            duck,
            """
            SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS m,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1
            """,
        )


def test_rollup_avg_recomposition(layer, duck):
    sql = layer.compile(
        metrics=["orders.avg_order_value"], dimensions=["orders.priority"]
    )
    assert "used_preagg" in sql and "__sum) AS DOUBLE) / SUM(" in sql.replace("avg_order_value", "")
    df = layer.query(metrics=["orders.avg_order_value"], dimensions=["orders.priority"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderpriority AS priority,
               CAST(SUM(o_totalprice) AS DOUBLE) / COUNT(o_totalprice) AS avg_order_value
        FROM orders GROUP BY 1
        """,
    )


def test_rollup_with_filter(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.priority"],
        filters=["orders.status = 'F'"],
    )
    sql = layer.compile(
        metrics=["orders.revenue"],
        dimensions=["orders.priority"],
        filters=["orders.status = 'F'"],
    )
    assert "used_preagg" in sql
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderpriority AS priority, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        """,
    )


def test_count_distinct_exact_grain_only(layer):
    # grouped by all rollup dims at rollup grain -> servable
    sql = layer.compile(
        metrics=["orders.customer_count"],
        dimensions=["orders.status", "orders.priority", "orders.order_date__day AS d"],
    )
    assert "used_preagg" in sql
    # coarser grain -> NOT servable from partials; falls back to raw
    sql2 = layer.compile(
        metrics=["orders.customer_count"],
        dimensions=["orders.status"],
    )
    assert "used_preagg" not in sql2
    assert "FROM orders" in sql2


def test_count_distinct_exact_grain_values(layer, duck):
    df = layer.query(
        metrics=["orders.customer_count"],
        dimensions=["orders.status", "orders.priority", "orders.order_date__day AS d"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(DATE_TRUNC('day', o_orderdate) AS TIMESTAMP) AS d,
               COUNT(DISTINCT o_custkey) AS customer_count
        FROM orders GROUP BY 1, 2, 3
        """,
    )


def test_uncovered_dimension_falls_back(layer):
    sql = layer.compile(
        metrics=["orders.revenue"],
        dimensions=["customer.mktsegment"],
    )
    assert "used_preagg" not in sql  # join -> raw plan


def test_strict_mode(layer):
    with pytest.raises(QueryCompileError, match="preagg_strict"):
        layer.compile(metrics=["orders.max_order_value"],
                      dimensions=["orders.status"], preagg_strict=True)


def test_ratio_metric_from_rollup(layer, duck):
    sql = layer.compile(metrics=["orders.aov_ratio"], dimensions=["orders.status"])
    assert "used_preagg" in sql
    df = layer.query(metrics=["orders.aov_ratio"], dimensions=["orders.status"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / NULLIF(CAST(COUNT(*) AS DOUBLE), 0) AS aov_ratio
        FROM orders GROUP BY 1
        """,
    )


def test_incremental_refresh(layer, spark, duck):
    # restrict refresh to partitions >= 1998: rebuild must leave results
    # identical (same source data)
    layer.preaggs.refresh_incremental(
        "orders", "daily", "TIMESTAMP '1998-01-01'"
    )
    df = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_missing_table_fallback(spark, sf_dir, duck):
    fresh = build_layer(spark, sf_dir)
    orders = fresh.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="ghost",
            measures=["revenue"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="day",
        )
    ]
    # never materialized -> compile routes to rollup, execution falls
    # back to the raw plan (ref core/semantic_layer.py:798-843)
    sql = fresh.compile(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert "used_preagg=orders_preagg_ghost" in sql
    df = fresh.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_approx_count_distinct_hll_any_grain(layer, duck):
    """approx_count_distinct serves from the rollup at ANY grain via
    stored HLL sketches (hll_union_agg + hll_sketch_estimate) — the
    Spark-first improvement over the reference's exact-grain-only guard
    (core/preagg_matcher.py:138)."""
    sql = layer.compile(
        metrics=["orders.approx_customers"],
        dimensions=["orders.status"],
    )
    assert "used_preagg" in sql
    assert "hll_union_agg" in sql and "hll_sketch_estimate" in sql
    got = {
        r["status"]: r["approx_customers"]
        for r in layer.query(
            metrics=["orders.approx_customers"], dimensions=["orders.status"]
        ).collect()
    }
    exact = dict(duck.execute(
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) FROM orders GROUP BY 1"
    ).fetchall())
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05  # HLL default accuracy ~1.6%


def test_approx_count_distinct_exact_grain_passthrough(layer):
    sql = layer.compile(
        metrics=["orders.approx_customers"],
        dimensions=["orders.status", "orders.priority", "orders.order_date__day AS d"],
    )
    assert "used_preagg" in sql
    # exact grain: stored exact count passes through, no sketch math
    assert "hll_union_agg" not in sql


def test_lambda_rollup_union_with_fresh(spark, sf_dir, duck):
    """Lambda rollup: stale materialization + fresh base rows union at
    the boundary (ref sql/generator.py:7104-7135). The rollup is built
    MISSING everything from 1997 on; the query must still match the
    full table because >= boundary is computed fresh."""
    import shutil

    path = "/tmp/sidemantic_spark_preaggs_lambda_test"
    shutil.rmtree(path, ignore_errors=True)
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    boundary = "TIMESTAMP '1997-01-01'"
    orders.pre_aggregations = [
        PreAggregation(
            name="lam",
            type="lambda",
            measures=["revenue", "order_count"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="day",
            lambda_boundary_sql=boundary,
        )
    ]
    layer.preaggs.base_path = path
    # simulate staleness: materialize with a row filter excluding 1997+
    orders.row_filters.append("o_orderdate < TIMESTAMP '1997-01-01'")
    try:
        layer.preaggs.materialize("orders")
    finally:
        orders.row_filters.remove("o_orderdate < TIMESTAMP '1997-01-01'")
    layer.graph._invalidate()

    sql = layer.compile(metrics=["orders.revenue", "orders.order_count"],
                        dimensions=["orders.status"])
    assert "lambda=true" in sql and "UNION ALL" in sql
    df = layer.query(metrics=["orders.revenue", "orders.order_count"],
                     dimensions=["orders.status"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
               COUNT(*) AS order_count
        FROM orders GROUP BY 1
        """,
    )
    shutil.rmtree(path, ignore_errors=True)


# -- join-key rollup route (ref sql/generator.py:6613-6844) ----------------


@pytest.fixture(scope="module")
def join_layer(spark, sf_dir):
    path = "/tmp/sidemantic_spark_preaggs_joinroute"
    shutil.rmtree(path, ignore_errors=True)
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="bykey",
            type="rollup_join",
            measures=["revenue", "order_count", "avg_order_value"],
            dimensions=["status", "o_custkey"],
            time_dimension="order_date",
            granularity="day",
        )
    ]
    layer.preaggs.base_path = path
    layer.preaggs.materialize("orders")
    yield layer
    shutil.rmtree(path, ignore_errors=True)


JOIN_ORACLE = """
    SELECT c_mktsegment AS mktsegment,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
           COUNT(*) AS order_count
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY 1
"""


def test_join_key_route_compiles_to_rollup_join(join_layer):
    sql = join_layer.compile(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["customer.mktsegment"],
    )
    assert "plan=preagg_join" in sql
    assert "orders_preagg_bykey" in sql
    # the base orders table must not be scanned
    assert "FROM orders\n" not in sql and "FROM orders " not in sql


def test_join_key_route_matches_oracle(join_layer, duck):
    df = join_layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["customer.mktsegment"],
    )
    assert_df_matches_oracle(df, duck, JOIN_ORACLE)


def test_join_key_route_remote_and_local_filters(join_layer, duck):
    df = join_layer.query(
        metrics=["orders.revenue"],
        dimensions=["customer.mktsegment"],
        filters=["customer.mktsegment IN ('BUILDING', 'MACHINERY')",
                 "orders.status = 'O'"],
    )
    sql = join_layer.compile(
        metrics=["orders.revenue"],
        dimensions=["customer.mktsegment"],
        filters=["customer.mktsegment IN ('BUILDING', 'MACHINERY')",
                 "orders.status = 'O'"],
    )
    assert "plan=preagg_join" in sql
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT c_mktsegment AS mktsegment,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM customer LEFT JOIN orders
          ON o_custkey = c_custkey AND o_orderstatus = 'O'
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1
        """,
    )


def test_join_key_route_avg_and_time_grain(join_layer, duck):
    df = join_layer.query(
        metrics=["orders.avg_order_value"],
        dimensions=["customer.mktsegment", "orders.order_date__year"],
    )
    sql = join_layer.compile(
        metrics=["orders.avg_order_value"],
        dimensions=["customer.mktsegment", "orders.order_date__year"],
    )
    assert "plan=preagg_join" in sql
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT c_mktsegment AS mktsegment,
               CAST(DATE_TRUNC('year', o_orderdate) AS TIMESTAMP) AS order_date__year,
               CAST(SUM(o_totalprice) AS DOUBLE) / COUNT(o_totalprice) AS avg_order_value
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2
        """,
    )


def test_join_key_route_requires_stored_join_key(spark, sf_dir):
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="nokey", measures=["revenue"], dimensions=["status"],
            time_dimension="order_date", granularity="day",
        )
    ]
    sql = layer.compile(
        metrics=["orders.revenue"], dimensions=["customer.mktsegment"]
    )
    assert "plan=preagg" not in sql.splitlines()[0]


# -- original_sql staged base tables (ref core/pre_aggregation.py:162) -----


def test_original_sql_stages_base_query(spark, sf_dir, duck):
    from sidemantic_spark.core.model import Dimension, Metric, Model

    path = "/tmp/sidemantic_spark_preaggs_origsql"
    shutil.rmtree(path, ignore_errors=True)
    layer = build_layer(spark, sf_dir)
    layer.add_model(Model(
        name="big_orders",
        sql="SELECT * FROM orders WHERE o_totalprice > 100000",
        primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="revenue", agg="sum",
                        sql="CAST(o_totalprice AS DECIMAL(18,2))")],
        pre_aggregations=[PreAggregation(name="base", type="original_sql")],
    ))
    layer.preaggs.base_path = path
    built = layer.preaggs.materialize("big_orders")
    assert built == ["big_orders_preagg_base"]

    sql = layer.compile(metrics=["big_orders.revenue"],
                        dimensions=["big_orders.status"])
    # the derived SQL is replaced by the staged table scan
    assert "big_orders_preagg_base" in sql
    assert "o_totalprice > 100000" not in sql
    assert_df_matches_oracle(
        layer.query(metrics=["big_orders.revenue"],
                    dimensions=["big_orders.status"]),
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_totalprice > 100000 GROUP BY 1
        """,
    )
    shutil.rmtree(path, ignore_errors=True)


def test_original_sql_missing_table_falls_back_raw(spark, sf_dir, duck):
    from sidemantic_spark.core.model import Dimension, Metric, Model

    layer = build_layer(spark, sf_dir)
    layer.add_model(Model(
        name="big_orders2",
        sql="SELECT * FROM orders WHERE o_totalprice > 100000",
        primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="revenue", agg="sum",
                        sql="CAST(o_totalprice AS DECIMAL(18,2))")],
        pre_aggregations=[PreAggregation(name="base", type="original_sql")],
    ))
    # never materialized: execution must fall back to the raw derived SQL
    assert_df_matches_oracle(
        layer.query(metrics=["big_orders2.revenue"],
                    dimensions=["big_orders2.status"]),
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_totalprice > 100000 GROUP BY 1
        """,
    )


def test_bucketed_rollup_join_exchange_free(spark, sf_dir, tmp_path):
    """Bucketed rollups (Spark-native extension of the reference's
    preagg `indexes`, core/pre_aggregation.py:27): two rollups bucketed
    on the same join key join with NO Exchange and NO Sort — the
    co-location survives at any scale because it is baked into the
    table layout, not negotiated per query."""
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    customer = layer.graph.get_model("customer")
    orders.pre_aggregations = [
        PreAggregation(
            name="by_cust",
            measures=["revenue"],
            dimensions=["custkey"],
            bucket_by=["custkey"],
            buckets=4,
        )
    ]
    customer.pre_aggregations = [
        PreAggregation(
            name="bal",
            measures=["total_acctbal"],
            dimensions=["c_custkey"],
            bucket_by=["c_custkey"],
            buckets=4,
        )
    ]
    layer.preaggs.base_path = str(tmp_path / "bucketed")
    assert layer.preaggs.materialize("orders") == ["orders_preagg_by_cust"]
    assert layer.preaggs.materialize("customer") == ["customer_preagg_bal"]

    a = spark.table("orders_preagg_by_cust")
    b = spark.table("customer_preagg_bal")
    joined = a.join(b, a.custkey == b.c_custkey)
    # at test scale Catalyst would just broadcast; disable it to prove
    # the co-located (bucketed) sort-merge path is exchange- AND
    # sort-free — that is the plan a 100 TB rollup-rollup join takes
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and the data actually matches the unbucketed computation
    n = joined.count()
    expected = (
        spark.table("orders")
        .join(spark.table("customer"), spark.table("orders").o_custkey == spark.table("customer").c_custkey)
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert n == expected


def test_salted_join_matches_plain_join(spark, sf_dir):
    """salted_join spreads hot keys over `salt` tasks; results must be
    identical to the plain equi-join (inner and left)."""
    from sidemantic_spark.operators.skew import hot_keys, salted_join

    orders = spark.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    customer = spark.table("customer").select("c_custkey", "c_mktsegment")
    dim = customer.withColumnRenamed("c_custkey", "o_custkey")

    plain = orders.join(dim, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, dim, "o_custkey", salt=8, fact_identity="o_orderkey")
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    left_plain = orders.join(dim, "o_custkey", "left").count()
    left_salted = salted_join(
        orders, dim, "o_custkey", salt=8, how="left", fact_identity="o_orderkey"
    ).count()
    assert left_plain == left_salted

    hk = hot_keys(spark.table("lineitem"), "l_orderkey", min_count=5)
    assert hk.columns == ["l_orderkey", "__cnt"]
    assert hk.where("__cnt <= 5").count() == 0


def test_time_filter_finer_than_rollup_grain_not_routed(spark, sf_dir, tmp_path):
    """A month-grain rollup must NOT serve a filter at day precision:
    the stored column is truncated, so `>= '1997-06-15'` against month
    buckets would drop all of June instead of keeping Jun 15-30.
    Aligned literals and coarser/equal filter grains still route, and
    routed results match the base table."""
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="monthly",
            measures=["revenue"],
            dimensions=["status"],
            time_dimension="order_date",
            granularity="month",
        )
    ]
    layer.preaggs.base_path = str(tmp_path / "preagg_grain")
    layer.preaggs.materialize("orders")

    # mid-month literal: must fall back to the base table
    kw = dict(
        metrics=["orders.revenue"],
        filters=["orders.order_date >= TIMESTAMP '1997-06-15'"],
    )
    assert "used_preagg" not in layer.compile(**kw)
    # explicit finer grain: must fall back
    assert "used_preagg" not in layer.compile(
        metrics=["orders.revenue"],
        filters=["orders.order_date__day >= TIMESTAMP '1997-06-15'"],
    )
    # equality on the raw column: bucket-match vs instant -> fall back
    assert "used_preagg" not in layer.compile(
        metrics=["orders.revenue"],
        filters=["orders.order_date = TIMESTAMP '1997-06-01'"],
    )
    # month-aligned literal routes, and matches the base table
    kw2 = dict(
        metrics=["orders.revenue"],
        filters=["orders.order_date >= TIMESTAMP '1997-06-01'"],
    )
    assert "used_preagg" in layer.compile(**kw2)
    routed = layer.query(**kw2).collect()[0][0]
    raw = layer.query(**kw2, use_preaggs=False).collect()[0][0]
    assert routed == raw
    # coarser explicit grain (year) routes too
    assert "used_preagg" in layer.compile(
        metrics=["orders.revenue"],
        filters=["orders.order_date__year >= TIMESTAMP '1997-01-01'"],
    )


def test_boundary_ops_le_gt_not_routed(layer):
    """`ts <= B` against a truncated column keeps the ENTIRE bucket
    starting at B (and `ts > B` drops it) — only `>=` / `<` are exact
    under truncation, so `<=` / `>` must fall back to the base table."""
    for op in ("<=", ">"):
        sql = layer.compile(
            metrics=["orders.revenue"],
            filters=[f"orders.order_date {op} TIMESTAMP '1997-06-01'"],
        )
        assert "used_preagg" not in sql, op
    for op in (">=", "<"):
        sql = layer.compile(
            metrics=["orders.revenue"],
            filters=[f"orders.order_date {op} TIMESTAMP '1997-06-01'"],
        )
        assert "used_preagg" in sql, op


def test_window_total_metric_not_routed(layer):
    """Derived metrics using the BSL all() window total cannot be
    re-aggregated from rollup partials; routing used to emit invalid
    `all((SUM(revenue__sum)))` SQL — it must fall back instead."""
    sql = layer.compile(
        metrics=["orders.revenue", "orders.revenue_share"],
        dimensions=["orders.status"],
    )
    assert "used_preagg" not in sql
    rows = layer.query(
        metrics=["orders.revenue", "orders.revenue_share"],
        dimensions=["orders.status"],
    ).collect()
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 1e-9
    # plain revenue still routes (guard is per-metric, not global)
    assert "used_preagg" in layer.compile(
        metrics=["orders.revenue"], dimensions=["orders.status"]
    )


def test_timezone_bypasses_preagg_routing(spark, tmp_path):
    """Rollups are materialized with UTC-truncated buckets, so a
    timezone query must bucket live in the requested zone instead of
    silently returning UTC day boundaries (reference
    tests/dates/test_query_timezone.py:63-120). Invalid timezone
    strings are rejected before they reach a SQL literal."""
    import pytest as _pytest

    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.preagg.matcher import PreAggregation
    from sidemantic_spark.sql.generator import QueryCompileError

    layer = build_layer(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [PreAggregation(
        name="tzday", measures=["revenue"], dimensions=[],
        time_dimension="order_date", granularity="day")]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    kw = dict(metrics=["orders.revenue"],
              dimensions=["orders.order_date__day"])
    assert "used_preagg" in layer.compile(**kw)
    tz = layer.compile(timezone="America/New_York", **kw)
    assert "used_preagg" not in tz
    assert "FROM_UTC_TIMESTAMP" in tz
    with _pytest.raises(QueryCompileError, match="Invalid timezone"):
        layer.compile(timezone="UTC'; DROP TABLE x; --", **kw)
    with _pytest.raises(QueryCompileError, match="Invalid timezone"):
        layer.compile(timezone="America/New York", **kw)


def test_security_policy_bypasses_preagg_routing(spark, tmp_path):
    """A rollup is materialized without user context, so a query scoped
    by a SecurityPolicy must not be served from it (it would leak
    unscoped aggregates and skip the access gate); static
    model.row_filters ARE baked in at materialization and stay
    routable (reference tests/core/test_security_enforcement.py:239)."""
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    old_sec, old_rf = orders.security, list(orders.row_filters)
    orders.pre_aggregations = [PreAggregation(
        name="rlsday", measures=["revenue"], dimensions=["status"],
        time_dimension="order_date", granularity="day")]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    kw = dict(metrics=["orders.revenue"], dimensions=["orders.status"])
    try:
        assert "used_preagg" in layer.compile(**kw)
        orders.security = SecurityPolicy(
            row_filters=["o_orderstatus = {{ user.status }}"])
        scoped = layer.compile(user={"status": "F"}, **kw)
        assert "used_preagg" not in scoped
        # and the scoped result is actually filtered
        rows = layer.query(user={"status": "F"}, **kw).collect()
        assert {r["status"] for r in rows} == {"F"}
    finally:
        orders.security = old_sec
        orders.row_filters = old_rf
        orders.pre_aggregations = []


# ---------------------------------------------------------------------------
# Ungrouped (drill-to-detail) routing to PK-carrying rollups — mirrors
# reference tests/optimizations/test_pre_aggregations.py:2292-2671
# ---------------------------------------------------------------------------


@pytest.fixture()
def detail_layer(spark, tmp_path):
    """orders with a detail rollup storing the pk + status, plus an
    aggregate-only rollup."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.createDataFrame(
        [(1, "completed", 100.0), (2, "completed", 300.0), (3, "pending", 50.0)],
        "order_id long, status string, amount double",
    ).createOrReplaceTempView("ug_orders")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="ug_orders",
        table="ug_orders",
        primary_key="order_id",
        dimensions=[
            Dimension(name="order_id"),
            Dimension(name="status"),
        ],
        metrics=[
            Metric(name="revenue", agg="sum", sql="amount"),
            Metric(name="order_count", agg="count"),
            Metric(name="avg_amount", agg="avg", sql="amount"),
            Metric(name="approx_ids", agg="approx_count_distinct", sql="order_id"),
            Metric(name="big_revenue", agg="sum", sql="amount",
                   filters=["ug_orders.status = 'completed'"]),
        ],
        pre_aggregations=[
            PreAggregation(
                name="detail",
                measures=["revenue", "order_count", "avg_amount"],
                dimensions=["order_id", "status"],
            ),
            PreAggregation(
                name="by_status",
                measures=["revenue", "order_count"],
                dimensions=["status"],
            ),
        ],
    ))
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("ug_orders")
    return layer


def test_ungrouped_routes_to_pk_carrying_rollup(detail_layer):
    """An ungrouped query is served from a rollup that stores the pk,
    returning stored rows that equal the raw detail rows."""
    kw = dict(
        metrics=["ug_orders.revenue"],
        dimensions=["ug_orders.order_id", "ug_orders.status"],
        order_by=["order_id"],
        ungrouped=True,
    )
    sql = detail_layer.compile(**kw)
    assert "ug_orders_preagg_detail" in sql
    assert "used_preagg" in sql
    assert "GROUP BY" not in sql.upper()
    assert "HAVING" not in sql.upper()
    assert "SUM(revenue__sum)" not in sql  # raw column, not re-aggregated
    routed = [tuple(r) for r in detail_layer.spark.sql(sql).collect()]
    raw = [tuple(r) for r in detail_layer.query(**kw, use_preaggs=False).collect()]
    assert [(r[0], r[1], float(r[2])) for r in routed] == \
           [(r[0], r[1], float(r[2])) for r in raw]


def test_ungrouped_count_metric_from_detail_rollup(detail_layer):
    rows = detail_layer.query(
        metrics=["ug_orders.order_count"],
        dimensions=["ug_orders.order_id"],
        order_by=["order_id"],
        ungrouped=True,
    ).collect()
    assert [r["order_count"] for r in rows] == [1, 1, 1]


def test_ungrouped_rollup_without_pk_falls_to_raw(detail_layer):
    """Only the by_status rollup matching the queried shape is NOT
    pk-carrying when order_id is not requested... the detail rollup
    still carries the pk, so drop it to force the aggregate-only one."""
    model = detail_layer.graph.get_model("ug_orders")
    pas = model.pre_aggregations
    model.pre_aggregations = [pa for pa in pas if pa.name == "by_status"]
    try:
        sql = detail_layer.compile(
            metrics=["ug_orders.revenue"],
            dimensions=["ug_orders.status"],
            ungrouped=True,
        )
        assert "ug_orders_preagg_by_status" not in sql
        assert "ug_orders_cte" in sql
        assert "used_preagg" not in sql
    finally:
        model.pre_aggregations = pas


def test_ungrouped_keyless_model_falls_to_raw(spark, tmp_path):
    """An empty key set is not evidence that an aggregate rollup
    preserves detail rows."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.createDataFrame(
        [("completed", 100.0)], "status string, amount double",
    ).createOrReplaceTempView("ug_keyless")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="ug_keyless",
        table="ug_keyless",
        primary_key=None,
        dimensions=[Dimension(name="status")],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
        pre_aggregations=[PreAggregation(
            name="by_status", measures=["revenue"], dimensions=["status"])],
    ))
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("ug_keyless")
    sql = layer.compile(
        metrics=["ug_keyless.revenue"], dimensions=["ug_keyless.status"],
        ungrouped=True,
    )
    assert "ug_keyless_preagg_by_status" not in sql
    assert "used_preagg" not in sql
    plan = layer.explain_plan(
        metrics=["ug_keyless.revenue"], dimensions=["ug_keyless.status"],
        ungrouped=True,
    )
    assert "no declared primary key" in str(plan)


def test_ungrouped_composite_pk_partial_rollup_falls_to_raw(spark, tmp_path):
    """A rollup carrying only part of a composite pk cannot guarantee
    unique rows."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.createDataFrame(
        [(1, 1, "completed", 100.0)],
        "order_id long, line_id long, status string, amount double",
    ).createOrReplaceTempView("ug_lines")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="ug_lines",
        table="ug_lines",
        primary_key=["order_id", "line_id"],
        dimensions=[
            Dimension(name="order_id"),
            Dimension(name="line_id"),
            Dimension(name="status"),
        ],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
        pre_aggregations=[PreAggregation(
            name="partial", measures=["revenue"],
            dimensions=["order_id", "status"])],
    ))
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("ug_lines")
    sql = layer.compile(
        metrics=["ug_lines.revenue"],
        dimensions=["ug_lines.order_id", "ug_lines.status"],
        ungrouped=True,
    )
    assert "ug_lines_preagg_partial" not in sql


def test_ungrouped_avg_metric_bails_to_raw(detail_layer):
    """avg under ungrouped is not a per-row stored value, so even a PK
    rollup must fall to raw (reference bails; the raw path selects the
    raw column directly)."""
    sql = detail_layer.compile(
        metrics=["ug_orders.avg_amount"],
        dimensions=["ug_orders.order_id", "ug_orders.status"],
        ungrouped=True,
    )
    assert "ug_orders_preagg_detail" not in sql
    assert "ug_orders_cte" in sql


def test_ungrouped_metric_filter_bails_to_raw(detail_layer):
    sql = detail_layer.compile(
        metrics=["ug_orders.big_revenue"],
        dimensions=["ug_orders.order_id"],
        ungrouped=True,
    )
    assert "ug_orders_preagg_detail" not in sql


def test_ungrouped_approx_count_distinct_bails_to_raw(detail_layer):
    import pytest as _pytest

    with _pytest.raises(QueryCompileError, match="per-row"):
        detail_layer.compile(
            metrics=["ug_orders.approx_ids"],
            dimensions=["ug_orders.order_id"],
            ungrouped=True,
        )


def test_ungrouped_strict_without_pk_rollup_raises(detail_layer):
    """Strict mode + ungrouped errors when no PK-carrying rollup can
    serve the query."""
    import pytest as _pytest

    model = detail_layer.graph.get_model("ug_orders")
    pas = model.pre_aggregations
    model.pre_aggregations = [pa for pa in pas if pa.name == "by_status"]
    try:
        with _pytest.raises(QueryCompileError, match="preagg_strict"):
            detail_layer.compile(
                metrics=["ug_orders.revenue"],
                dimensions=["ug_orders.order_id", "ug_orders.status"],
                ungrouped=True, preagg_strict=True,
            )
    finally:
        model.pre_aggregations = pas


def test_ungrouped_metrics_raw_values_match_oracle(layer, duck):
    """Generator-level: ungrouped + metrics selects per-row raw values
    (reference sql/generator.py:3869-3872), verified against DuckDB."""
    df = layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["orders.status"],
        filters=["orders.status = 'P'"],
        ungrouped=True, use_preaggs=False,
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               CAST(o_totalprice AS DECIMAL(18,2)) AS revenue,
               1 AS order_count
        FROM orders WHERE o_orderstatus = 'P'
        """,
    )


def test_ungrouped_with_totals_rejected(layer):
    with pytest.raises(QueryCompileError, match="with_totals"):
        layer.compile(
            metrics=["orders.revenue"], dimensions=["orders.status"],
            ungrouped=True, with_totals=True,
        )


# ---------------------------------------------------------------------------
# Round-5 mining, part 2: matcher preference, filtered-measure baking,
# identifier validation, window-dim materialization rejection
# ---------------------------------------------------------------------------


def test_total_rollup_preferred_over_time_rollup_for_total_query(spark, tmp_path):
    """A total query picks the total rollup (1 row) over the day-grain
    one (ref test_preagg_matcher_prefers_total_rollup_over_time_rollup)."""
    from sidemantic_spark.models.tpch import build_layer as _bl

    layer = _bl(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(name="daily2", measures=["revenue"],
                       time_dimension="order_date", granularity="day"),
        PreAggregation(name="total2", measures=["revenue"]),
    ]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    sql = layer.compile(metrics=["orders.revenue"])
    assert "orders_preagg_total2" in sql
    # a month query still uses the day rollup
    sql2 = layer.compile(metrics=["orders.revenue"],
                         dimensions=["orders.order_date__month AS m"])
    assert "orders_preagg_daily2" in sql2


def test_filtered_measure_bakes_into_rollup_and_routes(spark, tmp_path, duck, sf_dir):
    """Metric-level filters bake into the stored partials (CASE WHEN at
    materialization, no empty GROUP BY for a total rollup) and the
    filtered metric ROUTES, reading pre-filtered state (reference
    test_total_rollup_materializes_filtered_metrics_without_empty_group_by
    + the additive-only filter coverage family)."""
    from sidemantic_spark.models.tpch import build_layer as _bl
    from sidemantic_spark.preagg.manager import rollup_select_sql

    layer = _bl(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    pa = PreAggregation(
        name="filt", measures=["open_revenue", "order_count"],
        dimensions=["priority"],
    )
    orders.pre_aggregations = [pa]
    mat = rollup_select_sql(orders, pa)
    assert "CASE WHEN" in mat and "o_orderstatus = 'O'" in mat
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    sql = layer.compile(metrics=["orders.open_revenue"],
                        dimensions=["orders.priority"])
    assert "orders_preagg_filt" in sql
    df = layer.query(metrics=["orders.open_revenue"],
                     dimensions=["orders.priority"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderpriority AS priority,
               SUM(CASE WHEN o_orderstatus = 'O'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS open_revenue
        FROM orders GROUP BY 1
        """,
    )


def test_cross_model_measure_filter_not_routable(spark, tmp_path):
    """A measure filter referencing ANOTHER model cannot bake into a
    single-table rollup: materialization raises, routing refuses."""
    from sidemantic_spark.core.model import Metric
    from sidemantic_spark.models.tpch import build_layer as _bl
    from sidemantic_spark.preagg.manager import rollup_select_sql

    layer = _bl(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    orders.metrics.append(Metric(
        name="seg_rev", agg="sum", sql="o_totalprice",
        filters=["customer.mktsegment = 'BUILDING'"],
    ))
    orders.reindex()
    pa = PreAggregation(name="xm", measures=["seg_rev"], dimensions=["status"])
    try:
        with pytest.raises(ValueError, match="cross-model"):
            rollup_select_sql(orders, pa)
        orders.pre_aggregations = [
            PreAggregation(name="xm2", measures=["revenue"], dimensions=["status"])]
        layer.preaggs.base_path = str(tmp_path)
        layer.preaggs.materialize("orders")
        sql = layer.compile(metrics=["orders.seg_rev"],
                            dimensions=["orders.status"])
        assert "used_preagg" not in sql
        # the cross-model metric filter auto-joins customer and executes
        assert "customer_cte" in sql
        rows = layer.query(metrics=["orders.seg_rev"],
                           dimensions=["orders.status"]).collect()
        assert len(rows) > 0
    finally:
        orders.metrics = [m for m in orders.metrics if m.name != "seg_rev"]
        orders.reindex()
        orders.pre_aggregations = []


def test_preagg_name_injection_rejected():
    """Names land in physical table identifiers: non-identifier names
    are rejected before they can reach SQL (reference
    test_preagg_injection_in_{model,preagg}_name_rejected)."""
    with pytest.raises(ValueError, match="identifier"):
        PreAggregation(name="x; DROP TABLE y; --", measures=["revenue"])
    pa = PreAggregation(name="ok", measures=["revenue"])
    with pytest.raises(ValueError, match="identifier"):
        pa.physical_name("orders; DROP TABLE z")
    assert pa.physical_name("orders") == "orders_preagg_ok"


def test_window_dimension_materialization_rejected(spark):
    """Window-function dimensions cannot appear in a GROUP BY
    materialization (reference
    test_generate_materialization_sql_rejects_window_dimension)."""
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.preagg.manager import rollup_select_sql

    model = Model(
        name="w_orders", table="w_orders", primary_key="id",
        dimensions=[
            Dimension(name="rank_in_day",
                      window="RANK() OVER (ORDER BY amount)"),
            Dimension(name="ts", type="time",
                      window="LAG(ts) OVER (ORDER BY ts)"),
        ],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
    )
    with pytest.raises(ValueError, match="window"):
        rollup_select_sql(model, PreAggregation(
            name="bywin", measures=["revenue"], dimensions=["rank_in_day"]))
    with pytest.raises(ValueError, match="window"):
        rollup_select_sql(model, PreAggregation(
            name="bytime", measures=["revenue"],
            time_dimension="ts", granularity="day"))


def test_recommender_scoring_naming_summary(layer):
    """Recommendation quality mirrors the reference's assertions
    (tests/optimizations/test_preagg_recommender.py:115-273): same
    ranked order on the same traffic shape, the reference's name
    scheme, and a summary honoring both thresholds."""
    from sidemantic_spark.preagg.recommender import (
        PreAggregationRecommender,
        QueryPattern,
    )

    rec = PreAggregationRecommender(layer.graph, min_query_count=2)
    hot = ("SELECT 1 -- sidemantic_spark models=orders "
           "metrics=orders.revenue dimensions=orders.status granularities=day")
    warm = ("SELECT 1 -- sidemantic_spark models=orders "
            "metrics=orders.order_count dimensions=orders.priority")
    cold = ("SELECT 1 -- sidemantic_spark models=orders "
            "metrics=orders.revenue dimensions=orders.o_custkey")
    rec.parse_query_log([hot] * 100 + [warm] * 50 + [cold])
    recs = rec.get_recommendations()
    assert len(recs) == 2  # third pattern below threshold
    assert recs[0].query_count == 100
    assert recs[0].pattern.metrics == frozenset(["revenue"])
    assert recs[1].query_count == 50

    # name scheme: {model}_{finest_grain}_{dims}_{metric|Nmetrics}
    assert rec._generate_name(QueryPattern(
        model="orders", metrics=frozenset(["revenue"]),
        dimensions=frozenset(["status"]), granularities=frozenset(["day"]),
    )) == "orders_day_status_revenue"
    assert rec._generate_name(QueryPattern(
        model="orders", metrics=frozenset(["revenue", "order_count"]),
        dimensions=frozenset(["status"]), granularities=frozenset(),
    )) == "orders_status_2metrics"
    # distinct >2-dim sets must not collide; neither do same-named
    # fields on different models
    n3 = rec._generate_name(QueryPattern(
        model="orders", metrics=frozenset(["revenue"]),
        dimensions=frozenset(["a", "b", "c"]), granularities=frozenset(),
    ))
    n4 = rec._generate_name(QueryPattern(
        model="orders", metrics=frozenset(["revenue"]),
        dimensions=frozenset(["x", "y", "z"]), granularities=frozenset(),
    ))
    assert n3 != n4 and "3dims_" in n3
    assert rec._generate_name(QueryPattern(
        model="customer", metrics=frozenset(["revenue"]),
        dimensions=frozenset(["status"]), granularities=frozenset(["day"]),
    )) != "orders_day_status_revenue"

    # benefit blend: hot narrow multi-metric beats cold wide single
    s_hot = rec._benefit_score(QueryPattern(
        model="orders", metrics=frozenset(["revenue", "order_count"]),
        dimensions=frozenset(["status"]), granularities=frozenset(),
    ), count=1000)
    s_cold = rec._benefit_score(QueryPattern(
        model="orders", metrics=frozenset(["revenue"]),
        dimensions=frozenset(["status", "priority", "o_custkey", "okey2"]),
        granularities=frozenset(),
    ), count=10)
    assert s_hot > 0.5 and s_cold < s_hot

    # summary honors count AND score thresholds
    summary = rec.get_summary()
    assert summary["total_queries"] == 151
    assert summary["unique_patterns"] == 3
    assert summary["models"]["orders"] == 151
    assert summary["patterns_above_threshold"] == 2
    assert summary["queries_skipped"] == 0

    # the recommended spec routes: the hot pattern's rollup has a time
    # dimension pulled from the model's actual dimension types
    preagg = recs[0].preagg
    assert preagg.name == "orders_day_status_revenue"
    assert preagg.measures == ["revenue"]
    assert preagg.dimensions == ["status"]


def test_recommender_cli_accessors(layer, tmp_path):
    """The CLI prints r.model/measures/dimensions/granularity — the
    accessor surface the reference exposes (was an AttributeError)."""
    from sidemantic_spark.preagg.recommender import PreAggregationRecommender

    rec = PreAggregationRecommender(layer.graph, min_query_count=1)
    rec.parse_query_log([
        "SELECT 1 -- sidemantic_spark models=orders "
        "metrics=orders.revenue dimensions=orders.status,orders.order_date "
        "granularities=month"
    ])
    r = rec.get_recommendations()[0]
    assert r.model == "orders"
    assert r.measures == ["revenue"]
    assert r.dimensions == ["status"]
    assert r.granularity == "month"
    assert r.suggested_name == r.preagg.name
    assert r.estimated_benefit_score == r.benefit_score

    # file ingestion path
    log = tmp_path / "q.sql"
    log.write_text(
        "SELECT 1 -- sidemantic_spark models=orders metrics=orders.revenue "
        "dimensions=orders.status;\n"
        "not instrumented\n"
    )
    rec2 = PreAggregationRecommender(layer.graph, min_query_count=1)
    rec2.parse_query_log_file(str(log))
    assert rec2.queries_matched == 1
    assert rec2.get_summary()["queries_skipped"] >= 1


def test_recommender_disambiguates_colliding_names(layer):
    """Two same-shaped patterns with different metric sets must not
    materialize into the same physical table — later duplicates get a
    metric-set digest suffix."""
    from sidemantic_spark.preagg.recommender import PreAggregationRecommender

    rec = PreAggregationRecommender(layer.graph, min_query_count=1)
    rec.parse_query_log(
        ["SELECT 1 -- sidemantic_spark models=orders "
         "metrics=orders.revenue,orders.order_count dimensions=orders.status"] * 3
        + ["SELECT 1 -- sidemantic_spark models=orders "
           "metrics=orders.max_order_value,orders.min_order_value "
           "dimensions=orders.status"] * 2
    )
    names = [r.preagg.name for r in rec.get_recommendations()]
    assert len(names) == len(set(names))
    assert any(n == "orders_status_2metrics" for n in names)
    assert any(n.startswith("orders_status_2metrics_") for n in names)


def test_recommender_end_to_end_parity(spark, sf_dir, tmp_path):
    """The reference's end-to-end recommendation fixture
    (tests/optimizations/test_preagg_recommender.py:291-333,417-471):
    the same observed-query stream through the REAL compiled SQL yields
    the same ranked rollup spec; applying it makes the traffic route;
    routed (used_preagg) traffic stops feeding the recommender;
    top_n=0 yields nothing."""
    from sidemantic_spark.preagg.recommender import PreAggregationRecommender

    layer = build_layer(spark, sf_dir)
    layer.graph.get_model("orders").pre_aggregations = []
    queries = [
        layer.compile(
            metrics=["orders.revenue"],
            dimensions=["orders.status", "orders.order_date__day"],
        )
        for _ in range(100)
    ]
    rec = PreAggregationRecommender(layer.graph, min_query_count=10)
    rec.parse_query_log(queries)
    assert rec.get_recommendations(top_n=0) == []
    recs = rec.get_recommendations(top_n=1)
    assert len(recs) == 1
    assert recs[0].query_count == 100
    preagg = recs[0].preagg
    assert preagg.type == "rollup"
    assert "revenue" in preagg.measures
    assert preagg.time_dimension == "order_date"
    assert preagg.granularity == "day"
    assert preagg.dimensions == ["status"]

    # apply + materialize -> the observed traffic now routes
    rec.apply(recs[0])
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    routed_sql = layer.compile(
        metrics=["orders.revenue"],
        dimensions=["orders.status", "orders.order_date__day"],
    )
    assert "used_preagg" in routed_sql

    # routed traffic must not re-feed the recommender
    rec2 = PreAggregationRecommender(layer.graph, min_query_count=1)
    rec2.parse_query_log([routed_sql])
    assert rec2.get_recommendations() == []
    layer.graph.get_model("orders").pre_aggregations = []


def test_recommender_no_time_dim_stays_grainless(layer):
    """Granularity tokens without a time-typed dimension must not
    truncate a categorical (ref
    test_time_dimension_not_forced_onto_categorical_dimension)."""
    from sidemantic_spark.preagg.recommender import PreAggregationRecommender

    rec = PreAggregationRecommender(layer.graph, min_query_count=1)
    rec.parse_query_log([
        "SELECT 1 -- sidemantic_spark models=orders "
        "metrics=orders.revenue dimensions=orders.status granularities=day"
    ])
    recs = rec.get_recommendations()
    assert len(recs) == 1
    preagg = recs[0].preagg
    assert preagg.time_dimension is None
    assert preagg.granularity is None
    assert preagg.dimensions == ["status"]


def test_preagg_routing_identity_fuzz(layer, spark):
    """Routing-identity fuzz: for random queries over rollup-covered
    and rollup-exceeding field combos, use_preaggs on/off must return
    identical rows — whether the router used the rollup or refused it
    is an optimization detail, never a results change. explain_plan
    (compile only) reports the rollup each compiled SQL names."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    covered_metrics = ["orders.revenue", "orders.order_count",
                       "orders.avg_order_value", "orders.customer_count"]
    # max_order_value is NOT materialized -> forces raw fallback
    all_metrics = covered_metrics + ["orders.max_order_value"]
    dims = ["orders.status", "orders.priority", "orders.order_date__month",
            "orders.order_date__year"]
    filt = [None, "orders.status = 'F'",
            "orders.order_date__year >= TIMESTAMP '1996-01-01'"]

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        ms=st.lists(st.sampled_from(all_metrics), min_size=1, max_size=3,
                    unique=True),
        ds=st.lists(st.sampled_from(dims), min_size=0, max_size=2, unique=True),
        f=st.sampled_from(filt),
    )
    def check(ms, ds, f):
        kwargs = dict(metrics=ms, dimensions=ds,
                      filters=[f] if f else [])
        routed = sorted(map(tuple, layer.query(**kwargs).collect()), key=repr)
        raw = sorted(map(tuple, layer.query(
            **kwargs, use_preaggs=False).collect()), key=repr)
        assert routed == raw, (ms, ds, f)
        ex = layer.explain_plan(**kwargs)
        assert ex["preagg"]["used"] == ex["used_preagg"], (ms, ds, f)
        off = layer.explain_plan(**kwargs, use_preaggs=False)
        assert off["preagg"]["used"] is None and off["used_preagg"] is None

    check()


def test_preagg_same_dim_two_grains(spark, sf_dir):
    """One query grouping the SAME time dimension at two grains (month
    AND year) must route with per-grain rewrites — a name-keyed dim_map
    silently collapsed both onto one DATE_TRUNC (round-9 fuzz find)."""
    import tempfile

    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.preagg.matcher import PreAggregation

    layer = build_layer(spark, sf_dir)
    om = layer.graph.get_model("orders")
    om.pre_aggregations = [PreAggregation(
        name="two_grain", measures=["revenue"], dimensions=["status"],
        time_dimension="order_date", granularity="day",
    )]
    layer.preaggs.base_path = tempfile.mkdtemp(prefix="preagg_2g_")
    layer.preaggs.materialize("orders")
    kwargs = dict(
        metrics=["orders.revenue"],
        dimensions=["orders.order_date__month", "orders.order_date__year"],
    )
    sql = layer.compile(**kwargs)
    assert "used_preagg" in sql.splitlines()[0]
    assert "DATE_TRUNC('month'" in sql and "DATE_TRUNC('year'" in sql
    routed = sorted(map(tuple, layer.query(**kwargs).collect()), key=repr)
    raw = sorted(map(tuple, layer.query(
        **kwargs, use_preaggs=False).collect()), key=repr)
    assert routed == raw


def test_pk_grain_rollup_projects_instead_of_aggregating(spark, sf_dir):
    """r13: a rollup whose dimensions cover the model's primary key is
    row-grain — materialize must produce byte-identical contents (values
    AND schema, SUM's type promotion included) from a pure projection,
    and the projection plan must carry no Exchange/HashAggregate."""
    import shutil

    from pyspark.sql import functions as F

    from sidemantic_spark.core.model import Dimension
    from sidemantic_spark.preagg.manager import pk_grain_select_sql, rollup_select_sql

    path = "/tmp/sidemantic_spark_test_preaggs_pk"
    shutil.rmtree(path, ignore_errors=True)
    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.dimensions.append(Dimension(name="okey", sql="o_orderkey"))
    orders.reindex()
    layer.graph._invalidate()
    pa = PreAggregation(
        name="pk_detail",
        measures=["revenue", "order_count", "avg_order_value", "customer_count"],
        dimensions=["okey", "status"],
    )
    orders.pre_aggregations = [pa]
    layer.preaggs.base_path = path

    agg_df = spark.sql(rollup_select_sql(orders, pa))
    fast_sql = pk_grain_select_sql(orders, pa, agg_df.schema)
    assert fast_sql is not None
    fast_df = spark.sql(fast_sql)
    # identical schema (names, types, order) and identical rows
    assert [
        (f.name, f.dataType.simpleString()) for f in fast_df.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in agg_df.schema.fields]
    assert fast_df.exceptAll(agg_df).count() == 0
    assert agg_df.exceptAll(fast_df).count() == 0
    # projection plan: no shuffle, no aggregation
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan, plan
    # materialize() itself takes the fast path and routing still works
    layer.preaggs.materialize("orders")
    rolled = spark.read.parquet(f"{path}/orders_preagg_pk_detail")
    assert rolled.count() == spark.table("orders").count()
    kw = dict(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["orders.okey", "orders.status"],
        ungrouped=True,
    )
    routed = layer.compile(**kw)
    assert "plan=preagg-ungrouped" in routed
    # approx_count_distinct keeps the aggregate form (no scalar sketch)
    pa2 = PreAggregation(
        name="pk_hll",
        measures=["approx_customers"],
        dimensions=["okey"],
    )
    agg2 = spark.sql(rollup_select_sql(orders, pa2))
    assert pk_grain_select_sql(orders, pa2, agg2.schema) is None
    # non-pk dims keep the aggregate form
    pa3 = PreAggregation(name="no_pk", measures=["revenue"], dimensions=["status"])
    agg3 = spark.sql(rollup_select_sql(orders, pa3))
    assert pk_grain_select_sql(orders, pa3, agg3.schema) is None
