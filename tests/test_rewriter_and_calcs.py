"""Semantic SQL rewriter + table calculations vs DuckDB oracle."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sidemantic_spark.models.tpch import build_layer
from sidemantic_spark.sql.generator import QueryCompileError
from sidemantic_spark.sql.table_calcs import TableCalculation
from tests.conftest import assert_df_matches_oracle


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    return build_layer(spark, sf_dir)


def test_simple_semantic_sql(layer, duck):
    df = layer.sql("SELECT orders.status, orders.revenue FROM orders")
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_semantic_sql_bare_columns_where_order_limit(layer, duck):
    df = layer.sql(
        "SELECT status, revenue AS rev FROM orders "
        "WHERE priority = '1-URGENT' ORDER BY rev DESC LIMIT 2"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1 ORDER BY rev DESC LIMIT 2
        """,
    )


def test_semantic_sql_cross_model_refs(layer, duck):
    df = layer.sql(
        "SELECT nation.name AS nation_name, orders.revenue FROM orders"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT n.n_name AS nation_name, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
        """,
    )


def test_semantic_sql_grain_suffix(layer, duck):
    df = layer.sql(
        "SELECT orders.order_date__month AS order_month, orders.revenue FROM orders"
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


def test_semantic_sql_having_metric_filter(layer, duck):
    df = layer.sql(
        "SELECT priority, revenue FROM orders HAVING revenue > 10000000"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderpriority AS priority, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 10000000
        """,
    )


def test_semantic_sql_union(layer, duck):
    df = layer.sql(
        "SELECT status, revenue FROM orders WHERE status = 'O' "
        "UNION ALL "
        "SELECT status, revenue FROM orders WHERE status = 'F'"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
        UNION ALL
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        """,
    )


def test_semantic_sql_dims_only_groups_at_dim_grain(layer, duck):
    """Dimension-only semantic SQL groups at the dimension grain, like
    the reference rewriter (ref tests/queries/test_sql_rewriter.py:412).
    Raw-row drill-to-detail is the structured ungrouped=True API."""
    df = layer.sql("SELECT status, priority FROM orders WHERE status = 'P'")
    assert_df_matches_oracle(
        df,
        duck,
        "SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority "
        "FROM orders WHERE o_orderstatus = 'P'",
    )


def test_semantic_sql_distinct_dims(layer, duck):
    df = layer.sql("SELECT DISTINCT status, priority FROM orders")
    assert_df_matches_oracle(
        df,
        duck,
        "SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority FROM orders",
    )


def test_semantic_sql_rejects_unknown_refs(layer):
    with pytest.raises(QueryCompileError, match="references no known"):
        layer.sql("SELECT no_such_col * 2 FROM orders")


def test_expression_over_metrics(layer, duck):
    """Ad-hoc expressions over metrics compile to a wrapper select
    (ref sql/query_rewriter.py:5708-5897 _rewrite_expression_query)."""
    df = layer.sql(
        "SELECT orders.status, orders.revenue / 1000 AS rev_k FROM orders "
        "ORDER BY rev_k DESC LIMIT 2"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) / 1000 AS rev_k
        FROM orders GROUP BY 1 ORDER BY rev_k DESC LIMIT 2
        """,
    )


def test_expression_having_on_alias(layer, duck):
    df = layer.sql(
        "SELECT orders.priority, orders.revenue / orders.order_count AS aov "
        "FROM orders HAVING aov > 250000 ORDER BY aov DESC"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT * FROM (
            SELECT o_orderpriority AS priority,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) / COUNT(*) AS aov
            FROM orders GROUP BY 1
        ) WHERE aov > 250000 ORDER BY aov DESC
        """,
    )


def test_cte_island(layer, duck):
    """WITH bodies that are semantic queries rewrite independently
    (ref sql/query_rewriter.py:4913-4973 CTE islands)."""
    df = layer.sql(
        """
        WITH rev AS (SELECT orders.status, orders.revenue FROM orders),
        cnt AS (SELECT orders.status, orders.order_count FROM orders)
        SELECT r.status, r.revenue, c.order_count
        FROM rev r JOIN cnt c ON r.status = c.status
        """
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


def test_from_subquery_island(layer, duck):
    """Plain-SQL wrapper over a semantic subquery (ref
    sql/query_rewriter.py:5299-5461 subquery islands)."""
    df = layer.sql(
        """
        SELECT MAX(revenue) AS max_rev
        FROM (SELECT orders.status, orders.revenue FROM orders) t
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT MAX(revenue) AS max_rev FROM (
            SELECT o_orderstatus AS status,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        ) t
        """,
    )


def test_explain_sql(layer):
    info = layer.explain_sql("SELECT orders.status, orders.revenue FROM orders")
    assert info["plan"] == "grouped"
    assert info["models"] == ["orders"]
    assert not info["used_preagg"]


# -- table calculations -------------------------------------------------

def test_percent_of_total(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.status"],
        table_calcs=[
            TableCalculation(name="pct_of_total", type="percent_of_total", field="revenue")
        ],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH q AS (
            SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT status, revenue,
               CAST(revenue AS DOUBLE) * 100 / NULLIF(CAST(SUM(revenue) OVER () AS DOUBLE), 0) AS pct_of_total
        FROM q
        """,
    )


def test_rank_and_row_number(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.priority"],
        table_calcs=[
            TableCalculation(name="rev_rank", type="rank", order_by=["revenue DESC"]),
            TableCalculation(name="rn", type="row_number", order_by=["revenue DESC"]),
        ],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH q AS (
            SELECT o_orderpriority AS priority, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT priority, revenue,
               RANK() OVER (ORDER BY revenue DESC) AS rev_rank,
               ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn
        FROM q
        """,
    )


def test_running_total_and_moving_average(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.order_date__month AS order_month"],
        table_calcs=[
            TableCalculation(
                name="cum", type="running_total", field="revenue", order_by=["order_month"]
            ),
            TableCalculation(
                name="ma3",
                type="moving_average",
                field="revenue",
                order_by=["order_month"],
                window_size=3,
            ),
        ],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH q AS (
            SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT order_month, revenue,
               SUM(revenue) OVER (ORDER BY order_month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               CAST(SUM(revenue) OVER (ORDER BY order_month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / COUNT(revenue) OVER (ORDER BY order_month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
        FROM q
        """,
    )


def test_formula_and_percent_of_previous(layer, duck):
    df = layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["orders.order_date__year AS order_year"],
        table_calcs=[
            TableCalculation(
                name="rev_per_order",
                type="formula",
                formula="CAST(revenue AS DOUBLE) / order_count",
            ),
            TableCalculation(
                name="pct_prev",
                type="percent_of_previous",
                field="revenue",
                order_by=["order_year"],
            ),
        ],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH q AS (
            SELECT CAST(DATE_TRUNC('year', o_orderdate) AS TIMESTAMP) AS order_year,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
                   COUNT(*) AS order_count
            FROM orders GROUP BY 1
        )
        SELECT order_year, revenue, order_count,
               CAST(revenue AS DOUBLE) / order_count AS rev_per_order,
               (CAST(revenue AS DOUBLE) - LAG(revenue) OVER (ORDER BY order_year))
                 * 100 / NULLIF(CAST(LAG(revenue) OVER (ORDER BY order_year) AS DOUBLE), 0) AS pct_prev
        FROM q
        """,
    )


def test_yardstick_aggregate_flavor(layer, duck):
    """Yardstick SEMANTIC prefix + AGGREGATE(measure) refs
    (ref sql/query_rewriter.py:3007-3043)."""
    from tests.conftest import assert_df_matches_oracle

    df = layer.sql(
        "SEMANTIC SELECT orders.status, AGGREGATE(orders.revenue) AS revenue, "
        "AGGREGATE(orders.order_count) AS order_count FROM orders"
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


def test_explicit_join_validation(layer, duck):
    """User-written JOINs must match declared relationship keys
    (ref sql/query_rewriter.py:5568-5707); valid joins compile through
    the relationship graph, invalid keys are rejected."""
    from tests.conftest import assert_df_matches_oracle

    df = layer.sql(
        "SELECT customer.mktsegment, orders.revenue "
        "FROM orders JOIN customer ON orders.custkey = customer.c_custkey"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT c.c_mktsegment AS mktsegment,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        """,
    )


def test_explicit_join_wrong_keys_rejected(layer):
    import pytest

    from sidemantic_spark.sql.generator import QueryCompileError

    with pytest.raises(QueryCompileError, match="does not match any declared"):
        layer.rewrite(
            "SELECT customer.mktsegment, orders.revenue "
            "FROM orders JOIN customer ON orders.orderkey = customer.custkey"
        )


def test_explicit_join_unknown_model_rejected(layer):
    import pytest

    with pytest.raises(Exception):
        layer.rewrite(
            "SELECT orders.revenue FROM orders JOIN nonexistent ON orders.x = nonexistent.y"
        )


# -- wrapper-shape optimization rules (ref sql/query_rewriter.py:638-2428) --


def test_distinct_dims_rule(layer, duck):
    sql = "SELECT DISTINCT status FROM (SELECT orders.status, orders.revenue FROM orders)"
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["distinct_dims"]
    # the unused revenue aggregation must be gone from the plan
    assert "SUM" not in ex["compiled_sql"].upper()
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        "SELECT DISTINCT o_orderstatus AS status FROM orders",
    )


def test_time_rollup_rule_matches_direct_month_query(layer, duck):
    sql = (
        "SELECT DATE_TRUNC('month', order_date__day) AS order_date__month, "
        "SUM(revenue) AS revenue "
        "FROM (SELECT orders.order_date__day, orders.revenue FROM orders) GROUP BY 1"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["time_rollup"]
    direct = layer.compile(
        metrics=["orders.revenue"], dimensions=["orders.order_date__month"]
    )
    assert ex["compiled_sql"] == direct
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_date__month,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_time_rollup_rejects_non_derivable_grain(layer):
    # month -> week is not derivable; the wrapper stays a plain island
    sql = (
        "SELECT DATE_TRUNC('week', order_date__month) AS w, SUM(revenue) AS revenue "
        "FROM (SELECT orders.order_date__month, orders.revenue FROM orders) GROUP BY 1"
    )
    ex = layer.explain_sql(sql)
    assert "time_rollup" not in ex["applied_rules"]


def test_wrapper_pushdown_rule(layer, duck):
    sql = (
        "SELECT * FROM (SELECT orders.status, orders.revenue FROM orders) "
        "WHERE revenue > 1000 ORDER BY revenue DESC LIMIT 3"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["wrapper_pushdown"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000
        ORDER BY revenue DESC LIMIT 3
        """,
    )


def test_wrapper_pushdown_drops_unprojected_metric(layer):
    sql = (
        "SELECT status, revenue FROM "
        "(SELECT orders.status, orders.revenue, orders.order_count FROM orders) "
        "LIMIT 5"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["wrapper_pushdown"]
    assert "order_count" not in ex["compiled_sql"]


def test_rownum_topn_limit_rule(layer, duck):
    sql = (
        "SELECT status, revenue FROM (SELECT orders.status, orders.revenue, "
        "ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn FROM orders) WHERE rn <= 2"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["rownum_topn_limit"]
    assert "ROW_NUMBER" not in ex["compiled_sql"].upper()
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 ORDER BY revenue DESC LIMIT 2
        """,
    )


def test_rownum_topn_window_rule(layer, duck):
    sql = (
        "SELECT * FROM (SELECT orders.status, orders.order_date__year, orders.revenue, "
        "RANK() OVER (PARTITION BY status ORDER BY revenue DESC) AS rn FROM orders) "
        "WHERE rn <= 1"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["rownum_topn_window"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               CAST(DATE_TRUNC('year', o_orderdate) AS TIMESTAMP) AS order_date__year,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1, 2
        QUALIFY RANK() OVER (PARTITION BY status ORDER BY revenue DESC) <= 1
        """,
    )


def test_qualify_topn_limit(layer, duck):
    sql = (
        "SELECT orders.status, orders.revenue FROM orders "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY revenue DESC) <= 2"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["qualify_topn_limit"]
    assert "ROW_NUMBER" not in ex["compiled_sql"].upper()
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 ORDER BY revenue DESC LIMIT 2
        """,
    )


def test_qualify_topn_window(layer, duck):
    sql = (
        "SELECT orders.status, orders.order_date__year, orders.revenue FROM orders "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY status ORDER BY revenue DESC) <= 2"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["qualify_topn_window"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               CAST(DATE_TRUNC('year', o_orderdate) AS TIMESTAMP) AS order_date__year,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1, 2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC) <= 2
        """,
    )


# ---------------------------------------------------------------------------
# Yardstick AT (...) context modifiers (ref query_rewriter.py:3630-3760
# parse, :4742-4904 apply)
# ---------------------------------------------------------------------------

def test_at_all_grand_total(layer, duck):
    sql = (
        "SEMANTIC SELECT orders.status, AGGREGATE(orders.revenue) AS revenue, "
        "AGGREGATE(orders.revenue) AT (ALL) AS total_revenue FROM orders"
    )
    ex = layer.explain_sql(sql)
    assert "yardstick_at_modifiers" in ex["applied_rules"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
               SUM(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) OVER () AS total_revenue
        FROM orders GROUP BY 1
        """,
    )


def test_at_all_partial(layer, duck):
    # two dims; ALL removes one -> subtotal joined back on the survivor
    sql = (
        "SEMANTIC SELECT orders.status, orders.priority, "
        "AGGREGATE(orders.revenue) AS revenue, "
        "AGGREGATE(orders.revenue) AT (ALL priority) AS status_total FROM orders"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
               SUM(SUM(CAST(o_totalprice AS DECIMAL(18,2))))
                   OVER (PARTITION BY o_orderstatus) AS status_total
        FROM orders GROUP BY 1, 2
        """,
    )


def test_at_set_pins_dimension(layer, duck):
    sql = (
        "SEMANTIC SELECT orders.status, "
        "AGGREGATE(orders.revenue) AT (SET status = 'O') AS open_revenue "
        "FROM orders"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FROM orders WHERE o_orderstatus = 'O') AS open_revenue
        FROM orders GROUP BY 1
        """,
    )


def test_at_set_in_list(layer, duck):
    sql = (
        "SEMANTIC SELECT orders.priority, "
        "AGGREGATE(orders.revenue) AS revenue, "
        "AGGREGATE(orders.revenue) AT (SET status IN ('O', 'F')) AS of_revenue "
        "FROM orders"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderpriority AS priority,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue,
               (SELECT SUM(CAST(t.o_totalprice AS DECIMAL(18,2))) FROM orders t
                WHERE t.o_orderstatus IN ('O', 'F')
                  AND t.o_orderpriority = orders.o_orderpriority) AS of_revenue
        FROM orders GROUP BY 1
        """,
    )


def test_at_single_where_noncorrelated(layer, duck):
    # a lone WHERE modifier evaluates in a non-correlated context:
    # same value on every row (ref query_rewriter.py:4774-4777)
    sql = (
        "SEMANTIC SELECT orders.status, "
        "AGGREGATE(orders.revenue) AT (WHERE priority = '1-URGENT') AS urgent_rev "
        "FROM orders"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FROM orders WHERE o_orderpriority = '1-URGENT') AS urgent_rev
        FROM orders GROUP BY 1
        """,
    )


def test_at_visible_includes_query_where(layer, duck):
    # bare-measure AT defaults to ignoring the query WHERE; VISIBLE
    # opts in (ref include_visible_default + VISIBLE modifier)
    sql = (
        "SEMANTIC SELECT orders.status, "
        "orders.revenue AT (ALL, VISIBLE) AS filtered_total, "
        "orders.revenue AT (ALL) AS unfiltered_total "
        "FROM orders WHERE orders.priority = '1-URGENT'"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status,
               (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FROM orders WHERE o_orderpriority = '1-URGENT') AS filtered_total,
               (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FROM orders) AS unfiltered_total
        FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        """,
    )


def test_at_requires_measure(layer):
    with pytest.raises(QueryCompileError):
        layer.sql(
            "SELECT orders.status, orders.priority AT (ALL) FROM orders"
        )


def test_topn_with_offset_not_folded(layer, duck):
    """LIMIT folding of rn<=k is only valid without OFFSET; with one,
    the compile must keep an explicit window stage (or naive wrapper)
    so rows beyond the top-N cutoff are never returned."""
    from tests.conftest import assert_df_matches_oracle

    sql_text = (
        "SELECT orders.priority, orders.revenue FROM orders "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY orders.revenue DESC) <= 3 "
        "OFFSET 1"
    )
    df = layer.sql(sql_text)
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT priority, revenue FROM (
            SELECT o_orderpriority AS priority,
                   SUM(o_totalprice) AS revenue,
                   ROW_NUMBER() OVER (ORDER BY SUM(o_totalprice) DESC) AS rn
            FROM orders GROUP BY 1
        ) WHERE rn <= 3
        ORDER BY revenue DESC OFFSET 1
        """,
    )


def test_cte_shadowing_model_name(layer, duck):
    """A CTE named like a model shadows it (SQL scoping): the outer
    SELECT must read the CTE, not compile against the model."""
    from tests.conftest import assert_df_matches_oracle

    df = layer.sql(
        "WITH orders AS (SELECT 42 AS answer) SELECT answer FROM orders"
    )
    assert [r.answer for r in df.collect()] == [42]


def test_table_calc_null_semantics_match_reference(spark):
    """NULL handling parity with the reference's row processor
    (tests/core/test_table_calculations.py NULL family): running totals
    and formulas treat NULL as 0, percent_of_total yields 0%, moving
    averages divide by the FULL frame width, rank defaults to field
    DESC with NULL ranked as 0."""
    from sidemantic_spark.sql.table_calcs import apply_table_calcs

    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 20.0)], "i int, value double"
    ).createOrReplaceTempView("tc_nulls")
    base = "SELECT i, value FROM tc_nulls"

    def run(calc):
        sql = apply_table_calcs(base, [calc])
        return [r[-1] for r in spark.sql(sql).orderBy("i").collect()]

    assert run(TableCalculation(
        name="rt", type="running_total", field="value", order_by=["i"],
    )) == [10.0, 10.0, 30.0]
    assert run(TableCalculation(
        name="ma", type="moving_average", field="value", order_by=["i"],
        window_size=3,
    )) == [10.0, 5.0, 10.0]
    pct = run(TableCalculation(
        name="pct", type="percent_of_total", field="value"))
    by_i = dict(zip([1, 2, 3], pct))
    assert by_i[2] == 0.0
    assert abs(by_i[1] - 100.0 * 10 / 30) < 1e-9
    # rank defaults to field DESC, NULL as 0 -> last
    ranks = dict(zip([1, 2, 3], run(TableCalculation(
        name="rnk", type="rank", field="value"))))
    assert ranks == {1: 2, 2: 3, 3: 1}
    # ${col} formula placeholders coalesce NULL to 0
    f = run(TableCalculation(
        name="s", type="formula", formula="${value} + 1"))
    assert f == [11.0, 1.0, 21.0]
    # all-NULL running total stays 0, not NULL
    spark.createDataFrame(
        [(1, None), (2, None)], "i int, value double"
    ).createOrReplaceTempView("tc_allnull")
    sql = apply_table_calcs("SELECT i, value FROM tc_allnull", [
        TableCalculation(name="rt", type="running_total", field="value",
                         order_by=["i"])])
    assert [r[-1] for r in spark.sql(sql).orderBy("i").collect()] == [0.0, 0.0]


def test_from_metrics_virtual_table(spark, sf_dir, duck):
    """`FROM metrics` virtual catalog table: any model's fields by
    qualified name, graph metrics by bare name; SELECT * and bare field
    names are rejected (reference tests/queries/test_sql_rewriter.py
    from-metrics family)."""
    import pytest as _pytest

    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.generator import QueryCompileError
    from tests.conftest import assert_df_matches_oracle

    layer = build_layer(spark, sf_dir)
    df = layer.sql(
        "SELECT orders.revenue, customer.mktsegment FROM metrics "
        "GROUP BY customer.mktsegment"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue,
               c.c_mktsegment AS mktsegment
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 2
        """,
    )
    with _pytest.raises(QueryCompileError, match="SELECT \\*"):
        layer.rewrite("SELECT * FROM metrics")
    with _pytest.raises(QueryCompileError, match="model-qualified"):
        layer.rewrite("SELECT revenue FROM metrics")


def test_select_star_and_adhoc_count(spark, sf_dir, duck):
    """SELECT * expands to public dims + simple metrics; ad-hoc COUNT(*)
    aggregates base rows (reference test_select_star_expansion +
    test_ad_hoc_count_aggregation)."""
    from sidemantic_spark.models.tpch import build_layer
    from tests.conftest import assert_df_matches_oracle

    layer = build_layer(spark, sf_dir)
    df = layer.sql("SELECT COUNT(*) AS n, orders.status FROM orders "
                   "GROUP BY orders.status")
    assert_df_matches_oracle(
        df,
        duck,
        "SELECT COUNT(*) AS n, o_orderstatus AS status FROM orders GROUP BY 2",
    )
    star = layer.rewrite("SELECT * FROM region")
    cols = layer.spark.sql(star).columns
    assert "name" in cols  # region's public dimension expanded


def test_recursive_cte_preserved(spark, sf_dir, duck):
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, sf_dir)
    out = layer.rewrite(
        "WITH RECURSIVE nums AS (SELECT 1 AS n UNION ALL SELECT n+1 "
        "FROM nums WHERE n < 3) "
        "SELECT nums.n FROM nums"
    )
    assert "RECURSIVE" in out
    assert sorted(r[0] for r in layer.spark.sql(out).collect()) == [1, 2, 3]


def test_expanded_rownum_topn_bi_shape(layer, duck):
    """The BI-expanded 3-level top-N (projection over a ROW_NUMBER
    level over the semantic island) folds to the same ORDER BY+LIMIT
    plan as the 1-level form (reference global_row_number_topn,
    tests/queries/test_semantic_sql_planner.py:2776-2808); the
    redundant outer ORDER BY restating the window order does not block
    the fast path."""
    sql = (
        "SELECT status, revenue FROM ("
        "SELECT status, revenue, ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn "
        "FROM (SELECT orders.revenue, orders.status FROM orders) semantic_result"
        ") ranked WHERE rn <= 2 ORDER BY revenue DESC"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["rownum_topn_limit"]
    assert "ROW_NUMBER" not in ex["compiled_sql"].upper()
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 ORDER BY revenue DESC LIMIT 2
        """,
    )


def test_expanded_rownum_between_pagination(layer, duck):
    """rn BETWEEN a AND b is LIMIT/OFFSET pagination (reference
    test_global_row_number_between_rewrites_to_limit_offset)."""
    sql = (
        "SELECT status, revenue FROM ("
        "SELECT status, revenue, ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn "
        "FROM (SELECT orders.revenue, orders.status FROM orders) semantic_result"
        ") ranked WHERE rn BETWEEN 2 AND 3"
    )
    ex = layer.explain_sql(sql)
    assert ex["applied_rules"] == ["rownum_topn_limit"]
    assert "LIMIT 2" in ex["compiled_sql"]
    assert "OFFSET 1" in ex["compiled_sql"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1 ORDER BY revenue DESC LIMIT 2 OFFSET 1
        """,
    )


def test_expanded_rank_tie_semantics_stay_postprocess(layer, duck):
    """RANK carries tie semantics: the expanded wrapper must NOT fold
    to a global LIMIT (reference rejects with 'only ROW_NUMBER is
    supported'); the island still compiles and the wrapper evaluates
    the rank as written."""
    sql = (
        "SELECT status, revenue FROM ("
        "SELECT status, revenue, RANK() OVER (ORDER BY revenue DESC) AS rv "
        "FROM (SELECT orders.revenue, orders.status FROM orders) semantic_result"
        ") ranked WHERE rv <= 1"
    )
    ex = layer.explain_sql(sql)
    assert "rownum_topn_limit" not in ex["applied_rules"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT status, revenue FROM (
            SELECT status, revenue, RANK() OVER (ORDER BY revenue DESC) AS rv
            FROM (SELECT o_orderstatus AS status,
                         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
                  FROM orders GROUP BY 1)
        ) WHERE rv <= 1
        """,
    )


def test_expanded_partitioned_rank_not_global_limit(layer, duck):
    """PARTITION BY in the expanded shape is per-group top-N — folding
    it to a global LIMIT would be wrong rows (reference
    test_global_row_number_topn_rejects_partitioned_rank)."""
    sql = (
        "SELECT status, priority, revenue FROM ("
        "SELECT status, priority, revenue, "
        "ROW_NUMBER() OVER (PARTITION BY status ORDER BY revenue DESC) AS rn "
        "FROM (SELECT orders.status, orders.priority, orders.revenue FROM orders) sq"
        ") ranked WHERE rn <= 1"
    )
    ex = layer.explain_sql(sql)
    assert "rownum_topn_limit" not in ex["applied_rules"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT status, priority, revenue FROM (
            SELECT status, priority, revenue,
                   ROW_NUMBER() OVER (PARTITION BY status ORDER BY revenue DESC) AS rn
            FROM (SELECT o_orderstatus AS status, o_orderpriority AS priority,
                         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
                  FROM orders GROUP BY 1, 2)
        ) WHERE rn <= 1
        """,
    )


def test_expanded_rank_column_projected_stays_postprocess(layer, duck):
    """Projecting the rank column itself means the rewrite cannot drop
    the window (reference rejects 'outer projection rn is not an inner
    semantic field'); rows must still be correct via postprocess."""
    sql = (
        "SELECT status, rn FROM ("
        "SELECT status, revenue, ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn "
        "FROM (SELECT orders.revenue, orders.status FROM orders) semantic_result"
        ") ranked WHERE rn <= 2"
    )
    ex = layer.explain_sql(sql)
    assert "rownum_topn_limit" not in ex["applied_rules"]
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT status, rn FROM (
            SELECT status, ROW_NUMBER() OVER (ORDER BY revenue DESC) AS rn
            FROM (SELECT o_orderstatus AS status,
                         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
                  FROM orders GROUP BY 1)
        ) WHERE rn <= 2
        """,
    )


def test_nested_wrapper_recursion_compiles_island(layer, duck):
    """A non-semantic wrapper whose FROM-subquery is itself a wrapper
    over a semantic island rewrites recursively instead of erroring
    (reference semantic_plus_postprocess chosen plan)."""
    sql = (
        "SELECT UPPER(status) AS s FROM ("
        "SELECT status, revenue FROM "
        "(SELECT orders.revenue, orders.status FROM orders) sq"
        ") t WHERE revenue > 0"
    )
    assert_df_matches_oracle(
        layer.sql(sql),
        duck,
        """
        SELECT UPPER(status) AS s FROM (
            SELECT o_orderstatus AS status,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders GROUP BY 1
        ) WHERE revenue > 0
        """,
    )


def test_sql_gateway_rejects_dml_behind_cte(layer):
    """`WITH t AS (...) INSERT INTO ...` must not smuggle DML through
    the read-only semantic SQL gateway (reference
    tests/server/test_api_server.py test_raw_rejects_dml_in_cte);
    legitimate CTE SELECTs keep working."""
    import pytest as _pytest

    for sql in (
        "WITH t AS (SELECT 1 AS x) INSERT INTO victim SELECT * FROM t",
        "WITH t AS (SELECT orders.revenue FROM orders) INSERT INTO v SELECT 1",
        "WITH t AS (SELECT 1) DELETE FROM orders",
        "WITH t AS (SELECT 1) UPDATE orders SET o_comment = 'x'",
    ):
        with _pytest.raises(QueryCompileError, match="must be a SELECT"):
            layer.sql(sql)
    # CTE SELECT still compiles
    assert layer.sql(
        "WITH t AS (SELECT orders.revenue FROM orders) SELECT * FROM t"
    ).count() == 1


@pytest.fixture()
def measures_layer(spark):
    """Tiny Yardstick-style measure model (no reference checkout needed
    — standalone twins of the corpus-replay families)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.sql(
        "SELECT * FROM VALUES (2022,'US',100.0),(2022,'EU',50.0),"
        "(2023,'US',150.0),(2023,'EU',75.0) AS t(year, region, amount)"
    ).createOrReplaceTempView("ys_sales")
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="ys_sales", table="ys_sales", primary_key="year",
        dimensions=[Dimension(name="year", type="numeric"),
                    Dimension(name="region")],
        metrics=[Metric(name="revenue", sql="SUM(amount)")],
    ))
    return lyr


def test_at_set_contextual_shift(measures_layer):
    """SET dim = <expr over dim> is a shifted join (prior-period), with
    or without the CURRENT keyword (ref corpus measures.test)."""
    for form in ("year - 1", "CURRENT year - 1"):
        rows = {r["year"]: r["prior"] for r in measures_layer.sql(
            f"SEMANTIC SELECT year, AGGREGATE(revenue) AT (SET year = {form}) "
            "AS prior FROM ys_sales").collect()}
        assert rows[2022] is None
        assert float(rows[2023]) == 150.0


def test_at_aggregate_arithmetic_items(measures_layer):
    """Arithmetic over AGGREGATE()/AT terms renders in select order."""
    rows = measures_layer.sql(
        "SEMANTIC SELECT year, region, AGGREGATE(revenue) AS revenue, "
        "100.0 * AGGREGATE(revenue) / AGGREGATE(revenue) AT (ALL region) "
        "AS pct FROM ys_sales").collect()
    assert rows[0].__fields__ == ["year", "region", "revenue", "pct"]
    by = {(r["year"], r["region"]): float(r["pct"]) for r in rows}
    assert abs(by[(2022, "US")] - 100 * 100 / 150) < 1e-9
    assert abs(by[(2023, "EU")] - 100 * 75 / 225) < 1e-9


def test_from_alias_and_mainless_at(measures_layer):
    rows = measures_layer.sql(
        "SEMANTIC SELECT s.year, AGGREGATE(revenue) AT (ALL) AS total "
        "FROM ys_sales AS s").collect()
    assert all(float(r["total"]) == 375.0 for r in rows)

    only = measures_layer.sql(
        "SEMANTIC SELECT AGGREGATE(revenue) AT (ALL) FROM ys_sales").collect()
    assert len(only) == 1 and float(only[0][0]) == 375.0


def test_function_of_dimension_groups(measures_layer):
    rows = measures_layer.sql(
        "SEMANTIC SELECT UPPER(region), AGGREGATE(revenue) FROM ys_sales"
    ).collect()
    by = {r[0]: float(r[1]) for r in rows}
    assert by == {"US": 250.0, "EU": 125.0}


def test_filtered_and_ordered_set_measures(spark):
    """Non-decomposable aggregate measures (FILTER, WITHIN GROUP) are
    complete-SQL passthroughs."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.sql(
        "SELECT * FROM VALUES (2022,'US',100.0),(2022,'EU',50.0),"
        "(2023,'US',150.0) AS t(year, region, amount)"
    ).createOrReplaceTempView("ys_f")
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="ys_f", table="ys_f", primary_key="year",
        dimensions=[Dimension(name="year", type="numeric"),
                    Dimension(name="region")],
        metrics=[
            Metric(name="us_rev", sql="SUM(amount) FILTER (WHERE region = 'US')"),
            Metric(name="p50", sql="PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY amount)"),
        ],
    ))
    m = lyr.graph.get_model("ys_f")
    assert m.metric("us_rev").sql_is_complete
    rows = {r["year"]: (r["us_rev"], r["p50"]) for r in lyr.query(
        metrics=["ys_f.us_rev", "ys_f.p50"], dimensions=["ys_f.year"]).collect()}
    assert float(rows[2022][0]) == 100.0 and float(rows[2022][1]) == 75.0
    assert float(rows[2023][0]) == 150.0


# -- round-9 advisor regressions --------------------------------------


def test_explicit_join_unaliased_first_aliased_second(layer, duck):
    """`FROM orders JOIN customer c ON ...` — an unaliased first table
    must not consume the JOIN keyword during alias-stripping, leaving
    alias `c` unbound (round-9 advisor)."""
    from tests.conftest import assert_df_matches_oracle

    df = layer.sql(
        "SELECT customer.mktsegment, orders.revenue "
        "FROM orders JOIN customer c ON orders.custkey = c.c_custkey"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT c.c_mktsegment AS mktsegment,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        """,
    )


def test_right_join_rejected_not_swallowed(layer):
    """RIGHT was missing from the alias keyword exclusion, so `orders
    RIGHT JOIN x` silently treated RIGHT as an alias and dropped it —
    compiling a LEFT plan for a RIGHT join.  It must error loudly
    (the graph rebuilds joins LEFT-by-default; RIGHT semantics are not
    expressible through it)."""
    from sidemantic_spark.sql.generator import QueryCompileError

    with pytest.raises(QueryCompileError):
        layer.rewrite(
            "SELECT orders.revenue FROM orders RIGHT JOIN customer c "
            "ON orders.custkey = c.c_custkey"
        )


def test_expr_dims_do_not_leak_into_model(layer):
    """Ad-hoc expr_dim_<md5> dimensions registered for a function-dim
    query must be removed after the compile: they must not surface in
    a later SELECT * or in adapter export (round-9 advisor)."""
    layer.rewrite(
        "SELECT MONTH(orders.order_date), AGGREGATE(orders.revenue) FROM orders"
    )
    star = layer.rewrite("SELECT * FROM orders")
    assert "expr_dim_" not in star
    om = layer.graph.get_model("orders")
    assert not [d.name for d in om.dimensions if d.name.startswith("expr_dim_")]


def test_block_comment_with_apostrophe(layer, duck):
    """`/* don't */` — an apostrophe inside a comment must not flip the
    quote parity of the comment stripper (round-9 advisor)."""
    from tests.conftest import assert_df_matches_oracle

    df = layer.sql(
        "SELECT orders.status /* don't */, orders.revenue FROM orders"
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_line_comment_inside_string_preserved(layer):
    """A `--` inside a string literal is data, not a comment."""
    out = layer.rewrite(
        "SELECT orders.status, orders.revenue FROM orders "
        "WHERE orders.status <> 'a--b'"
    )
    assert "a--b" in out


# -- round-9 Yardstick corpus features --------------------------------


@pytest.fixture(scope="module")
def window_measure_layer(spark):
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (2021,10),(2022,20),(2023,30) AS t(year, revenue)"
    ).createOrReplaceTempView("wm_orders")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW wm_running_v AS
SELECT year, SUM(revenue) OVER (ORDER BY year) AS MEASURE running_total
FROM wm_orders;
CREATE VIEW wm_total_v AS
SELECT year, SUM(revenue) OVER () AS MEASURE global_total
FROM wm_orders;
""")
    return lyr


def test_window_measure_detail_and_grouped(window_measure_layer):
    """Window-measure views evaluate at row grain over the base, then
    reduce to the query grain (ref corpus measures.test window family)."""
    lyr = window_measure_layer
    rows = lyr.sql(
        "SELECT year, running_total::VARCHAR FROM wm_running_v ORDER BY year"
    ).collect()
    assert [tuple(r) for r in rows] == [(2021, "10"), (2022, "30"), (2023, "60")]
    rows = lyr.sql(
        "SEMANTIC SELECT year, AGGREGATE(running_total) FROM wm_running_v "
        "GROUP BY year ORDER BY year"
    ).collect()
    assert [(r[0], int(r[1])) for r in rows] == [(2021, 10), (2022, 30), (2023, 60)]


def test_window_measure_at_contexts(window_measure_layer):
    lyr = window_measure_layer
    rows = lyr.sql(
        "SEMANTIC SELECT year, AGGREGATE(running_total) AT (WHERE year = 2022) "
        "AS v FROM wm_running_v"
    ).collect()
    assert sorted((r["year"], int(r["v"])) for r in rows) == [
        (2021, 20), (2022, 20), (2023, 20)]
    rows = lyr.sql(
        "SEMANTIC SELECT year, AGGREGATE(global_total) AT (ALL) AS v "
        "FROM wm_total_v GROUP BY year ORDER BY year"
    ).collect()
    assert [int(r["v"]) for r in rows] == [60, 60, 60]


def test_window_measure_multiple_values_is_runtime_error(window_measure_layer):
    """An ordered window measure at a context spanning several window
    rows has no single value — the reference raises 'Window measure
    <m> returned multiple values for the evaluation context' at
    RUNTIME (data-dependent), reproduced via raise_error in a lazy IF."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = window_measure_layer.sql(
        "SEMANTIC SELECT year, AGGREGATE(running_total) AT (ALL) "
        "FROM wm_running_v GROUP BY year"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="multiple values"):
        df.collect()


def test_current_shift_without_selected_dim(spark):
    """SET dim = CURRENT dim - 1 with the dim absent from the select:
    the current value comes from an equality filter, else NULL (ref
    corpus measures.test CURRENT-shift family)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.sql(
        "SELECT * FROM VALUES (2022,'US',100.0),(2022,'EU',50.0),"
        "(2023,'US',150.0),(2023,'EU',75.0) AS t(year, region, amount)"
    ).createOrReplaceTempView("cs_sales")
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="cs_sales", table="cs_sales", primary_key="year",
        dimensions=[Dimension(name="year", type="numeric"),
                    Dimension(name="region")],
        metrics=[Metric(name="revenue", sql="SUM(amount)")],
    ))
    pinned = lyr.sql(
        "SEMANTIC SELECT AGGREGATE(revenue) AT (SET year = CURRENT year - 1) "
        "FROM cs_sales WHERE year = 2023"
    ).collect()
    assert len(pinned) == 1 and float(pinned[0][0]) == 150.0
    unpinned = lyr.sql(
        "SEMANTIC SELECT region, AGGREGATE(revenue) AT (SET year = CURRENT year - 1) "
        "AS prior FROM cs_sales GROUP BY region ORDER BY region"
    ).collect()
    assert [(r["region"], r["prior"]) for r in unpinned] == [
        ("EU", None), ("US", None)]


def test_fromless_scalar_subqueries(spark):
    """SELECT with no top-level FROM: scalar-subquery islands compile
    through the semantic path when they reference a model (ref corpus
    measures.test cardinality checks)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (DATE'2024-01-01','A',100,40),"
        "(DATE'2024-01-01','A',50,10) AS t(order_date, prod, revenue, cost)"
    ).createOrReplaceTempView("fl_orders")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW fl_orders_v AS
SELECT order_date, prod,
       (SUM(revenue) - SUM(cost))::DOUBLE / SUM(revenue) AS MEASURE margin
FROM fl_orders;
""")
    rows = lyr.sql(
        "SELECT (SELECT COUNT(*) FROM fl_orders) AS base_rows, "
        "(SELECT COUNT(*) FROM fl_orders_v) AS view_rows"
    ).collect()
    assert [tuple(rows[0])] == [(2, 2)]


def test_generate_series_view(spark):
    """`FROM generate_series(1, 5) AS t(x)` becomes an exploded
    sequence derived table (ref corpus measures.test series family)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW series_v AS
SELECT x, SUM(x) AS MEASURE total
FROM generate_series(1, 5) AS t(x);
""")
    rows = lyr.sql(
        "SEMANTIC SELECT x, AGGREGATE(total) FROM series_v"
    ).collect()
    assert sorted((r[0], int(r[1])) for r in rows) == [
        (1, 1), (2, 2), (3, 3), (4, 4), (5, 5)]
    total = lyr.sql("SEMANTIC SELECT AGGREGATE(total) FROM series_v").collect()
    assert int(total[0][0]) == 15


def test_cte_bodied_view(spark):
    """CREATE VIEW ... AS WITH base AS (...) SELECT ... — the CTE
    prefix becomes part of the model's derived-table source."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (2023,'US'),(2023,'EU'),(2023,'US') "
        "AS t(year, region)"
    ).createOrReplaceTempView("cte_regions")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW cte_v AS
WITH base AS (SELECT * FROM cte_regions)
SELECT year, COUNT(DISTINCT region) AS MEASURE unique_regions
FROM base;
""")
    rows = lyr.sql(
        "SEMANTIC SELECT year, AGGREGATE(unique_regions) FROM cte_v"
    ).collect()
    assert [(r[0], r[1]) for r in rows] == [(2023, 2)]


def test_null_projection(spark):
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.sql(
        "SELECT * FROM VALUES (1, 100.0), (2, 275.0) AS t(id, amount)"
    ).createOrReplaceTempView("np_sales")
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="np_sales", table="np_sales", primary_key="id",
        dimensions=[Dimension(name="id", type="numeric")],
        metrics=[Metric(name="revenue", sql="SUM(amount)")],
    ))
    rows = lyr.sql(
        "SEMANTIC SELECT NULL, AGGREGATE(revenue) FROM np_sales"
    ).collect()
    assert len(rows) == 1 and rows[0][0] is None and float(rows[0][1]) == 375.0


@pytest.fixture(scope="module")
def paper_layer(spark):
    """The reference paper's Listing-8/12 fixtures (corpus blocks
    180-201)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES ('Happy','Var Bob',DATE'2024-01-01',4),"
        "('Happy','Alice',DATE'2024-01-02',6),"
        "('Happy','Alice',DATE'2024-01-03',7),"
        "('Whizz','Alice',DATE'2024-01-04',3) "
        "AS t(prodName, custName, order_date, revenue)"
    ).createOrReplaceTempView("tp_paper_orders")
    spark.sql(
        "SELECT * FROM VALUES ('Happy',DATE'2024-01-01',4),"
        "('Happy',DATE'2024-01-02',6),('Happy',DATE'2024-01-03',7),"
        "('Whizz',DATE'2024-01-04',3) AS t(prodName, orderDate, revenue)"
    ).createOrReplaceTempView("tp_paper_l12")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW tp_orders_v AS
SELECT *, SUM(revenue) AS MEASURE sumRevenue
FROM tp_paper_orders;
CREATE VIEW tp_l12_v AS
SELECT prodName, orderDate, revenue, AVG(revenue) AS MEASURE avgRevenue
FROM tp_paper_l12;
""")
    return lyr


def test_at_visibility_defaults_with_rollup(paper_layer):
    """Paper Listing 8 (corpus block 185): AGGREGATE(m) sees the query
    WHERE, a bare measure ref ignores it, AT (VISIBLE) opts back in,
    COUNT(*) counts visible rows, and the ROLLUP total row reads NULL
    for every measure (its NULL group matches no context)."""
    rows = paper_layer.sql(
        "SELECT o.prodName, COUNT(*) AS c, AGGREGATE(o.sumRevenue) AS rAgg, "
        "o.sumRevenue AT (VISIBLE) AS rViz, o.sumRevenue AS r "
        "FROM tp_orders_v o WHERE o.custName <> 'Var Bob' "
        "GROUP BY ROLLUP(o.prodName) ORDER BY o.prodName"
    ).collect()
    got = sorted([tuple(r) for r in rows], key=lambda t: (t[0] is None, t))
    assert got == [
        ("Happy", 2, 13, 13, 17),
        ("Whizz", 1, 3, 3, 3),
        (None, 3, None, None, None),
    ]


def test_at_visible_with_having(paper_layer):
    """Corpus block 186: HAVING over an AT term filters the joined
    pre-aggregated result."""
    rows = paper_layer.sql(
        "SELECT o.prodName, AGGREGATE(o.sumRevenue) AT (VISIBLE) AS rViz "
        "FROM tp_orders_v o WHERE o.custName <> 'Var Bob' "
        "GROUP BY o.prodName "
        "HAVING AGGREGATE(o.sumRevenue) AT (VISIBLE) > 10 "
        "ORDER BY o.prodName"
    ).collect()
    assert [tuple(r) for r in rows] == [("Happy", 13)]


def test_correlated_where_measure(paper_layer):
    """Corpus block 196: detail rows filtered against a measure in a
    correlated AT context (`WHERE revenue > avgRevenue AT (WHERE
    prodName = o.prodName)`)."""
    import datetime

    rows = paper_layer.sql(
        "SELECT o.prodName, o.orderDate FROM tp_l12_v o "
        "WHERE o.revenue > o.avgRevenue AT (WHERE prodName = o.prodName) "
        "ORDER BY o.prodName, o.orderDate"
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Happy", datetime.date(2024, 1, 2)),
        ("Happy", datetime.date(2024, 1, 3)),
    ]


def test_cross_view_conformed_join_with_at(spark):
    """Corpus block 98: two measure views joined on conformed dims
    (year, region) with a fact-private dim (product) — the multifact
    split hosts the private dim on its own fact, the FULL OUTER join
    keys on the shared dims only, and an AT (ALL year) context drops
    to the measure-fact's expressible grain (region)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (2022,'US',100.0),(2022,'EU',50.0),"
        "(2023,'US',150.0),(2023,'EU',75.0) AS t(year, region, amount)"
    ).createOrReplaceTempView("cv_sales")
    spark.sql(
        "SELECT * FROM VALUES (2022,'US','Cars',1.0),(2022,'US','Shoes',2.0),"
        "(2022,'EU','Shoes',3.0),(2023,'US','Cars',2.0),"
        "(2023,'US','Shoes',4.0),(2023,'EU','Cars',5.0) "
        "AS t(year, region, product, qty)"
    ).createOrReplaceTempView("cv_details")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW cv_sales_v AS
SELECT year, region, SUM(amount) AS MEASURE revenue
FROM cv_sales;
CREATE VIEW cv_details_v AS
SELECT year, region, product, SUM(qty) AS MEASURE quantity
FROM cv_details;
""")
    rows = lyr.sql(
        "SEMANTIC SELECT s.year, s.region, sd.product, "
        "AGGREGATE(revenue) AS rev, "
        "AGGREGATE(revenue) AT (ALL year) AS region_total, "
        "AGGREGATE(quantity) AS qty "
        "FROM cv_sales_v s JOIN cv_details_v sd "
        "ON s.year = sd.year AND s.region = sd.region"
    ).collect()
    got = sorted((r[0], r[1], r[2], float(r[3]), float(r[4]), float(r[5]))
                 for r in rows)
    assert got == [
        (2022, "EU", "Shoes", 50.0, 125.0, 3.0),
        (2022, "US", "Cars", 100.0, 250.0, 1.0),
        (2022, "US", "Shoes", 100.0, 250.0, 2.0),
        (2023, "EU", "Cars", 75.0, 125.0, 5.0),
        (2023, "US", "Cars", 150.0, 250.0, 2.0),
        (2023, "US", "Shoes", 150.0, 250.0, 4.0),
    ]


def test_plain_table_join_bridge(spark):
    """Corpus block 179: a plain catalog table as the base of an
    explicit join against a measure view becomes an ephemeral ad-hoc
    model bridged many_to_one onto the view's pk; measures evaluate at
    entity grain (AVG over DISTINCT joined customers, not duplicated
    join rows), and the model disappears after the compile."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES (1,'X'),(1,'X'),(2,'X') AS t(cust_id, product)"
    ).createOrReplaceTempView("br_orders")
    spark.sql(
        "SELECT * FROM VALUES (1,25),(2,35) AS t(cust_id, age)"
    ).createOrReplaceTempView("br_customers")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW br_customers_v AS
SELECT cust_id, AVG(age) AS MEASURE avg_age
FROM br_customers;
""")
    rows = lyr.sql(
        "SELECT o.product, AGGREGATE(c.avg_age) AS measure_avg, "
        "AGGREGATE(c.avg_age) AT (VISIBLE) AS visible_avg "
        "FROM br_orders o JOIN br_customers_v c ON o.cust_id = c.cust_id "
        "GROUP BY o.product"
    ).collect()
    assert [(r[0], float(r[1]), float(r[2])) for r in rows] == [("X", 30.0, 30.0)]
    assert "br_orders" not in lyr.graph.models  # ephemeral model removed


def test_using_join_with_adhoc_aggregates(spark):
    """Corpus block 192 (paper Listing 9): USING joins normalize to ON;
    AVG(col) over a joined dimension is an ad-hoc visible metric at
    entity grain; a bare measure ref on the joined view keeps the
    VIEW's own context (same value for every group); AT (VISIBLE)
    applies only the query WHERE."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES ('Happy','Alice'),('Happy','Var Bob'),"
        "('Whizz','Carol') AS t(prodName, custName)"
    ).createOrReplaceTempView("us_order_customers")
    spark.sql(
        "SELECT * FROM VALUES ('Alice',30),('Carol',40),('Var Bob',16) "
        "AS t(custName, custAge)"
    ).createOrReplaceTempView("us_customers")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW us_customers_v AS
SELECT *, AVG(custAge) AS MEASURE avgAge
FROM us_customers;
""")
    rows = lyr.sql(
        "SELECT o.prodName, COUNT(*) AS orderCount, "
        "AVG(c.custAge) AS weightedAvgAge, c.avgAge AS avgAge, "
        "c.avgAge AT (VISIBLE) AS visibleAvgAge "
        "FROM us_order_customers o JOIN us_customers_v c USING (custName) "
        "WHERE c.custAge >= 18 GROUP BY o.prodName ORDER BY o.prodName"
    ).collect()
    got = [(r[0], r[1], float(r[2]), round(float(r[3]), 6), float(r[4]))
           for r in rows]
    assert got == [
        ("Happy", 1, 30.0, 28.666667, 35.0),
        ("Whizz", 1, 40.0, 28.666667, 35.0),
    ]


# -- round-10 ADVICE regressions -------------------------------------


def test_rewrite_cache_survives_ephemeral_queries(spark, sf_dir):
    """ADVICE r9 (medium): ephemeral expr-dim registration+cleanup must
    not permanently bump graph.generation — the rewrite cache (keyed on
    generation) has to HIT on the second compile of the same query."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

    lyr = build_layer(spark, sf_dir)
    rw = SemanticSqlRewriter(lyr)
    gen0 = lyr.graph.generation
    sql = "SELECT MONTH(orders.order_date) AS m, orders.revenue FROM orders"
    out1 = rw.rewrite(sql)
    assert lyr.graph.generation == gen0, (
        "ephemeral expr-dim register/cleanup leaked a generation bump"
    )
    # the ephemeral dim itself must be gone from the model
    assert not any(
        d.name.startswith("expr_dim_")
        for d in lyr.graph.get_model("orders").dimensions
    )
    # prove the second call is a cache hit: a re-derive would call
    # _rewrite_node, which we break
    broken = rw._rewrite_node
    rw._rewrite_node = lambda *_a, **_k: (_ for _ in ()).throw(
        AssertionError("cache miss: _rewrite_node re-invoked")
    )
    try:
        assert rw.rewrite(sql) == out1
    finally:
        rw._rewrite_node = broken


def test_count_star_rewrite_leaves_graph_unchanged(spark, sf_dir):
    """COUNT(*) compiles through a request-local ``__adhoc_count``: the
    shared model and the graph generation never change, on the first
    rewrite or a later one."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

    lyr = build_layer(spark, sf_dir)
    rw = SemanticSqlRewriter(lyr)
    orders = lyr.graph.get_model("orders")
    gen0, metrics = lyr.graph.generation, list(orders.metrics)
    for tail in ("", " LIMIT 5"):
        out = rw.rewrite("SELECT orders.status, COUNT(*) FROM orders" + tail)
        assert "__adhoc_count" in out
        assert lyr.graph.generation == gen0
        assert lyr.graph.get_model("orders") is orders
        assert orders.metrics == metrics
        assert orders.metric("__adhoc_count") is None


def test_rewrite_cache_is_bounded(spark, sf_dir, monkeypatch):
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql import generator
    from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

    lyr = build_layer(spark, sf_dir)
    rw = SemanticSqlRewriter(lyr)
    monkeypatch.setattr(generator, "COMPILE_CACHE_MAX", 4)
    for i in range(8):
        rw.rewrite(f"SELECT orders.status, orders.revenue FROM orders LIMIT {i + 1}")
    assert len(rw._cache) <= 4


def test_generator_cache_is_bounded(spark, sf_dir, monkeypatch):
    """The generator's compile cache keeps the rewriter's FIFO bound:
    600 distinct compiles leave at most COMPILE_CACHE_MAX entries, and a
    recently compiled spec is still served from the cache."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.generator import COMPILE_CACHE_MAX, SqlGenerator

    lyr = build_layer(spark, sf_dir)
    compiles = []
    real = SqlGenerator._generate
    monkeypatch.setattr(
        SqlGenerator, "_generate",
        lambda self, spec: compiles.append(spec) or real(self, spec),
    )
    q = {"metrics": ["orders.revenue"], "dimensions": ["orders.status"]}
    for i in range(600):
        lyr.compile(**q, filters=[f"orders.revenue > {i}"])
    assert len(compiles) == 600
    assert len(lyr.generator._cache) <= COMPILE_CACHE_MAX == 512
    last = lyr.compile(**q, filters=["orders.revenue > 599"])
    assert len(compiles) == 600  # served from the cache
    assert last == real(lyr.generator, lyr._spec({**q, "filters": ["orders.revenue > 599"]}))


def test_compile_cache_concurrent_writes_stay_bounded(monkeypatch):
    """Server threads share the compile caches: concurrent puts past the
    bound never raise and never leave more entries than the bound."""
    import sys
    import threading

    from sidemantic_spark.sql import generator

    monkeypatch.setattr(generator, "COMPILE_CACHE_MAX", 8)
    cache = generator.CompileCache()
    errors = []

    def write(worker):
        try:
            for i in range(2000):
                cache.put((i % 5, worker, i), i)
        except Exception as exc:  # noqa: BLE001 - any raise is the failure
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=write, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(cache) <= 8


def test_explicit_inner_join_survives_cache_and_prepasses(spark, sf_dir):
    """An explicit INNER JOIN changes the compiled SQL, so the same
    selection with and without it must not share a generator-cache
    entry (in either order), and auto-including a default time dimension
    must not drop the join."""
    from sidemantic_spark.models.tpch import build_layer

    joined = ("SELECT orders.status, orders.revenue FROM orders "
              "JOIN customer ON orders.o_custkey = customer.c_custkey")
    plain = "SELECT orders.status, orders.revenue FROM orders"
    for first, second in ((joined, plain), (plain, joined)):
        lyr = build_layer(spark, sf_dir)
        lyr.rewrite(first)
        assert ("JOIN customer" in lyr.rewrite(second)) == (second is joined)

    orders = lyr.graph.get_model("orders")
    orders.default_time_dimension = "order_date"
    lyr.graph._invalidate()
    sql = lyr.rewrite(
        "SELECT orders.revenue FROM orders "
        "JOIN customer ON orders.o_custkey = customer.c_custkey"
    )
    assert "order_date" in sql and "JOIN customer" in sql


def test_using_join_with_left_prefix(spark):
    """ADVICE r9: `a LEFT JOIN b USING (c)` must not bind LEFT as a's
    alias (which emitted `ON LEFT.c = b.c`)."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.sql(
        "SELECT * FROM VALUES ('Happy','Alice'),('Whizz','Carol') "
        "AS t(prodName, custName)"
    ).createOrReplaceTempView("us2_order_customers")
    spark.sql(
        "SELECT * FROM VALUES ('Alice',30),('Carol',40) AS t(custName, custAge)"
    ).createOrReplaceTempView("us2_customers")
    lyr = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW us2_customers_v AS
SELECT *, AVG(custAge) AS MEASURE avgAge
FROM us2_customers;
""")
    for jt in ("LEFT JOIN", "INNER JOIN", "LEFT OUTER JOIN", "JOIN"):
        rows = lyr.sql(
            "SELECT o.prodName, AVG(c.custAge) AS age "
            f"FROM us2_order_customers o {jt} us2_customers_v c USING (custName) "
            "GROUP BY o.prodName ORDER BY o.prodName"
        ).collect()
        assert [(r[0], float(r[1])) for r in rows] == [
            ("Happy", 30.0), ("Whizz", 40.0),
        ], jt


def test_curly_refs_in_string_literals_preserved():
    """ADVICE r9: `{name}` measure-ref normalization must not rewrite
    inside string literals (WHERE tag = '{code}')."""
    from sidemantic_spark.sql.rewriter import _yardstick_normalize

    out = _yardstick_normalize(
        "SELECT {revenue} FROM t WHERE tag = '{code}' AND x = '{y} {z}'"
    )
    assert out == "SELECT revenue FROM t WHERE tag = '{code}' AND x = '{y} {z}'"


def test_catalog_hides_adhoc_artifacts(spark, sf_dir):
    """ADVICE r9: catalog export must never list __adhoc_* metrics or
    expr_dim_* dimensions."""
    from sidemantic_spark.models.tpch import build_layer

    lyr = build_layer(spark, sf_dir)
    # the COUNT(*) compile's __adhoc_count lives in its request only
    lyr.sql("SELECT orders.status, COUNT(*) FROM orders").collect()
    assert lyr.graph.get_model("orders").metric("__adhoc_count") is None
    meta = lyr.get_catalog_metadata()
    names = [c["column_name"] for c in meta["columns"]]
    assert not any(n.startswith("__adhoc_") for n in names)
    assert not any(n.startswith("expr_dim_") for n in names)


def test_order_by_bare_measure_in_at_query(paper_layer):
    """ADVICE r9: ORDER BY naming a bare measure that was routed to an
    invisible AT context must resolve to the output column."""
    rows = paper_layer.sql(
        "SELECT o.prodName, o.sumRevenue AS r "
        "FROM tp_orders_v o WHERE o.custName <> 'Var Bob' "
        "GROUP BY o.prodName ORDER BY o.sumRevenue DESC"
    ).collect()
    # bare ref ignores the WHERE: Happy 4+6+7=17, Whizz 3
    assert [tuple(r) for r in rows] == [("Happy", 17), ("Whizz", 3)]


def test_order_by_bare_measure_without_alias(paper_layer):
    rows = paper_layer.sql(
        "SELECT o.prodName, o.sumRevenue "
        "FROM tp_orders_v o GROUP BY o.prodName ORDER BY o.sumRevenue ASC"
    ).collect()
    assert [tuple(r) for r in rows] == [("Whizz", 3), ("Happy", 17)]


# -- round-10 self-review regressions ---------------------------------


def test_alias_shadowing_is_span_scoped():
    """An `AS model` alias inside a subquery must shadow refs only
    WITHIN that subquery span — refs outside it still classify/rewrite
    (review finding: whole-fragment shadowing was fail-open)."""
    from sidemantic_spark.sql.fragments import find_refs, replace_refs

    sql = ("orders.margin > 0 AND "
           "EXISTS (SELECT 1 FROM audit AS orders WHERE orders.x = 1)")
    refs = find_refs(sql, {"orders"})
    assert ("orders", "margin", None) in refs
    assert ("orders", "x", None) not in refs  # inner ref stays shadowed
    out = replace_refs(sql, {"orders"}, lambda m, f, g: f"{m}_cte.{f}")
    assert "orders_cte.margin" in out
    assert "orders.x = 1" in out  # inner ref untouched
    # security scans see EVERYTHING (shadowing=False)
    refs_all = find_refs(sql, {"orders"}, shadowing=False)
    assert ("orders", "margin", None) in refs_all
    assert ("orders", "x", None) in refs_all


def test_adhoc_rewrites_never_move_the_generation(spark, sf_dir):
    """An expression dimension alone, or with COUNT(*) in the same
    query: the generation never moves, the orders model never changes,
    and the shared generator caches nothing compiled over the request's
    graph."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

    lyr = build_layer(spark, sf_dir)
    rw = SemanticSqlRewriter(lyr)
    orders = lyr.graph.get_model("orders")

    def state():
        return (lyr.graph.generation, list(orders.dimensions),
                list(orders.metrics), dict(lyr.generator._cache))

    before = state()
    out = rw.rewrite("SELECT MONTH(order_date) AS m, orders.revenue FROM orders")
    assert "expr_dim_" in out
    assert state() == before
    out = rw.rewrite("SELECT MONTH(order_date) AS m2, COUNT(*) FROM orders")
    assert "expr_dim_" in out and "__adhoc_count" in out
    assert state() == before


def test_alias_shadowing_nested_and_toplevel_scopes():
    """Round-10 review #2/#4: an alias declared in a NESTED subquery
    must not shadow the enclosing subquery's correlated refs, and a
    top-level derived-table alias (`(SELECT ...) AS model`) shadows the
    whole fragment."""
    from sidemantic_spark.sql.fragments import find_refs, replace_refs

    nested = ("EXISTS (SELECT 1 FROM t WHERE orders.region = 1 AND "
              "EXISTS (SELECT 1 FROM audit AS orders))")
    assert ("orders", "region", None) in find_refs(nested, {"orders"})
    out = replace_refs(nested, {"orders"}, lambda m, f, g: f"{m}_cte.{f}")
    assert "orders_cte.region" in out

    top = "(SELECT max(v) FROM t) AS orders WHERE orders.margin > 0"
    assert find_refs(top, {"orders"}) == []
    out2 = replace_refs(top, {"orders"}, lambda m, f, g: f"{m}_cte.{f}")
    assert "orders.margin" in out2 and "orders_cte" not in out2


def test_set_op_nonsemantic_branch_passes_through(spark, sf_dir):
    """r12 probe finding: a set-op branch with NO semantic island — a
    FROM-less literal arm — must pass through verbatim instead of being
    forced through the semantic SELECT path (which demanded a FROM
    clause and refused the whole statement)."""
    from sidemantic_spark.models.tpch import build_layer

    lyr = build_layer(spark, sf_dir)
    rows = {
        (r["status"], r["n"])
        for r in lyr.sql(
            """
            SELECT orders.status AS status, orders.order_count AS n
            FROM orders
            UNION ALL
            SELECT 'SENTINEL' AS status, CAST(-1 AS BIGINT) AS n
            """
        ).collect()
    }
    assert ("SENTINEL", -1) in rows and len(rows) >= 3
    real = {s for s, _ in rows if s != "SENTINEL"}
    oracle = {
        r["o_orderstatus"]
        for r in spark.sql(
            "SELECT DISTINCT o_orderstatus FROM orders"
        ).collect()
    }
    assert real == oracle


def test_adhoc_raw_aggregate_validates_column_at_compile(spark, sf_dir):
    """r12 probe finding: an ad-hoc aggregate over a column that exists
    on NEITHER the model NOR its table must refuse at compile time with
    a clear error (the engine's compile-time-validation stance), not
    die at runtime with a Spark AnalysisException. A genuine raw table
    column still works."""
    import pytest as _pytest

    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.generator import QueryCompileError

    lyr = build_layer(spark, sf_dir)
    with _pytest.raises(QueryCompileError, match="o_shippriority"):
        lyr.sql(
            "SELECT orders.status AS status, "
            "MAX(orders.o_shippriority) AS m FROM orders"
        )
    got = {
        (r["status"], r["m"])
        for r in lyr.sql(
            "SELECT orders.status AS status, "
            "MAX(orders.o_orderkey) AS m FROM orders"
        ).collect()
    }
    want = {
        (r[0], r[1])
        for r in spark.sql(
            "SELECT o_orderstatus, MAX(o_orderkey) FROM orders GROUP BY 1"
        ).collect()
    }
    assert got == want


def test_having_on_select_alias(spark, sf_dir):
    """r12 probe finding: HAVING may reference a select item's output
    alias (`orders.revenue AS rev ... HAVING rev > x`) — the reference
    engine resolves aliases in HAVING; Spark does not, so the rewriter
    substitutes the underlying ref. A same-named real field keeps
    precedence over the alias."""
    from sidemantic_spark.models.tpch import build_layer

    lyr = build_layer(spark, sf_dir)
    got = {
        (r["priority"], str(r["rev"]))
        for r in lyr.sql(
            """
            SELECT orders.priority AS priority, orders.revenue AS rev
            FROM orders
            HAVING rev > 200000
            """
        ).collect()
    }
    want = {
        (r[0], str(r[1]))
        for r in spark.sql(
            "SELECT o_orderpriority, SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
            " AS rev FROM orders GROUP BY 1"
            " HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 200000"
        ).collect()
    }
    assert got == want and got
    # alias shadowing a REAL field: the field wins (standard SQL)
    rows = lyr.sql(
        """
        SELECT orders.status AS priority, orders.revenue AS rev
        FROM orders
        HAVING priority IS NOT NULL
        """
    ).collect()
    assert {r["priority"] for r in rows} <= {"F", "O", "P"}


def test_identifier_ending_in_at_is_not_an_at_modifier(spark, sf_dir):
    """r12 probe finding: the Yardstick AT-modifier head regex used to
    backtrack any identifier ending in "AT" — `CONCAT(...)` parsed as
    measure `CONC` + modifier `AT (...)` and the whole select refused.
    Scalar functions named *AT must classify as ordinary expressions,
    and real AT modifiers (whitespace-separated) keep working."""
    from sidemantic_spark.models.tpch import build_layer

    lyr = build_layer(spark, sf_dir)
    got = {
        (r["tag"], r["n"])
        for r in lyr.sql(
            """
            SELECT CONCAT(orders.status, '-', orders.priority) AS tag,
                   orders.order_count AS n
            FROM orders
            """
        ).collect()
    }
    want = {
        (r[0], r[1])
        for r in spark.sql(
            "SELECT CONCAT(o_orderstatus, '-', o_orderpriority), COUNT(*)"
            " FROM orders GROUP BY 1"
        ).collect()
    }
    assert got == want and len(got) >= 10
    # the real AT form still parses
    rows = lyr.sql(
        """
        SELECT orders.status AS status,
               AGGREGATE(orders.revenue) AT (ALL orders.status) AS total
        FROM orders GROUP BY orders.status
        """
    ).collect()
    assert len({str(r["total"]) for r in rows}) == 1


# quoted aliases come in with " or ` and go out backtick-quoted; DuckDB
# reads no backticks, so its oracle uses the double-quoted spelling
_QUOTED_ALIASES = {
    '"Revenue"': '"Revenue"',
    '"rev (usd)"': '"rev (usd)"',
    '"x where y"': '"x where y"',
    '"rev, total"': '"rev, total"',
    "`rev, total`": '"rev, total"',
    '"a)b"': '"a)b"',
    "`order by`": '"order by"',
    "rev_total": "rev_total",
}


@pytest.mark.parametrize("alias", sorted(_QUOTED_ALIASES))
@pytest.mark.parametrize("with_status", [False, True])
def test_semantic_sql_quoted_alias(layer, duck, alias, with_status):
    status = ", orders.status" if with_status else ""
    df = layer.sql(f"SELECT orders.revenue AS {alias}{status} FROM orders")
    duck_alias = _QUOTED_ALIASES[alias]
    assert_df_matches_oracle(
        df,
        duck,
        f"SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS {duck_alias}"
        + (", o_orderstatus AS status FROM orders GROUP BY 2" if with_status
           else " FROM orders"),
    )


_ALIAS_PIECES = st.sampled_from(
    ["rev", "x", " ", ",", "(", ")", " where ", " order by ", " from ",
     "''", "'", '""', '"', "`", "``"]
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    name=st.lists(_ALIAS_PIECES, min_size=1, max_size=5).map(
        lambda parts: "a" + "".join(parts)
    ),
    quote=st.sampled_from(['"', "`"]),
    field=st.sampled_from(["revenue", "status"]),
)
def test_quoted_alias_property(layer, duck, name, quote, field):
    """Any name quoted either way survives the rewrite as the output
    column name, on Spark and against the DuckDB oracle."""
    alias = quote + name.replace(quote, quote * 2) + quote
    other = "status" if field == "revenue" else "revenue"
    # rewrite + spark.sql: with security controls active, layer.sql's
    # transport gate refuses a quoted name holding ` from ` (fail closed)
    df = layer.spark.sql(
        layer.rewrite(f"SELECT orders.{field} AS {alias}, orders.{other} FROM orders")
    )
    assert name in df.columns
    cols = {
        "revenue": "SUM(CAST(o_totalprice AS DECIMAL(18,2)))",
        "status": "o_orderstatus",
    }
    duck_alias = '"' + name.replace('"', '""') + '"'
    assert_df_matches_oracle(
        df,
        duck,
        f"SELECT {cols[field]} AS {duck_alias}, {cols[other]} AS {other} "
        "FROM orders GROUP BY o_orderstatus",
    )


# -- a rewrite writes nothing shared -----------------------------------


@pytest.fixture()
def adhoc_layer(spark, sf_dir):
    """The TPC-H layer plus a measure view and a raw table to join it
    through, so each kind of request-local field has a query."""
    from sidemantic_spark.adapters.yardstick import YardstickAdapter

    spark.sql(
        "SELECT * FROM VALUES ('Happy','Alice'),('Whizz','Carol') "
        "AS t(prodName, custName)"
    ).createOrReplaceTempView("rq_order_customers")
    spark.sql(
        "SELECT * FROM VALUES ('Alice',30),('Carol',40) AS t(custName, custAge)"
    ).createOrReplaceTempView("rq_customers")
    lyr = build_layer(spark, sf_dir)
    YardstickAdapter().parse_text(lyr, """
CREATE VIEW rq_customers_v AS
SELECT *, AVG(custAge) AS MEASURE avgAge
FROM rq_customers;
""")
    return lyr


# each needs a request-local field: an expression dimension, COUNT(*),
# an aggregate over a raw column, and a raw table joined to a measure
# view (an ad-hoc model, its bridge relationship and an AVG metric)
_ADHOC_QUERIES = (
    "SELECT MONTH(order_date) AS m, orders.revenue FROM orders",
    "SELECT orders.status, COUNT(*) AS n FROM orders",
    "SELECT orders.status, SUM(o_totalprice) AS s FROM orders",
    "SELECT o.prodName, AVG(c.custAge) AS age FROM rq_order_customers o "
    "JOIN rq_customers_v c USING (custName) GROUP BY o.prodName",
)
_ADHOC_NAMES = ("__adhoc_", "expr_dim_", "rq_order_customers")


def _adhoc_names_in(names) -> list:
    return [n for n in names if any(a in n for a in _ADHOC_NAMES)]


def test_concurrent_adhoc_rewrites_write_nothing_shared(adhoc_layer):
    """Two threads rewrite distinct ad-hoc queries while a third reads
    the shared models, the catalog and the YAML export: the reader never
    sees a request-local field or model, the generation never moves, and
    every output equals the same rewrite run alone."""
    import sys
    import threading

    from sidemantic_spark.authoring.yaml_io import export_yaml
    from sidemantic_spark.sql.rewriter import SemanticSqlRewriter

    lyr = adhoc_layer
    graph = lyr.graph
    models0, gen0 = set(graph.models), graph.generation
    watched = [graph.get_model("orders"), graph.get_model("rq_customers_v")]
    outputs: dict = {}
    seen: list = []
    errors: list = []
    done = threading.Event()
    reads = 0

    def write(worker):
        try:
            for i in range(12):
                for q in _ADHOC_QUERIES:
                    sql = f"{q} LIMIT {2 * i + worker + 1}"
                    outputs[sql] = lyr.rewrite(sql)
        except Exception as exc:  # noqa: BLE001 - any raise is the failure
            errors.append(exc)

    def read():
        nonlocal reads
        try:
            while not done.is_set():
                names = [f.name for m in watched
                         for f in (*m.metrics, *m.dimensions)]
                if reads % 20 == 0:  # the slow readers, now and then
                    names += [c["column_name"]
                              for c in lyr.get_catalog_metadata()["columns"]]
                    names.append(export_yaml(graph))
                seen.extend(_adhoc_names_in(names))
                if set(graph.models) != models0 or graph.generation != gen0:
                    seen.append((set(graph.models) ^ models0, graph.generation))
                reads += 1
        except Exception as exc:  # noqa: BLE001 - any raise is the failure
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader = threading.Thread(target=read)
        writers = [threading.Thread(target=write, args=(w,)) for w in (0, 1)]
        reader.start()
        for t in writers:
            t.start()
        for t in writers:
            t.join(timeout=300)
        done.set()
        reader.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[:3]
    assert reads > 0 and seen == []
    assert len(outputs) == 2 * 12 * len(_ADHOC_QUERIES)
    assert all(any(a in out for a in _ADHOC_NAMES) for out in outputs.values())
    serial = SemanticSqlRewriter(lyr)
    assert {sql: serial.rewrite(sql) for sql in outputs} == outputs
    assert graph.generation == gen0 and set(graph.models) == models0


def test_count_star_leaves_select_star_unchanged(adhoc_layer):
    """A COUNT(*) rewrite leaves no ``__adhoc_count`` behind for a later
    ``SELECT *`` to expand, and a raw-table join registers no model, also
    inside ``with layer:`` (where every new Model registers itself)."""
    lyr = adhoc_layer
    star = "SELECT * FROM orders"
    before, models0 = lyr.rewrite(star), set(lyr.graph.models)
    lyr.rewrite("SELECT orders.status, COUNT(*) FROM orders")
    assert lyr.rewrite(star + " ") == before
    with lyr:
        lyr.rewrite("SELECT orders.status, COUNT(*) AS c FROM orders")
        lyr.rewrite(_ADHOC_QUERIES[3])
        assert lyr.rewrite(star + "  ") == before
    assert set(lyr.graph.models) == models0


def test_order_by_double_quoted_output_name(layer, duck):
    """A double-quoted ORDER BY item names an output column, as in
    DuckDB (Spark alone sorts by the string constant, leaving the rows
    unordered); a quoted name no output column has raises."""
    for order in ('"Rev" DESC', '"rev"', '"status" DESC'):
        sql = ('SELECT orders.status, orders.revenue AS "Rev" FROM orders '
               f"ORDER BY {order}")
        got = [tuple(r) for r in layer.sql(sql).collect()]
        want = duck.execute(
            'SELECT o_orderstatus AS status, '
            'SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS "Rev" '
            f"FROM orders GROUP BY 1 ORDER BY {order}"
        ).fetchall()
        assert got == want, order
    with pytest.raises(QueryCompileError, match="names no output column"):
        layer.rewrite('SELECT orders.status FROM orders ORDER BY "nope"')
