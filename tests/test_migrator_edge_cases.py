"""Migrator edge cases mined from the reference's regression suite
(``tests/test_migrator_edge_cases.py``): the SQL shapes a real warehouse
corpus contains — CASE/CAST/math inside aggregates, EXTRACT date parts,
expression and ordinal GROUP BYs, DISTINCT selects, unions, implicit
joins, and window functions that must become cumulative metrics (rank
functions ignored). All driver-side analysis — no Spark session needed.
"""

from __future__ import annotations

from sidemantic_spark.core.graph import SemanticGraph
from sidemantic_spark.core.migrator import Migrator
from sidemantic_spark.core.model import Dimension, Metric, Model


class _BareLayer:
    def __init__(self) -> None:
        self.graph = SemanticGraph()


def _migrator() -> Migrator:
    return Migrator(_BareLayer())


def test_case_when_inside_aggregation():
    models = _migrator().generate([
        "SELECT status, SUM(CASE WHEN priority = 'high' THEN amount ELSE 0 END)"
        " as high_rev, COUNT(CASE WHEN status = 'completed' THEN 1 END) as done"
        " FROM orders GROUP BY status"
    ])
    orders = models["orders"]
    assert orders.metric("high_rev").agg == "sum"
    assert "CASE WHEN" in orders.metric("high_rev").sql
    assert orders.metric("done").agg == "count"
    assert orders.dimension("status") is not None


def test_extract_date_part_is_time_dimension_not_table():
    """EXTRACT(YEAR FROM order_date) must not read order_date as the
    FROM table (ref :34-60), and the column becomes a TIME dimension."""
    models = _migrator().generate([
        "SELECT EXTRACT(YEAR FROM order_date) as year, COUNT(*) as count"
        " FROM orders GROUP BY EXTRACT(YEAR FROM order_date)"
    ])
    assert set(models) == {"orders"}
    d = models["orders"].dimension("order_date")
    assert d is not None and d.type == "time"


def test_cast_inside_aggregation():
    models = _migrator().generate([
        "SELECT region, SUM(CAST(amount AS DECIMAL(10,2))) as total"
        " FROM sales GROUP BY region"
    ])
    assert models["sales"].metric("total").agg == "sum"


def test_coalesce_and_string_function_dimensions():
    models = _migrator().generate([
        "SELECT COALESCE(region, 'Unknown') as region, UPPER(status) as s,"
        " SUBSTRING(name, 1, 3) as p, COUNT(*) as c FROM customers"
        " GROUP BY COALESCE(region, 'Unknown'), UPPER(status), SUBSTRING(name, 1, 3)"
    ])
    dims = {d.name for d in models["customers"].dimensions}
    assert {"region", "status", "name"} <= dims


def test_group_by_ordinal_resolves_select_items():
    models = _migrator().generate([
        "SELECT status, region, COUNT(*) as count FROM orders GROUP BY 1, 2"
    ])
    dims = {d.name for d in models["orders"].dimensions}
    assert {"status", "region"} <= dims
    assert "1" not in dims and "2" not in dims


def test_select_distinct_yields_dimensions():
    models = _migrator().generate([
        "SELECT DISTINCT status, region FROM orders"
    ])
    dims = {d.name for d in models["orders"].dimensions}
    assert {"status", "region"} <= dims


def test_union_branches_both_analyzed():
    models = _migrator().generate([
        "SELECT status, COUNT(*) as count FROM orders WHERE region='US'"
        " GROUP BY status UNION ALL "
        "SELECT tier, COUNT(*) as count FROM customers GROUP BY tier"
    ])
    assert "orders" in models and "customers" in models
    assert models["customers"].dimension("tier") is not None


def test_implicit_comma_join_proposes_both_models_and_relationship():
    models = _migrator().generate([
        "SELECT c.region, COUNT(o.order_id) FROM customers c, orders o"
        " WHERE c.id = o.customer_id GROUP BY c.region"
    ])
    assert "customers" in models and "orders" in models
    rels = models["orders"].relationships
    assert any(r.name == "customers" and r.foreign_key == "customer_id"
               for r in rels)


def test_running_total_window_becomes_cumulative_metric():
    models = _migrator().generate([
        "SELECT order_date, SUM(amount) OVER (ORDER BY order_date)"
        " as running_total FROM orders"
    ])
    m = models["orders"].metric("running_total")
    assert m.type == "cumulative"
    assert "orders.sum_amount" in m.sql
    assert models["orders"].metric("sum_amount").agg == "sum"


def test_rolling_window_frame_maps_to_window():
    models = _migrator().generate([
        "SELECT order_date, SUM(amount) OVER (ORDER BY order_date"
        " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) as rolling_7day_total"
        " FROM orders"
    ])
    m = models["orders"].metric("rolling_7day_total")
    assert m.type == "cumulative" and "6 days" in m.window


def test_period_to_date_partition_maps_to_grain():
    models = _migrator().generate([
        "SELECT order_date, SUM(amount) OVER (PARTITION BY"
        " DATE_TRUNC('month', order_date) ORDER BY order_date) as mtd_revenue"
        " FROM orders"
    ])
    m = models["orders"].metric("mtd_revenue")
    assert m.type == "cumulative" and m.grain_to_date == "month"


def test_rank_functions_ignored_but_window_aggs_kept():
    models = _migrator().generate([
        "SELECT region, RANK() OVER (ORDER BY SUM(amount) DESC) as rnk,"
        " SUM(amount) as total FROM sales GROUP BY region"
    ])
    names = {m.name for m in models["sales"].metrics}
    assert "rnk" not in names
    assert "total" in names


def test_percent_of_total_extracts_base_aggregations():
    models = _migrator().generate([
        "SELECT status, COUNT(*) * 100.0 / SUM(COUNT(*)) OVER() as pct,"
        " SUM(amount) * 100.0 / SUM(SUM(amount)) OVER() as rpct"
        " FROM orders GROUP BY status"
    ])
    names = {m.name for m in models["orders"].metrics}
    assert "sum_amount" in names and ("row_count" in names or "count" in names)
    # the window wrappers themselves must not become bogus simple metrics
    assert "pct" not in names and "rpct" not in names


def test_analyze_window_query_not_silently_rewritten():
    """A window-over-aggregate query must NOT claim can_rewrite — the
    OVER clause would be dropped and the rewrite silently wrong."""
    mig = _migrator()
    qa = mig.analyze(
        "SELECT d, SUM(SUM(amount)) OVER (ORDER BY d) as rt"
        " FROM sales GROUP BY d"
    )
    assert not qa.can_rewrite
    assert any("window" in r for r in qa.reasons)


def test_analyze_handles_comments_and_empty():
    mig = _migrator()
    qa = mig.analyze("-- comment\nSELECT status, COUNT(*) FROM orders GROUP BY status")
    assert qa.tables == ["orders"]
    assert _migrator().generate(["   ", ""]) == {}



def _orders_migrator() -> Migrator:
    layer = _BareLayer()
    layer.graph.add_model(Model(
        name="orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus"),
                    Dimension(name="comment", sql="o_comment")],
        metrics=[Metric(name="revenue", agg="sum", sql="o_totalprice")],
    ))
    return Migrator(layer)


def test_literals_hide_comment_markers_and_commas():
    """A `--` or a comma inside a string literal is data: the comment
    strip must not cut the query at `'a--b'` (which lost the GROUP BY),
    and the select split must not cut `'x,y'` (which shifted the
    ordinal GROUP BY onto the wrong item)."""
    mig = _orders_migrator()
    qa = mig.analyze(
        "SELECT o_orderstatus, SUM(o_totalprice) FROM orders "
        "WHERE o_comment = 'a--b' GROUP BY 1"
    )
    assert qa.matched_dimensions == ["orders.status"]
    assert qa.missing_dimensions == []
    assert qa.rewritten.endswith("WHERE orders.comment = 'a--b'")
    qa = mig.analyze(
        "SELECT 'x,y' AS tag, o_orderstatus, SUM(o_totalprice) "
        "FROM orders GROUP BY 2"
    )
    assert qa.matched_dimensions == ["orders.status"]
    assert qa.can_rewrite


# round 8, second sweep: mined from reference tests/test_migrator_generation.py


def test_derived_metric_from_composite_expression():
    """SUM(a)/COUNT(*) as x -> base metrics + a DERIVED metric
    referencing them by name (ref test_migrator_generation.py:668-734;
    the reference stores raw SQL text — here the derived sql is
    executable metric references)."""
    models = _migrator().generate([
        "SELECT status, SUM(total_amount) / COUNT(*) as avg_order_value"
        " FROM orders GROUP BY status"
    ])
    orders = models["orders"]
    assert orders.metric("sum_total_amount").agg == "sum"
    assert orders.metric("row_count").agg == "count"
    d = orders.metric("avg_order_value")
    assert d.type == "derived"
    assert d.sql == "sum_total_amount / row_count"


def test_finest_observed_time_granularity_wins():
    models = _migrator().generate([
        "SELECT DATE_TRUNC('month', order_date), COUNT(*) FROM orders GROUP BY 1",
        "SELECT DATE_TRUNC('day', order_date), COUNT(*) FROM orders GROUP BY 1",
    ])
    d = next(x for x in models["orders"].dimensions if x.name == "order_date")
    assert d.type == "time" and d.granularity == "day"


def test_explicit_join_on_yields_relationship():
    models = _migrator().generate([
        "SELECT c.region, COUNT(*) FROM orders o"
        " JOIN customers c ON o.customer_id = c.id GROUP BY c.region"
    ])
    rels = models["orders"].relationships
    assert any(r.name == "customers" and r.foreign_key == "customer_id"
               for r in rels)


def test_no_relationship_from_non_key_equality():
    """a.status = b.status is a filter, not a join edge (ref :1367)."""
    models = _migrator().generate([
        "SELECT a.x, COUNT(*) FROM t1 a JOIN t2 b ON a.status = b.status"
        " GROUP BY a.x"
    ])
    assert models["t1"].relationships == []
    assert models["t2"].relationships == []


def test_multiple_aggregations_same_column_keep_aliases():
    models = _migrator().generate([
        "SELECT SUM(amount) as total, AVG(amount) as average,"
        " MAX(amount) as biggest FROM orders"
    ])
    names = {m.name for m in models["orders"].metrics}
    assert {"total", "average", "biggest"} <= names


def test_repeated_corpus_queries_do_not_duplicate_metrics():
    models = _migrator().generate([
        "SELECT SUM(amount) FROM orders",
        "SELECT SUM(amount) FROM orders",
    ])
    names = [m.name for m in models["orders"].metrics]
    assert names.count("sum_amount") == 1


def test_count_column_distinct_from_count_star():
    models = _migrator().generate([
        "SELECT COUNT(email) as with_email, COUNT(*) as total FROM users"
    ])
    ms = {m.name: m for m in models["users"].metrics}
    assert ms["with_email"].sql == "email"
    assert ms["total"].sql is None
