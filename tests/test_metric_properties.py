"""Property-based tests (hypothesis) for Metric agg auto-extraction
and the single-call guard — the parsing surface that decides whether
``sql="SUM(amount)"`` becomes (agg=sum, sql=amount) or stays an opaque
expression (reference core/metric.py:101-226)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sidemantic_spark.core.model import SIMPLE_AGGS as AGGS
from sidemantic_spark.core.model import Metric, _is_single_call

IDENT = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
EXTRACTABLE = sorted(a for a in AGGS if a not in ("count_distinct", "approx_count_distinct"))


@settings(max_examples=200, deadline=None)
@given(agg=st.sampled_from(EXTRACTABLE), col=IDENT, spaces=st.integers(0, 3))
def test_single_agg_call_extracts(agg, col, spaces):
    pad = " " * spaces
    m = Metric(name="m", sql=f"{pad}{agg.upper()}({pad}{col}{pad}){pad}")
    assert m.agg == agg
    assert m.sql == col


@settings(max_examples=200, deadline=None)
@given(col=IDENT)
def test_count_distinct_extracts(col):
    m = Metric(name="m", sql=f"COUNT(DISTINCT {col})")
    assert m.agg == "count_distinct"
    assert m.sql == col


@settings(max_examples=200, deadline=None)
@given(a=IDENT, b=IDENT, op=st.sampled_from(["/", "+", "-", "*"]))
def test_formula_sql_left_intact(a, b, op):
    sql = f"SUM({a}) {op} SUM({b})"
    m = Metric(name="m", sql=sql)
    # composite formulas must NOT be mis-extracted as a single agg
    assert m.agg is None
    assert m.sql == sql


@settings(max_examples=300, deadline=None)
@given(inner=IDENT, extra=st.sampled_from(["", " + 1", " / SUM(y)", " || 'x'"]))
def test_is_single_call_guard(inner, extra):
    sql = f"SUM({inner}){extra}"
    assert _is_single_call(sql) == (extra == "")


def test_nested_call_is_single():
    # nested parens inside ONE call are still a single call
    assert _is_single_call("SUM(COALESCE(a, 0))")
    assert not _is_single_call("SUM(a) / NULLIF(SUM(b), 0)")
    # a paren inside a string literal is data, not a call boundary
    assert _is_single_call("SUM(CASE WHEN s = ')' THEN 1 END)")
    m = Metric(name="m", sql="SUM(CASE WHEN s = ')' THEN 1 END)")
    assert m.agg == "sum" and m.sql == "CASE WHEN s = ')' THEN 1 END"


def test_plain_column_not_extracted():
    m = Metric(name="m", agg="sum", sql="amount")
    assert m.agg == "sum" and m.sql == "amount"


def test_expr_is_alias_for_sql():
    """Reference tests/test_expr_sql_alias.py: expr= and sql= are
    interchangeable on simple metrics and dimensions; conflicting
    values raise."""
    import pytest

    from sidemantic_spark.core.model import Dimension

    assert Metric(name="r", agg="sum", expr="amount").sql == "amount"
    assert Metric(name="r", agg="sum", sql="amount", expr="amount").sql == "amount"
    with pytest.raises(ValueError, match="different values"):
        Metric(name="r", agg="sum", sql="a", expr="b")
    # auto-extraction still applies through the alias
    m = Metric(name="r", expr="SUM(amount)")
    assert m.agg == "sum" and m.sql == "amount"
    d = Dimension(name="x", expr="colx")
    assert d.sql == "colx" and d.expr == "colx"
    with pytest.raises(ValueError, match="different values"):
        Dimension(name="x", sql="a", expr="b")
    # derived formulas accept the reference's sql= spelling
    md = Metric(name="share", type="derived", sql="a / b")
    assert md.expr == "a / b"


def test_display_metadata_fields_roundtrip_yaml():
    """format / value_format_name / synonyms / meta carry through the
    native YAML surface (reference tests/test_metadata_fields.py)."""
    from sidemantic_spark.authoring.yaml_io import export_yaml, load_yaml
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.model import Dimension

    m = Metric(
        name="revenue", agg="sum", sql="amount",
        format="$#,##0.00", value_format_name="usd",
        synonyms=["sales"], meta={"certified": True},
    )
    d = Dimension(
        name="rate", type="numeric", format="0.00%",
        value_format_name="percent", synonyms=["pct"], meta={"pii": False},
    )
    assert m.format == "$#,##0.00" and d.value_format_name == "percent"

    from sidemantic_spark.core.model import Model

    graph = SemanticGraph()
    graph.add_model(Model(
        name="orders", table="t", primary_key="id",
        dimensions=[d], metrics=[m], label="Orders", meta={"code": 7},
    ))
    text = export_yaml(graph)
    assert "value_format_name" in text and "synonyms" in text


def test_graph_expression_metric_with_raw_column_refs(spark):
    """Graph-level expression metrics referencing model.COLUMN project
    the column into the CTE and rewrite the ref; an exact dotted graph
    metric name wins over model.metric interpretation; dotted ratio legs
    resolve the graph metric; self-references raise (reference
    tests/test_validation.py + test_metric_expressions.py families)."""
    import pytest as _pytest

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.sql.generator import QueryCompileError

    spark.createDataFrame(
        [(1, "paid", 100), (2, "paid", 50), (3, "open", 25)],
        "id int, status string, amount int",
    ).selectExpr("id", "status", "amount",
                 "CAST('2024-01-01' AS TIMESTAMP) AS ts") \
        .createOrReplaceTempView("ge_orders")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="ge_orders", table="ge_orders", primary_key="id",
        dimensions=[Dimension(name="status"),
                    Dimension(name="ts", type="time")],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
    ))
    # exact graph-metric name shadows the model metric of the same ref
    layer.graph.add_metric(Metric(
        name="ge_orders.revenue", type="derived",
        sql="SUM(ge_orders.amount) * 2"))
    rows = {
        r["status"]: int(r[1])
        for r in layer.query(
            metrics=["ge_orders.revenue"], dimensions=["ge_orders.status"]
        ).collect()
    }
    assert rows == {"open": 50, "paid": 300}
    # dotted ratio legs resolve the graph metric, not the model metric
    layer.graph.add_metric(Metric(
        name="exact_ratio", type="ratio",
        numerator="ge_orders.revenue", denominator="ge_orders.revenue"))
    vals = [
        float(r["exact_ratio"])
        for r in layer.query(
            metrics=["exact_ratio"], dimensions=["ge_orders.status"]
        ).collect()
    ]
    assert vals == [1.0, 1.0]
    # self-reference raises a clear error
    layer.graph.add_metric(Metric(name="loopy", type="derived", sql="loopy + 1"))
    with _pytest.raises(QueryCompileError, match="reference itself"):
        layer.compile(metrics=["loopy"])
    # invalid time-comparison calculation raises rather than silently
    # computing percent_change
    layer.graph.add_metric(Metric(
        name="bad_calc_m", type="time_comparison",
        base_metric="ge_orders.revenue", comparison_type="mom",
        calculation="bogus_calc"))
    with _pytest.raises(QueryCompileError, match="unknown calculation"):
        layer.compile(metrics=["bad_calc_m"],
                      dimensions=["ge_orders.ts__month"])
