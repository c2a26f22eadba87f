"""Property-based compiler fuzz over the TPC-H layer.

Random metric/dimension/filter/order/limit combinations must:
1. compile to SQL without crashing,
2. pass Spark's analyzer (schema resolution — no job run),
3. project exactly the requested output columns, and
4. agree between the structured API and the semantic-SQL rewriter
   path on the compiled result (row-for-row at sf0.001 for a bounded
   sample of executions).

Modeled on the reference's planner-robustness suites
(``tests/queries/test_semantic_sql_planner.py``,
``tests/test_loading_validation_performance.py``): the engine must
never emit unanalyzable SQL for any well-formed field combination.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sidemantic_spark.models.tpch import build_layer

# (model, metrics, dimensions) pools — joinable combos only: the
# customer<-orders<-lineitem chain plus part
METRICS = [
    "orders.revenue", "orders.order_count", "orders.customer_count",
    "orders.max_order_value", "customer.customer_count",
    "customer.total_acctbal", "lineitem.qty", "lineitem.line_count",
]
DIMENSIONS = [
    "orders.status", "orders.priority", "orders.order_date__month",
    "orders.order_date__year", "customer.mktsegment", "customer.name",
    "lineitem.returnflag", "lineitem.ship_date__year",
]
FILTERS = [
    "orders.status = 'F'",
    "orders.priority != '1-URGENT'",
    "customer.mktsegment IN ('BUILDING', 'MACHINERY')",
    "orders.order_date__year >= TIMESTAMP '1995-01-01'",
]

combo = st.tuples(
    st.lists(st.sampled_from(METRICS), min_size=1, max_size=3, unique=True),
    st.lists(st.sampled_from(DIMENSIONS), min_size=0, max_size=3, unique=True),
    st.lists(st.sampled_from(FILTERS), min_size=0, max_size=2, unique=True),
    st.integers(0, 50),
)


@pytest.fixture(scope="module")
def fuzz_layer(spark, sf_dir):
    return build_layer(spark, sf_dir)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c=combo)
def test_any_field_combo_compiles_and_analyzes(fuzz_layer, spark, c):
    metrics, dims, filters, limit = c
    sql = fuzz_layer.compile(
        metrics=metrics, dimensions=dims, filters=filters,
        limit=limit or None,
    )
    fuzz_layer.register_sources()
    schema = spark.sql(sql).schema  # analyzer pass only, no job
    got = set(schema.fieldNames())
    want = {m.split(".", 1)[1] for m in metrics}
    for d in dims:
        name = d.split(".", 1)[1]
        # grain dims project as <dim>_<grain> by default
        assert any(name.split("__")[0] in f for f in got), (d, got)
    assert want <= got, (want, got)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c=combo, shape=st.sampled_from(["ungrouped", "totals", "ordered"]))
def test_query_shapes_compile_and_analyze(fuzz_layer, spark, c, shape):
    """Ungrouped (drill-to-detail), grand-total, and ordered variants
    of every field combo must also pass the analyzer."""
    metrics, dims, filters, limit = c
    kwargs = dict(metrics=metrics, dimensions=dims, filters=filters)
    from sidemantic_spark.sql.generator import QueryCompileError

    if shape == "ungrouped":
        kwargs["ungrouped"] = True
        kwargs["limit"] = (limit or 10)
        try:
            sql = fuzz_layer.compile(**kwargs)
        except QueryCompileError as e:
            # defined refusal: ungrouped queries that would need
            # fan-out correction have no per-row semantics
            assert "fan-out" in str(e)
            return
        fuzz_layer.register_sources()
        got = set(spark.sql(sql).schema.fieldNames())
        assert {m.split(".", 1)[1] for m in metrics} <= got
        return
    elif shape == "totals":
        if not dims:
            dims = ["orders.status"]
            kwargs["dimensions"] = dims
        kwargs["with_totals"] = True
    else:
        kwargs["order_by"] = [metrics[0].split(".", 1)[1] + " desc"]
        kwargs["limit"] = (limit or 10)
    sql = fuzz_layer.compile(**kwargs)
    fuzz_layer.register_sources()
    got = set(spark.sql(sql).schema.fieldNames())
    if shape == "totals":
        assert "_is_total" in got
    assert {m.split(".", 1)[1] for m in metrics} <= got


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c=combo)
def test_structured_and_semantic_sql_paths_agree(fuzz_layer, spark, c):
    metrics, dims, filters, _ = c
    # semantic-SQL form of the same ask (single-model subset keeps the
    # SELECT syntactically simple; rewriter resolves the joins)
    cols = ", ".join(metrics + dims)
    where = (" WHERE " + " AND ".join(filters)) if filters else ""
    head_model = metrics[0].split(".", 1)[0]
    sem = f"SELECT {cols} FROM {head_model}{where}"

    a = fuzz_layer.query(metrics=metrics, dimensions=dims, filters=filters)
    b = fuzz_layer.sql(sem)
    # repr-key sort: total order even with NULLs in left-join dims
    ra = sorted(map(tuple, a.collect()), key=repr)
    rb_df = b.select(*a.columns)  # align column order before compare
    rb = sorted(map(tuple, rb_df.collect()), key=repr)
    assert sorted(b.columns) == sorted(a.columns)
    assert ra == rb


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(c=combo, shape=st.sampled_from(["timezone", "segment", "offset"]))
def test_modifier_shapes_compile_and_analyze(fuzz_layer, spark, c, shape):
    """Timezone bucketing, segments, and offset pagination compose with
    any field combo without breaking the analyzer."""
    metrics, dims, filters, limit = c
    kwargs = dict(metrics=metrics, dimensions=dims, filters=filters)
    if shape == "timezone":
        if not any("__" in d for d in dims):
            dims = dims + ["orders.order_date__month"]
            kwargs["dimensions"] = dims
        kwargs["timezone"] = "America/New_York"
    elif shape == "segment":
        kwargs["segments"] = ["orders.urgent"]
    else:
        kwargs["order_by"] = [metrics[0].split(".", 1)[1]]
        kwargs["limit"] = limit or 7
        kwargs["offset"] = 3
    sql = fuzz_layer.compile(**kwargs)
    fuzz_layer.register_sources()
    got = set(spark.sql(sql).schema.fieldNames())
    assert {m.split(".", 1)[1] for m in metrics} <= got


ADDITIVE = ["orders.revenue", "orders.order_count"]
WRAP_DIMS = ["orders.status", "orders.priority", "customer.mktsegment"]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    m=st.sampled_from(ADDITIVE),
    d1=st.sampled_from(WRAP_DIMS),
    d2=st.sampled_from(WRAP_DIMS),
    wrapper=st.sampled_from(["identity", "filter", "cte_order", "rollup"]),
)
def test_wrapped_semantic_sql_matches_direct(fuzz_layer, spark, m, d1, d2, wrapper):
    """Every wrapper shape the BI-tool corpus produces — identity
    subquery, outer dim filter, CTE + order/limit, aggregate rollup to
    a coarser grain — must return the same rows as the equivalent
    direct semantic query (the rewriter's correctness contract)."""
    mcol = m.split(".", 1)[1]
    dcol1, dcol2 = d1.split(".", 1)[1], d2.split(".", 1)[1]
    if dcol1 == dcol2:
        d2, dcol2 = ("orders.priority", "priority") if dcol1 != "priority" \
            else ("orders.status", "status")
    inner = f"SELECT {d1}, {d2}, {m} FROM orders"

    if wrapper == "identity":
        sql = f"SELECT * FROM ({inner}) t"
        direct = fuzz_layer.query(metrics=[m], dimensions=[d1, d2])
    elif wrapper == "filter":
        sql = f"SELECT {dcol1}, {dcol2}, {mcol} FROM ({inner}) t WHERE {dcol1} IS NOT NULL"
        direct = fuzz_layer.query(metrics=[m], dimensions=[d1, d2],
                                  filters=[f"{d1} IS NOT NULL"])
    elif wrapper == "cte_order":
        sql = f"WITH c AS ({inner}) SELECT * FROM c ORDER BY {dcol1}, {dcol2} LIMIT 11"
        direct = fuzz_layer.query(metrics=[m], dimensions=[d1, d2],
                                  order_by=[dcol1, dcol2], limit=11)
    else:  # rollup to coarser grain (additive metric)
        sql = f"SELECT {dcol1}, SUM({mcol}) AS {mcol} FROM ({inner}) t GROUP BY {dcol1}"
        direct = fuzz_layer.query(metrics=[m], dimensions=[d1])

    got = fuzz_layer.sql(sql)
    ga = sorted(map(tuple, got.select(*direct.columns).collect()), key=repr)
    gb = sorted(map(tuple, direct.collect()), key=repr)
    assert sorted(got.columns) == sorted(direct.columns)
    assert ga == gb, (wrapper, sql)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ms=st.lists(st.sampled_from(
        ["customer.customer_count", "customer.total_acctbal", "orders.revenue"]),
        min_size=1, max_size=2, unique=True),
    ds=st.lists(st.sampled_from(
        ["orders.status", "orders.priority", "customer.mktsegment"]),
        min_size=1, max_size=2, unique=True),
)
def test_fanout_plan_matches_entity_grain_oracle(fuzz_layer, duck, ms, ds):
    """Fan-out-prone combos (dims from the many side, metrics from the
    one side) return, per metric, the metric's aggregate over the
    DISTINCT (pk, dims, value) rows of the same join, computed in
    DuckDB. The join is rooted at the first dimension's model, as the
    compiler roots it; LEFT joins keep every base row."""
    rows = fuzz_layer.query(metrics=ms, dimensions=ds).collect()
    dcols = [d.split(".", 1)[1] for d in ds]
    mcols = [m.split(".", 1)[1] for m in ms]
    join = ("customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey"
            if ds[0].startswith("customer.") else
            "orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey")
    dim_sql = {"orders.status": "o.o_orderstatus",
               "orders.priority": "o.o_orderpriority",
               "customer.mktsegment": "c.c_mktsegment"}
    # metric -> (entity pk, value, aggregate over the distinct rows)
    metric_sql = {
        "customer.customer_count": ("c.c_custkey", "c.c_custkey", "COUNT"),
        "customer.total_acctbal": (
            "c.c_custkey", "CAST(c.c_acctbal AS DECIMAL(18,2))", "SUM"),
        "orders.revenue": (
            "o.o_orderkey", "CAST(o.o_totalprice AS DECIMAL(18,2))", "SUM"),
    }
    dims = ", ".join(f"{dim_sql[d]} AS {c}" for d, c in zip(ds, dcols))
    groups = ", ".join(dcols)
    expected: dict = {}
    for i, m in enumerate(ms):
        pk, value, agg = metric_sql[m]
        for *key, v in duck.execute(f"""
            SELECT {groups}, {agg}(__v) FROM (
                SELECT DISTINCT {pk} AS __pk, {dims}, {value} AS __v
                FROM {join}) GROUP BY {groups}
        """).fetchall():
            expected.setdefault(tuple(key), [None] * len(ms))[i] = v

    def canon(v):
        return None if v is None else round(float(v), 6)

    got = {tuple(r[c] for c in dcols): [canon(r[c]) for c in mcols]
           for r in rows}
    assert len(got) == len(rows), (ms, ds)
    assert got == {k: [canon(v) for v in vs] for k, vs in expected.items()}, \
        (ms, ds)
