"""Import-adapter tests: Cube / MetricFlow / Rill / Superset.

Two layers of coverage:

1. Corpus sweep — parse every fixture file the reference ships for the
   format (``tests/fixtures/{cube,metricflow,rill,superset}``) and
   require that the vast majority import without error and produce
   models (skipped when the reference checkout is absent).
2. End-to-end — import a definition, seed a tiny Spark table, run a
   query through the full compile/execute path and check rows against
   DuckDB.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sidemantic_spark.core.layer import SparkSemanticLayer

FIXROOT = "/root/reference/tests/fixtures"

# files exercising format corners we deliberately don't map (semantic
# content is absent or the construct has no Spark-side equivalent)
SKIP_FILES = {
    "cube": {},
    "hex": {},
    "lookml": {},
    "metricflow": {},
    "omni": {},
    "rill": {},
    "superset": {},
}


def _fixture_files(fmt: str) -> list[str]:
    d = os.path.join(FIXROOT, fmt)
    if not os.path.isdir(d):
        return []
    exts = {
        "lookml": (".lkml",),
        "tableau": (".tds", ".twb"),
        "malloy": (".malloy",),
        "holistics": (".aml",),
        "gooddata": (".json",),
        "thoughtspot": (".tml",),
        "osi": (".yaml", ".yml", ".json"),
    }.get(fmt, (".yml", ".yaml"))
    out = []
    for root, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(exts) and f not in SKIP_FILES.get(fmt, set()):
                out.append(os.path.join(root, f))
    return sorted(out)


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_adapter_extra_corpora_sweep(spark):
    """Corpora outside the per-format fixture dirs: the AtScale SML
    kitchen sink, the TMDL realistic/warning projects (directory
    layout), and the Holistics kitchen sink modules."""
    from sidemantic_spark.adapters import ADAPTERS

    # atscale: both SML dirs, yml files
    layer = SparkSemanticLayer(spark)
    n = 0
    for d in ("atscale_sml", "atscale_sml_kitchen_sink"):
        for root, _dirs, files in os.walk(os.path.join(FIXROOT, d)):
            for f in sorted(files):
                if f.endswith((".yml", ".yaml")):
                    ADAPTERS["atscale"]().parse_file(layer, os.path.join(root, f))
                    n += 1
    assert n > 10 and len(layer.graph.models) >= 10

    # tmdl: project-directory parse of the extra fixtures
    for d in ("tmdl_realistic", "tmdl_warning"):
        layer = SparkSemanticLayer(spark)
        ADAPTERS["tmdl"]().parse_file(layer, os.path.join(FIXROOT, d))
        assert layer.graph.models, d

    # holistics kitchen sink: every .aml module parses
    import glob as _glob

    layer = SparkSemanticLayer(spark)
    files = sorted(
        _glob.glob(os.path.join(FIXROOT, "holistics_kitchen_sink/**/*.aml"),
                   recursive=True)
    )
    assert files
    for p in files:
        ADAPTERS["holistics"]().parse_file(layer, p)
    assert len(layer.graph.models) >= 5


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
@pytest.mark.parametrize(
    "fmt", ["bsl", "cube", "gooddata", "hex", "holistics", "lookml", "malloy",
            "metricflow", "omni", "osi", "rill", "snowflake", "superset",
            "tableau", "thoughtspot"]
)
def test_adapter_corpus_sweep(fmt, spark):
    from sidemantic_spark.adapters import ADAPTERS

    files = _fixture_files(fmt)
    assert files, f"no fixture files for {fmt}"
    parsed_models = 0
    failures: list[str] = []
    for path in files:
        layer = SparkSemanticLayer(spark)
        try:
            ADAPTERS[fmt]().parse_file(layer, path)
        except Exception as exc:
            failures.append(f"{os.path.basename(path)}: {exc}")
            continue
        parsed_models += len(layer.graph.models)
    # every file must parse; files without semantic content may yield 0
    assert not failures, f"{fmt}: {len(failures)}/{len(files)} failed: {failures[:5]}"
    assert parsed_models > 0, f"{fmt}: no models parsed from {len(files)} files"


def _seed_orders(spark):
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE adapter_orders AS
        SELECT * FROM (VALUES
            (1, 'paid', 100, 10, TIMESTAMP '2026-01-01 10:00:00'),
            (2, 'paid', 150, 20, TIMESTAMP '2026-02-01 10:00:00'),
            (3, 'refunded', 50, 5, TIMESTAMP '2026-02-15 10:00:00')
        ) t(order_id, status, amount, cost, created_at)
    """)
    pdf = con.table("adapter_orders").arrow().to_pandas()
    spark.createDataFrame(pdf).createOrReplaceTempView("adapter_orders")
    return con


def test_cube_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import CubeAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, yaml.safe_load("""
cubes:
  - name: orders
    sql_table: adapter_orders
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: "{CUBE}.status"
        type: string
      - name: created_at
        sql: created_at
        type: time
    measures:
      - name: order_count
        type: count
      - name: total_amount
        type: sum
        sql: amount
      - name: paid_amount
        type: sum
        sql: amount
        filters:
          - sql: "{CUBE}.status = 'paid'"
      - name: margin
        type: number
        sql: "total_amount - total_cost"
      - name: total_cost
        type: sum
        sql: cost
"""))
    model = layer.graph.models["orders"]
    assert model.table == "adapter_orders"
    assert model.primary_key == "order_id"
    assert model.metric("paid_amount").filters == ["orders.status = 'paid'"]

    rows = {
        (r["status"], r["order_count"], r["total_amount"], r["paid_amount"], r["margin"])
        for r in layer.query(
            metrics=["orders.order_count", "orders.total_amount",
                     "orders.paid_amount", "orders.margin"],
            dimensions=["orders.status"],
        ).collect()
    }
    assert rows == {("paid", 2, 250, 250, 220), ("refunded", 1, 50, None, 45)}
    con.close()


def test_cube_joins_and_segments(spark):
    import yaml

    from sidemantic_spark.adapters import CubeAdapter

    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, yaml.safe_load("""
cubes:
  - name: line_items
    sql_table: t_line_items
    dimensions:
      - name: id
        sql: id
        type: number
        primary_key: true
    measures:
      - name: qty
        type: sum
        sql: qty
    joins:
      - name: products
        relationship: many_to_one
        sql: "{CUBE}.product_id = {products}.id"
    segments:
      - name: bulk
        sql: "{CUBE}.qty > 10"
  - name: products
    sql_table: t_products
    dimensions:
      - name: id
        sql: id
        type: number
        primary_key: true
      - name: category
        sql: category
        type: string
"""))
    li = layer.graph.models["line_items"]
    assert li.relationships[0].foreign_key == "product_id"
    assert li.relationships[0].primary_key == "id"
    assert li.segment("bulk").sql == "{model}.qty > 10"
    sql = layer.compile(metrics=["line_items.qty"],
                        dimensions=["products.category"])
    assert "JOIN" in sql


def test_metricflow_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer, yaml.safe_load("""
semantic_models:
  - name: orders
    model: ref('adapter_orders')
    entities:
      - name: order
        type: primary
        expr: order_id
    dimensions:
      - name: status
        type: categorical
      - name: created_at
        type: time
        type_params:
          time_granularity: day
    measures:
      - name: revenue
        agg: sum
        expr: amount
      - name: order_count
        agg: count
        expr: order_id
metrics:
  - name: aov
    type: ratio
    type_params:
      numerator: revenue
      denominator: order_count
"""))
    assert layer.graph.models["orders"].table == "adapter_orders"
    assert "aov" in layer.graph.metrics
    rows = layer.query(metrics=["aov"], dimensions=["orders.status"]).collect()
    got = {(r["status"], round(r["aov"], 2)) for r in rows}
    assert got == {("paid", 125.0), ("refunded", 50.0)}
    con.close()


def test_rill_and_superset_import(spark):
    import yaml

    from sidemantic_spark.adapters import RillAdapter, SupersetAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    RillAdapter().parse(layer, yaml.safe_load("""
type: metrics_view
model: adapter_orders
timeseries: created_at
dimensions:
  - name: status
    column: status
measures:
  - name: total_amount
    expression: SUM(amount)
  - name: order_share
    expression: SUM(amount) / 400.0
"""))
    m = layer.graph.models["adapter_orders"]
    assert m.metric("total_amount").agg == "sum"
    assert m.metric("order_share").type == "derived"

    layer2 = SparkSemanticLayer(spark)
    SupersetAdapter().parse(layer2, yaml.safe_load("""
table_name: adapter_orders
main_dttm_col: created_at
columns:
  - column_name: status
    type: VARCHAR
  - column_name: amount
    type: INTEGER
metrics:
  - metric_name: count
    expression: COUNT(*)
  - metric_name: total_amount
    expression: SUM(amount)
"""))
    m2 = layer2.graph.models["adapter_orders"]
    assert m2.metric("count").agg == "count"
    assert m2.dimension("created_at").type == "time"
    # default_time_dimension auto-include (reference behavior)
    sql = layer2.compile(metrics=["adapter_orders.total_amount"])
    assert "DATE_TRUNC" in sql
    con.close()


def test_lookml_end_to_end(spark):
    """Views + explore joins + filtered measures + derived measure +
    segment, through the full compile/execute path."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_orders {
  sql_table_name: adapter_orders ;;

  dimension: order_id {
    type: number
    primary_key: yes
    sql: ${TABLE}.order_id ;;
  }
  dimension: status {
    type: string
    sql: ${TABLE}.status ;;
  }
  dimension: margin_amt {
    type: number
    sql: ${TABLE}.amount - ${TABLE}.cost ;;
  }
  dimension_group: created {
    type: time
    timeframes: [date, month, year]
    sql: ${TABLE}.created_at ;;
  }

  measure: order_count {
    type: count
  }
  measure: total_amount {
    type: sum
    sql: ${TABLE}.amount ;;
  }
  measure: paid_amount {
    type: sum
    sql: ${TABLE}.amount ;;
    filters: [status: "paid"]
  }
  measure: total_margin {
    type: sum
    sql: ${margin_amt} ;;
  }
  measure: margin_pct {
    type: number
    sql: 100.0 * ${total_margin} / NULLIF(${total_amount}, 0) ;;
  }

  filter: paid_only {
    sql: ${TABLE}.status = 'paid' ;;
  }
}
""")
    model = layer.graph.models["lk_orders"]
    assert model.table == "adapter_orders"
    assert model.primary_key == "order_id"
    assert model.dimension("created").type == "time"
    # ${margin_amt} inlined to its dimension SQL
    assert "amount - " in model.metric("total_margin").sql
    assert model.metric("paid_amount").filters == ["lk_orders.status = 'paid'"]
    assert model.segment("paid_only").sql == "{model}.status = 'paid'"

    rows = {
        (r["status"], r["order_count"], r["total_amount"], r["paid_amount"])
        for r in layer.query(
            metrics=["lk_orders.order_count", "lk_orders.total_amount",
                     "lk_orders.paid_amount"],
            dimensions=["lk_orders.status"],
        ).collect()
    }
    assert rows == {("paid", 2, 250, 250), ("refunded", 1, 50, None)}

    # derived measure over sibling measures
    r = layer.query(metrics=["lk_orders.margin_pct"]).collect()[0]
    assert abs(float(r["margin_pct"]) - (100.0 * 265 / 300)) < 1e-9

    # segment via filter: block
    r = layer.query(
        metrics=["lk_orders.total_amount"], segments=["lk_orders.paid_only"]
    ).collect()[0]
    assert r["total_amount"] == 250

    # time grain through dimension_group
    rows = {
        (str(r["created_month"])[:7], r["order_count"])
        for r in layer.query(
            metrics=["lk_orders.order_count"],
            dimensions=["lk_orders.created__month AS created_month"],
        ).collect()
    }
    assert rows == {("2026-01", 1), ("2026-02", 2)}
    con.close()


def test_lookml_explore_joins(spark):
    from sidemantic_spark.adapters import LookMLAdapter

    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_li {
  sql_table_name: t_line_items ;;
  dimension: id { type: number primary_key: yes sql: ${TABLE}.id ;; }
  dimension: product_id { type: number sql: ${TABLE}.product_id ;; }
  measure: qty { type: sum sql: ${TABLE}.qty ;; }
}
view: lk_products {
  sql_table_name: t_products ;;
  dimension: id { type: number primary_key: yes sql: ${TABLE}.id ;; }
  dimension: category { type: string sql: ${TABLE}.category ;; }
}
explore: lk_li {
  join: lk_products {
    sql_on: ${lk_li.product_id} = ${lk_products.id} ;;
    relationship: many_to_one
    type: left_outer
  }
}
""")
    li = layer.graph.models["lk_li"]
    assert li.relationships[0].name == "lk_products"
    assert li.relationships[0].foreign_key == "product_id"
    assert li.relationships[0].primary_key == "id"
    sql = layer.compile(metrics=["lk_li.qty"], dimensions=["lk_products.category"])
    assert "JOIN" in sql


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_lookml_reference_ecommerce_fixture(spark):
    """Parse the reference's ecommerce corpus (views + explores in
    separate files, as Looker projects ship) and check the graph."""
    from sidemantic_spark.adapters import LookMLAdapter

    layer = SparkSemanticLayer(spark)
    a = LookMLAdapter()
    a.parse_file(layer, os.path.join(FIXROOT, "lookml", "ecommerce.lkml"))
    a.parse_file(layer, os.path.join(FIXROOT, "lookml", "ecommerce_explores.lkml"))
    orders = layer.graph.models["orders"]
    assert orders.table == "ecommerce.orders"
    assert {r.name for r in orders.relationships} >= {"customers", "order_items"}
    assert orders.metric("delivered_revenue").filters == ["orders.status = 'delivered'"]
    assert orders.metric("avg_discount_percentage").type == "derived"
    # high_value_orders: numeric looker filter `>500`
    assert orders.metric("high_value_orders").filters == ["orders.amount > 500"]
    assert orders.segment("delivered") is not None
    oi = layer.graph.models["order_items"]
    assert any(r.name == "products" and r.type == "many_to_one" for r in oi.relationships)


def test_hex_end_to_end(spark):
    """Hex model with func measures, boolean-dimension filters, and an
    opaque ``func_sql`` complete-SQL measure, executed end-to-end."""
    import yaml

    from sidemantic_spark.adapters import HexAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    HexAdapter().parse(layer, yaml.safe_load("""
id: hx_orders
type: model
base_sql_table: adapter_orders
dimensions:
  - id: order_id
    type: number
    unique: true
  - id: status
    type: string
  - id: is_paid
    type: boolean
    expr_sql: status = 'paid'
  - id: created_at
    type: timestamp
measures:
  - id: order_count
    func: count
  - id: revenue
    func: sum
    of: amount
  - id: paid_revenue
    func: sum
    of: amount
    filters:
      - is_paid
  - id: paid_orders
    func: count_if
    of: is_paid
  - id: paid_share
    func_sql: CAST(SUM(CASE WHEN status = 'paid' THEN amount ELSE 0 END) AS DOUBLE) / NULLIF(SUM(amount), 0)
"""))
    m = layer.graph.models["hx_orders"]
    assert m.table == "adapter_orders"
    assert m.primary_key == "order_id"
    assert m.metric("paid_share").sql_is_complete

    r = layer.query(
        metrics=["hx_orders.order_count", "hx_orders.revenue",
                 "hx_orders.paid_revenue", "hx_orders.paid_orders",
                 "hx_orders.paid_share"],
    ).collect()[0]
    assert (r["order_count"], r["revenue"], r["paid_revenue"], r["paid_orders"]) == (3, 300, 250, 2)
    assert abs(float(r["paid_share"]) - 250 / 300) < 1e-9
    con.close()


def test_omni_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import OmniAdapter

    layer = SparkSemanticLayer(spark)
    a = OmniAdapter()
    a.parse(layer, yaml.safe_load("""
name: om_orders
table_name: t_orders
dimensions:
  id:
    type: number
    primary_key: true
  customer_id:
    type: number
  status:
    type: string
    sql: ${TABLE}.status
measures:
  order_count:
    aggregate_type: count
  completed_revenue:
    aggregate_type: sum
    sql: ${om_orders.amount}
    filters:
      status:
        is: completed
"""))
    a.parse(layer, yaml.safe_load("""
name: om_customers
table_name: t_customers
dimensions:
  id:
    type: number
    primary_key: true
  country:
    type: string
"""))
    a.parse(layer, yaml.safe_load("""
relationships:
  - join_from_view: om_orders
    join_to_view: om_customers
    join_type: always_left
    on_sql: ${om_orders.customer_id} = ${om_customers.id}
    relationship_type: many_to_one
"""))
    o = layer.graph.models["om_orders"]
    assert o.relationships[0].foreign_key == "customer_id"
    assert o.metric("completed_revenue").filters == ["om_orders.status = 'completed'"]
    sql = layer.compile(metrics=["om_orders.order_count"],
                        dimensions=["om_customers.country"])
    assert "JOIN" in sql


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_omni_estore_project(spark):
    """Whole-project parse: view files then relationships.yaml."""
    import glob as _glob

    from sidemantic_spark.adapters import OmniAdapter

    layer = SparkSemanticLayer(spark)
    a = OmniAdapter()
    for p in sorted(_glob.glob(os.path.join(FIXROOT, "omni/estore/views/*.yaml"))):
        a.parse_file(layer, p)
    a.parse_file(layer, os.path.join(FIXROOT, "omni/estore/relationships.yaml"))
    fct = layer.graph.models["omni_dbt_marts__fct_events"]
    assert any(r.name == "omni_dbt_marts__dim_products" for r in fct.relationships)


def test_tableau_end_to_end(spark, tmp_path):
    """Tableau .tds: columns by role, aggregations, calculated field,
    executed end-to-end on a seeded table."""
    from sidemantic_spark.adapters import TableauAdapter

    con = _seed_orders(spark)
    tds = tmp_path / "orders.tds"
    tds.write_text("""<?xml version='1.0' encoding='utf-8' ?>
<datasource formatted-name='t_orders' version='18.1'>
  <connection class='postgres' dbname='analytics' server='localhost'>
    <relation type='table' name='adapter_orders' table='[adapter_orders]' />
  </connection>
  <column caption='Order ID' datatype='integer' name='[order_id]' role='dimension' type='ordinal' />
  <column caption='Status' datatype='string' name='[status]' role='dimension' type='nominal' />
  <column caption='Created At' datatype='datetime' name='[created_at]' role='dimension' type='quantitative' />
  <column caption='Revenue' datatype='real' name='[revenue]' role='measure' type='quantitative' aggregation='sum'>
    <calculation class='tableau' formula='[amount]' />
  </column>
  <column caption='Margin' datatype='real' name='[margin]' role='measure' type='quantitative' aggregation='sum'>
    <calculation class='tableau' formula='[amount] - [cost]' />
  </column>
  <column datatype='integer' name='[order_count]' role='measure' type='quantitative' aggregation='count' />
</datasource>
""")
    layer = SparkSemanticLayer(spark)
    TableauAdapter().parse_file(layer, str(tds))
    m = layer.graph.models["t_orders"]
    assert m.table == "adapter_orders"
    assert m.dimension("status").type == "categorical"
    assert m.dimension("created_at").type == "time"
    r = layer.query(
        metrics=["t_orders.revenue", "t_orders.margin", "t_orders.order_count"],
        dimensions=["t_orders.status"],
        order_by=["status"],
    ).collect()
    assert [(x["status"], x["revenue"], x["margin"], x["order_count"]) for x in r] == [
        ("paid", 250, 220, 2), ("refunded", 50, 45, 1)
    ]
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_tableau_multi_join_reference_fixture(spark):
    from sidemantic_spark.adapters import TableauAdapter

    layer = SparkSemanticLayer(spark)
    TableauAdapter().parse_file(layer, os.path.join(FIXROOT, "tableau/multi_join.tds"))
    orders = layer.graph.models["orders"]
    assert any(r.name == "customers" and r.foreign_key == "customer_id" and r.primary_key == "id"
               for r in orders.relationships)


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_cube_views_become_explores(spark):
    """Cube `views:` import as Explores; a role-'*' row_level policy
    becomes the explore's mandatory filter, enforced through the
    compiled query."""
    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    a = ADAPTERS["cube"]()
    import yaml as _yaml

    a.parse(layer, _yaml.safe_load("""
cubes:
  - name: cv_orders
    sql_table: adapter_orders
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: order_count
        type: count
views:
  - name: paid_orders_view
    cubes:
      - join_path: cv_orders
        includes: "*"
    access_policy:
      - role: "*"
        row_level:
          filters:
            - member: "${CUBE}.status"
              operator: equals
              values:
                - paid
"""))
    exp = layer.graph.explores["paid_orders_view"]
    assert exp.model == "cv_orders"
    assert exp.filters == ["cv_orders.status = 'paid'"]
    rows = layer.query(
        metrics=["cv_orders.order_count"], explore="paid_orders_view"
    ).collect()
    assert rows[0][0] == 2  # only the paid rows
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_rill_derived_parent_view(spark):
    """A derived metrics view (`parent:` + parent_dimensions/measures,
    rill parse_metrics_view.go) copies the selected subset of its
    parent's fields."""
    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    a = ADAPTERS["rill"]()
    a.parse_file(layer, os.path.join(FIXROOT, "rill", "parent_metrics.yaml"))
    a.parse_file(layer, os.path.join(FIXROOT, "rill", "derived_metrics.yaml"))
    parent = layer.graph.models["parent_metrics"]
    child = layer.graph.models["regional_sales"]
    assert {d.name for d in child.dimensions} <= {d.name for d in parent.dimensions}
    assert {m.name for m in child.metrics} == {"revenue", "orders"}
    assert "region" in {d.name for d in child.dimensions}


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_omni_topic_becomes_explore(spark):
    """A *.topic.yaml (base_view + join fan) becomes an Explore scoped
    to the base and joined views' fields."""
    import glob as _glob

    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    a = ADAPTERS["omni"]()
    d = os.path.join(FIXROOT, "omni")
    topic = None
    for p in sorted(_glob.glob(os.path.join(d, "**", "*.yaml"), recursive=True)):
        if p.endswith(".topic.yaml"):
            topic = topic or p
            continue
        a.parse_file(layer, p)
    assert topic is not None
    a.parse_file(layer, topic)
    base = os.path.basename(topic).split(".")[0].lower()
    exp = layer.graph.explores.get(base)
    assert exp is not None
    assert exp.model in layer.graph.models
    assert exp.allowed_dimensions  # field scoping resolved
    assert all(f.split(".")[0] in layer.graph.models for f in exp.allowed_dimensions)


def test_malloy_end_to_end(spark):
    """Malloy source with dimensions, filtered measure, count_distinct,
    and a join, executed end-to-end."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: m_orders is duckdb.table('adapter_orders') extend {
  primary_key: order_id

  dimension:
    status is status
    order_day is DATE_TRUNC('day', created_at)

  measure:
    order_count is count()
    revenue is sum(amount)
    paid_revenue is sum(amount) { where: status = 'paid' }
    statuses is count(distinct status)
}
""")
    m = layer.graph.models["m_orders"]
    assert m.primary_key == "order_id"
    assert m.metric("paid_revenue").filters == ["m_orders.status = 'paid'"]
    assert m.metric("statuses").agg == "count_distinct"
    r = layer.query(
        metrics=["m_orders.order_count", "m_orders.revenue",
                 "m_orders.paid_revenue", "m_orders.statuses"],
    ).collect()[0]
    assert (r["order_count"], r["revenue"], r["paid_revenue"], r["statuses"]) == (3, 300, 250, 2)
    con.close()


def test_malloy_inheritance_pipeline_compose(spark):
    """Malloy long tail end-to-end: source inheritance (`is parent
    extend { ... }` and the old `parent + { ... }` spelling) with
    `except:` drops and overrides, backtick source names, query-derived
    sources (`from(parent -> { group_by/aggregate })` and direct
    pipelines), `compose()` composite sources, and multiline
    `.sql(\"\"\"...\"\"\")` bindings — all queried through Spark."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: base_orders is duckdb.table('adapter_orders') extend {
  primary_key: order_id
  dimension:
    status is status
    margin is amount - cost
  measure:
    order_count is count()
    revenue is sum(amount)
}

source: paid_orders is base_orders extend {
  where: status = 'paid'
  except: margin
  measure:
    revenue is sum(amount) { where: status = 'paid' }
}

source: old_style is base_orders + {
  dimension: big is amount > 100
}

source: `cube:orders` is base_orders extend {}

source: status_stats is from(base_orders -> {
  group_by: status
  aggregate: revenue
}) extend {
  measure: n_statuses is count()
}

source: top_status is status_stats -> {
  select: *
  order_by: revenue desc
  limit: 1
}

source: composite is compose(base_orders, `cube:orders`)

source: sql_orders is duckdb.sql(\"\"\"
  SELECT order_id, status, amount FROM adapter_orders WHERE amount > 60
\"\"\") extend {
  measure: big_count is count()
}
""")
    ms = layer.graph.models
    # inheritance copies fields; except: drops; same-name measure overrides
    po = ms["paid_orders"]
    assert po.table == "adapter_orders"
    assert po.dimension("status") is not None and po.dimension("margin") is None
    assert po.metric("order_count") is not None
    assert po.metric("revenue").filters  # overridden with the filtered form
    assert po.row_filters == ["status = 'paid'"]
    # old `+ {` spelling adds fields
    assert ms["old_style"].dimension("big") is not None
    # backtick names sanitize to SQL-safe slugs
    assert "cube_orders" in ms
    # compose() binds to its first component
    assert ms["composite"].metric("revenue") is not None
    # pipeline source: aggregate output becomes a plain numeric column
    st = ms["status_stats"]
    assert st.sql and "GROUP BY" in st.sql
    assert st.dimension("revenue").type == "numeric"
    rows = {
        r["status"]: r["revenue_sum"]
        for r in layer.query(
            metrics=["status_stats.n_statuses"],
            dimensions=["status_stats.status", "status_stats.revenue AS revenue_sum"],
        ).collect()
    }
    assert rows == {"paid": 250, "refunded": 50}
    # select: * + order_by + limit pipeline
    ts = ms["top_status"]
    assert ts.sql and "LIMIT 1" in ts.sql
    top = layer.query(
        metrics=[], dimensions=["top_status.status", "top_status.revenue AS r"]
    ).collect()
    assert len(top) == 1 and top[0]["status"] == "paid"
    # multiline sql binding
    big = layer.query(metrics=["sql_orders.big_count"]).collect()[0]
    assert big["big_count"] == 2
    con.close()


def test_malloy_select_projection_preserves_multiplicity(spark):
    """`select:` with explicit columns is a ROW-LEVEL projection — it
    must not collapse duplicate rows via GROUP BY."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: mp_orders is duckdb.table('adapter_orders') extend {
  primary_key: order_id
  measure: order_count is count()
}

source: statuses_only is mp_orders -> {
  select: status
} extend {
  measure: n_rows is count()
}
""")
    m = layer.graph.models["statuses_only"]
    assert "GROUP BY" not in (m.sql or "")
    # 3 source rows -> 3 projected rows (2 paid + 1 refunded), not 2
    assert layer.query(metrics=["statuses_only.n_rows"]).collect()[0][0] == 3
    con.close()


def test_lookml_resolve_regressions(spark):
    """Forward dimension refs are not hijacked by a same-prefix
    dimension_group, day_of_week timeframes follow Looker semantics
    (name / Monday=0 index), and case labels with quotes escape."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: rr_orders {
  sql_table_name: adapter_orders ;;
  dimension: order_id {
    type: number
    primary_key: yes
    sql: ${TABLE}.order_id ;;
  }
  dimension: created_ref {
    type: string
    sql: CAST(${created_flag} AS STRING) ;;
  }
  dimension: created_flag {
    type: yesno
    sql: ${TABLE}.amount > 60 ;;
  }
  dimension_group: created {
    type: time
    timeframes: [date, day_of_week, day_of_week_index]
    sql: ${TABLE}.created_at ;;
  }
  dimension: created_dow {
    type: string
    sql: ${created_day_of_week} ;;
  }
  dimension: created_dow_idx {
    type: number
    sql: ${created_day_of_week_index} ;;
  }
  dimension: quoted_bucket {
    case: {
      when: {
        sql: ${TABLE}.amount >= 100 ;;
        label: "Don't know"
      }
      else: "it's small"
    }
  }
  measure: order_count { type: count }
}
""")
    m = layer.graph.models["rr_orders"]
    # forward ref resolves to the later dimension's SQL, not created_at
    assert "amount > 60" in m.dimension("created_ref").sql
    assert "created_at" not in m.dimension("created_ref").sql
    # Looker day_of_week = day NAME; index is Monday=0
    assert "DATE_FORMAT" in m.dimension("created_dow").sql
    assert "+ 5) % 7" in m.dimension("created_dow_idx").sql
    # quotes in case labels escape; the whole model executes
    assert "Don''t know" in m.dimension("quoted_bucket").sql
    rows = {
        r["quoted_bucket"]: r["order_count"]
        for r in layer.query(
            metrics=["rr_orders.order_count"],
            dimensions=["rr_orders.quoted_bucket"],
        ).collect()
    }
    assert rows == {"Don't know": 2, "it's small": 1}
    # seed dates: 2026-01-01 (Thursday), 2026-02-01 / 2026-02-15 (Sundays)
    dows = {
        (r["created_dow"], r["created_dow_idx"])
        for r in layer.query(
            metrics=["rr_orders.order_count"],
            dimensions=["rr_orders.created_dow", "rr_orders.created_dow_idx"],
        ).collect()
    }
    assert dows == {("Thursday", 3), ("Sunday", 6)}
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_malloy_reference_ecommerce_fixture(spark):
    from sidemantic_spark.adapters import MalloyAdapter

    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_file(layer, os.path.join(FIXROOT, "malloy/ecommerce.malloy"))
    orders = layer.graph.models["orders"]
    assert orders.primary_key == "order_id"
    assert orders.metric("revenue").agg == "sum"
    assert orders.metric("completed_orders").filters == ["orders.status = 'completed'"]
    assert any(r.name == "customers" and r.type == "many_to_one" and r.foreign_key == "customer_id"
               for r in orders.relationships)
    assert any(r.name == "order_items" and r.type == "one_to_many"
               for r in orders.relationships)
    assert layer.graph.models["customers"].metric("unique_customers").agg == "count_distinct"


def test_tmdl_end_to_end(spark, tmp_path):
    """TMDL definition dir: tables + relationships + DAX measures,
    executed end-to-end."""
    from sidemantic_spark.adapters import TmdlAdapter

    con = _seed_orders(spark)
    d = tmp_path / "definition"
    (d / "tables").mkdir(parents=True)
    (d / "tables" / "Orders.tmdl").write_text("""table adapter_orders
    column 'Order ID'
        dataType: int64
        isKey
        sourceColumn: order_id
    column Status
        dataType: string
        sourceColumn: status
    column Amount
        dataType: decimal
        sourceColumn: amount
    measure 'Total Revenue' = SUM(adapter_orders[Amount])
    measure 'Order Count' = COUNTROWS(adapter_orders)
""")
    (d / "relationships.tmdl").write_text("""relationship 'Orders-Whatever'
    fromColumn: adapter_orders[Status]
    toColumn: missing_table[Status]
    fromCardinality: many
    toCardinality: one
""")
    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, str(tmp_path))
    m = layer.graph.models["adapter_orders"]
    assert m.primary_key == "order_id"
    assert m.metric("total_revenue").agg == "sum"
    r = layer.query(
        metrics=["adapter_orders.total_revenue", "adapter_orders.order_count"],
        dimensions=["adapter_orders.status"],
        order_by=["status"],
    ).collect()
    assert [(x["status"], x["total_revenue"], x["order_count"]) for x in r] == [
        ("paid", 250, 2), ("refunded", 50, 1)
    ]
    con.close()


def test_tmdl_dax_long_tail(spark, tmp_path):
    """Compound DAX measure shapes translate (the reference needs its
    DAX parser crate for these; the common forms are regex-safe):
    CALCULATE(agg, predicate) -> filtered metric, DIVIDE([m],[m]) ->
    ratio, DIVIDE(agg, agg) -> complete-SQL safe divide, SUMX row
    expressions, and [measure] arithmetic -> derived — all executed."""
    from sidemantic_spark.adapters import TmdlAdapter

    con = _seed_orders(spark)
    d = tmp_path / "definition"
    (d / "tables").mkdir(parents=True)
    (d / "tables" / "Orders.tmdl").write_text("""table adapter_orders
    column 'Order ID'
        dataType: int64
        isKey
        sourceColumn: order_id
    column Status
        dataType: string
        sourceColumn: status
    column Amount
        dataType: decimal
        sourceColumn: amount
    column Cost
        dataType: decimal
        sourceColumn: cost
    measure 'Total Revenue' = SUM(adapter_orders[Amount])
    measure 'Order Count' = COUNTROWS(adapter_orders)
    measure 'Paid Revenue' = CALCULATE(SUM(adapter_orders[Amount]), adapter_orders[Status] = "paid")
    measure 'Revenue Share' = DIVIDE([Paid Revenue], [Total Revenue])
    measure 'AOV' = DIVIDE(SUM(adapter_orders[Amount]), COUNTROWS(adapter_orders), 0)
    measure 'Total Margin' = SUMX(adapter_orders, adapter_orders[Amount] - adapter_orders[Cost])
    measure 'Margin Pct' = [Total Margin] / [Total Revenue]
    measure 'Opaque' = VAR x = 1 RETURN x
""")
    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, str(tmp_path))
    m = layer.graph.models["adapter_orders"]
    pr = m.metric("paid_revenue")
    assert pr.agg == "sum" and pr.filters == ["adapter_orders.status = 'paid'"]
    assert m.metric("revenue_share").type == "ratio"
    assert m.metric("aov").sql_is_complete
    tm = m.metric("total_margin")
    assert tm.agg == "sum" and tm.sql == "amount - cost"
    assert m.metric("margin_pct").type == "derived"
    op = m.metric("opaque")
    assert not op.public and "unparsed DAX" in (op.description or "")
    r = layer.query(
        metrics=["adapter_orders.paid_revenue", "adapter_orders.revenue_share",
                 "adapter_orders.aov", "adapter_orders.total_margin",
                 "adapter_orders.margin_pct"],
    ).collect()[0]
    # data: paid 100 (cost 10), paid 150 (cost 20), refunded 50 (cost 5)
    assert r["paid_revenue"] == 250
    assert abs(float(r["revenue_share"]) - 250 / 300) < 1e-9
    assert abs(float(r["aov"]) - 100.0) < 1e-9
    assert r["total_margin"] == 265
    assert abs(float(r["margin_pct"]) - 265 / 300) < 1e-9
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_tmdl_reference_fixture(spark):
    from sidemantic_spark.adapters import TmdlAdapter

    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, os.path.join(FIXROOT, "tmdl"))
    sales = layer.graph.models["sales"]
    assert sales.metric("total_sales").agg == "sum"
    assert sales.metric("total_sales").sql == "amount"
    # complex DAX imported as opaque hidden metric
    ly = sales.metric("sales_ly")
    assert ly is not None and not ly.public
    assert any(r.name == "products" and r.type == "many_to_one" for r in sales.relationships)
    # external corpus smoke
    ext = os.path.join(FIXROOT, "external_powerbi")
    if os.path.isdir(ext):
        total = 0
        for sub in sorted(os.listdir(ext)):
            p = os.path.join(ext, sub)
            if os.path.isdir(os.path.join(p, "definition")):
                lyr2 = SparkSemanticLayer(spark)
                TmdlAdapter().parse_file(lyr2, p)
                total += len(lyr2.graph.models)
        assert total >= 10


def test_holistics_end_to_end(spark):
    """Holistics AML model + relationships, executed end-to-end."""
    from sidemantic_spark.adapters import HolisticsAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    HolisticsAdapter().parse_text(layer, """
Model h_orders {
  type: 'table'
  table_name: 'adapter_orders'

  dimension order_id {
    type: 'number'
    primary_key: true
  }

  dimension status {
    type: 'text'
  }

  measure order_count {
    type: 'number'
    definition: @sql {{ order_id }};;
    aggregation_type: 'count'
  }

  measure revenue {
    type: 'number'
    definition: @sql {{ amount }};;
    aggregation_type: 'sum'
  }

  measure aov {
    type: 'number'
    definition: @sql {{ revenue }} / NULLIF({{ order_count }}, 0);;
    aggregation_type: 'custom'
  }
}
""")
    m = layer.graph.models["h_orders"]
    assert m.table == "adapter_orders"
    assert m.primary_key == "order_id"
    assert m.metric("revenue").agg == "sum"
    assert m.metric("aov").type == "derived"
    r = layer.query(
        metrics=["h_orders.revenue", "h_orders.order_count", "h_orders.aov"],
        dimensions=["h_orders.status"], order_by=["status"],
    ).collect()
    assert [(x["status"], x["revenue"], x["order_count"], float(x["aov"])) for x in r] == [
        ("paid", 250, 2, 125.0), ("refunded", 50, 1, 50.0)
    ]
    con.close()


def test_holistics_partials_and_metric_store(spark):
    """PartialModel + Model.extend() (named and inline), top-level
    Metric blocks, and the PartialDataset metric-store pattern
    (docs.holistics.io) — executed through Spark, including the
    of_all() -> all() share-of-total translation."""
    from sidemantic_spark.adapters import HolisticsAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    a = HolisticsAdapter()
    a.parse_text(layer, """
Model hp_orders {
  table_name: 'adapter_orders'
  dimension order_id {
    type: 'number'
    primary_key: true
  }
  dimension status {
    type: 'text'
  }
  measure revenue {
    aggregation_type: 'sum'
    definition: @sql {{ #SOURCE.amount }};;
  }
}

PartialModel hp_extras {
  dimension status {
    label: 'Status (extended)'
  }
  dimension big {
    type: 'truefalse'
    definition: @sql {{ amount }} > 60;;
  }
  measure order_count {
    aggregation_type: 'count'
  }
}

Model hp_orders_ext = hp_orders.extend(hp_extras)

Metric hp_paid_revenue {
  label: 'Paid Revenue'
  definition: @aql hp_orders | where(hp_orders.status = 'paid') | sum(hp_orders.amount) ;;
}

PartialDataset hp_store {
  metric hp_status_share {
    definition: @aql sum(hp_orders.amount) | of_all(hp_orders) ;;
  }
}

Dataset hp_base {
  data_source_name: 'demo'
}

Dataset hp_full = hp_base.extend(hp_store)
""")
    ext = layer.graph.models["hp_orders_ext"]
    # partial merge: label added, base type kept; new field + measure added
    assert ext.dimension("status").label == "Status (extended)"
    assert ext.dimension("big") is not None and ext.metric("order_count") is not None
    # base untouched by the extension
    assert layer.graph.models["hp_orders"].dimension("big") is None
    # AQL metrics executed
    row = layer.query(metrics=["hp_orders.hp_paid_revenue"]).collect()[0]
    assert row[0] == 250
    share = {
        r["status"]: float(r["hp_status_share"])
        for r in layer.query(
            metrics=["hp_orders.hp_status_share"],
            dimensions=["hp_orders.status"],
        ).collect()
    }
    assert abs(share["paid"] - 250 / 300) < 1e-9
    assert abs(share["refunded"] - 50 / 300) < 1e-9
    # extended model also queries
    big = {
        r["big"]: r["order_count"]
        for r in layer.query(
            metrics=["hp_orders_ext.order_count"],
            dimensions=["hp_orders_ext.big"],
        ).collect()
    }
    assert big == {True: 2, False: 1}
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_holistics_reference_fixtures(spark):
    import glob as _g

    from sidemantic_spark.adapters import HolisticsAdapter

    layer = SparkSemanticLayer(spark)
    a = HolisticsAdapter()
    for f in sorted(_g.glob(os.path.join(FIXROOT, "holistics/*.aml"))):
        a.parse_file(layer, f)
    orders = layer.graph.models["orders"]
    assert orders.metric("revenue").agg == "sum"
    assert orders.metric("amount_stdev").agg == "stddev"
    assert any(r.name == "users" and r.foreign_key == "user_id" for r in orders.relationships)


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_gooddata_ldm_and_analytics(spark):
    from sidemantic_spark.adapters import GoodDataAdapter

    layer = SparkSemanticLayer(spark)
    GoodDataAdapter().parse_file(layer, os.path.join(FIXROOT, "gooddata/ecommerce_demo_ldm.json"))
    assert len(layer.graph.models) >= 5
    # facts become sum metrics on the owning dataset
    assert any(m.metrics for m in layer.graph.models.values())
    GoodDataAdapter().parse_file(layer, os.path.join(FIXROOT, "gooddata/ecommerce_demo_analytics.json"))
    assert layer.graph.metrics, "MAQL arithmetic metrics should import as derived"


def test_gooddata_end_to_end(spark):
    from sidemantic_spark.adapters import GoodDataAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    GoodDataAdapter().parse(layer, {
        "ldm": {"datasets": [{
            "id": "g_orders",
            "grain": [{"id": "order_id", "type": "attribute"}],
            "attributes": [
                {"id": "order_id", "sourceColumn": "order_id", "sourceColumnDataType": "INT"},
                {"id": "status", "sourceColumn": "status", "sourceColumnDataType": "STRING"},
            ],
            "facts": [{"id": "amount", "sourceColumn": "amount", "sourceColumnDataType": "NUMERIC"}],
            "dataSourceTableId": {"path": ["SCHEMA", "adapter_orders"]},
        }]},
    })
    m = layer.graph.models["g_orders"]
    assert m.table == "adapter_orders" and m.primary_key == "order_id"
    r = layer.query(metrics=["g_orders.amount"], dimensions=["g_orders.status"],
                    order_by=["status"]).collect()
    assert [(x["status"], x["amount"]) for x in r] == [("paid", 250), ("refunded", 50)]
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_atscale_kitchen_sink_metric_long_tail(spark):
    """SML metric long tail from the kitchen-sink corpus: 'count
    non-null' and 'sum distinct' calculation methods, dataset-less
    metric_calc bound by expression refs (deferred across files), and
    custom_quantiles -> exact PERCENTILE_CONT."""
    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    a = ADAPTERS["atscale"]()
    d = os.path.join(FIXROOT, "atscale_sml_kitchen_sink")
    for root, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.endswith((".yml", ".yaml")):
                a.parse_file(layer, os.path.join(root, f))
    fo = layer.graph.models["fact_orders"]
    assert fo.metric("order_count").agg == "count"          # count non-null
    # 'sum distinct' dedups by VALUE — preserved as a complete-SQL
    # aggregate, NOT flattened to plain sum (pk-row dedup ≠ value dedup)
    tad = fo.metric("total_amount_distinct")
    assert tad.sql_is_complete and tad.sql == "SUM(DISTINCT total_amount)"
    calc = fo.metric("avg_order_value")                     # deferred calc
    assert calc.type == "derived" and "order_count" in calc.expr
    p75 = fo.metric("amount_p75")
    assert p75.sql_is_complete and "PERCENTILE_CONT(0.75)" in p75.sql


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_atscale_catalog(spark):
    from sidemantic_spark.adapters import AtScaleAdapter

    layer = SparkSemanticLayer(spark)
    AtScaleAdapter().parse_file(layer, os.path.join(FIXROOT, "atscale_sml"))
    fact = layer.graph.models["fact_sales"]
    assert fact.metric("total_sales").agg == "sum"
    assert fact.metric("total_sales").sql == "amount"
    assert fact.metric("sales_median").agg == "median"
    assert any(r.name == "dim_customers" and r.foreign_key == "customer_id"
               for r in fact.relationships)
    assert fact.pre_aggregations and fact.pre_aggregations[0].measures == ["total_sales", "order_count"]
    # dimension-level metric lands on its dataset
    assert layer.graph.models["dim_customers"].metric("customer_count").agg == "count_distinct"


def test_thoughtspot_end_to_end(spark, tmp_path):
    from sidemantic_spark.adapters import ThoughtSpotAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    t = tmp_path / "orders.table.tml"
    t.write_text("""
table:
  name: ts_orders
  db_table: adapter_orders
  columns:
    - name: order_id
      db_column_name: order_id
      data_type: INT64
      properties:
        column_type: ATTRIBUTE
        is_primary_key: true
    - name: status
      db_column_name: status
      data_type: VARCHAR
      properties:
        column_type: ATTRIBUTE
    - name: order_month
      db_column_name: created_at
      data_type: TIMESTAMP
      properties:
        column_type: ATTRIBUTE
        default_date_bucket: MONTHLY
    - name: revenue
      db_column_name: amount
      data_type: DOUBLE
      properties:
        column_type: MEASURE
        aggregation: SUM
    - name: order_count
      db_column_name: order_id
      data_type: INT64
      properties:
        column_type: MEASURE
        aggregation: COUNT
""")
    ThoughtSpotAdapter().parse_file(layer, str(t))
    m = layer.graph.models["ts_orders"]
    assert m.primary_key == "order_id"
    assert m.dimension("order_month").type == "time"
    assert m.dimension("order_month").granularity == "month"
    r = layer.query(metrics=["ts_orders.revenue", "ts_orders.order_count"],
                    dimensions=["ts_orders.status"], order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["order_count"]) for x in r] == [
        ("paid", 250, 2), ("refunded", 50, 1)
    ]
    con.close()


def test_thoughtspot_model_tml_semantic_object(spark):
    """A TML Model (v2) is itself a semantic model: single-table objects
    bind the table; joined objects compile to derived SQL with the join
    tree inlined, formulas (incl. nested refs) resolved to physical
    columns, and measures aggregated over projected exprs — executed."""
    import yaml as _yaml

    from sidemantic_spark.adapters import ThoughtSpotAdapter

    con = _seed_orders(spark)
    spark.sql("""
        CREATE OR REPLACE TEMP VIEW ts_custs AS
        SELECT * FROM VALUES (1, 'acme'), (2, 'globex') AS t(cust_id, cust_name)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMP VIEW ts_sales AS
        SELECT * FROM VALUES
            (1, 1, 100.0, 10.0), (2, 1, 150.0, 20.0), (3, 2, 50.0, 5.0)
            AS t(sale_id, cust_id, gross, discount)
    """)
    layer = SparkSemanticLayer(spark)
    ThoughtSpotAdapter().parse(layer, _yaml.safe_load("""
model:
  name: ts_sales_model
  model_tables:
    - name: ts_sales
      joins:
        - with: ts_custs
          "on": "[ts_sales::cust_id] = [ts_custs::cust_id]"
          type: LEFT_OUTER
          cardinality: MANY_TO_ONE
    - name: ts_custs
  formulas:
    - name: net
      expr: "[ts_sales::gross] - [ts_sales::discount]"
      id: net_f
    - name: net_twice
      expr: "[net] * 2"
      id: net_twice_f
  columns:
    - name: sale_id
      column_id: ts_sales::sale_id
      properties: {column_type: ATTRIBUTE}
    - name: customer
      column_id: ts_custs::cust_name
      properties: {column_type: ATTRIBUTE}
    - name: net_revenue
      formula_id: net_f
      properties: {column_type: MEASURE, aggregation: SUM}
    - name: net_twice_total
      formula_id: net_twice_f
      properties: {column_type: MEASURE, aggregation: SUM}
"""))
    m = layer.graph.models["ts_sales_model"]
    assert m.sql and "LEFT JOIN ts_custs" in m.sql
    rows = {
        r["customer"]: (float(r["net_revenue"]), float(r["net_twice_total"]))
        for r in layer.query(
            metrics=["ts_sales_model.net_revenue", "ts_sales_model.net_twice_total"],
            dimensions=["ts_sales_model.customer"],
        ).collect()
    }
    assert rows == {"acme": (220.0, 440.0), "globex": (45.0, 90.0)}
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_thoughtspot_worksheet_joins(spark):
    import glob as _g

    from sidemantic_spark.adapters import ThoughtSpotAdapter

    layer = SparkSemanticLayer(spark)
    a = ThoughtSpotAdapter()
    for f in sorted(_g.glob(os.path.join(FIXROOT, "thoughtspot/*.tml"))):
        a.parse_file(layer, f)
    sales = layer.graph.models["sales"]
    assert any(r.name == "customers" and r.foreign_key == "customer_id" for r in sales.relationships)
    # composite-key inner join imported with both columns
    reg = [r for r in sales.relationships if r.name == "regions"]
    assert reg and reg[0].foreign_key == ["region_id", "country_code"]
    assert reg[0].join_type == "inner"
    assert sales.metric("gross_revenue").agg == "sum"


def test_snowflake_cortex_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import SnowflakeAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    SnowflakeAdapter().parse(layer, yaml.safe_load("""
name: Orders
tables:
  - name: sf_orders
    base_table:
      table: adapter_orders
    primary_key:
      columns: [order_id]
    time_dimensions:
      - name: created_at
        expr: created_at
        data_type: timestamp
    dimensions:
      - name: status
        expr: status
        data_type: text
    measures:
      - name: revenue
        expr: amount
        default_aggregation: sum
      - name: avg_amount
        expr: amount
        default_aggregation: avg
    filters:
      - name: paid_only
        expr: "{model}.status = 'paid'"
"""))
    m = layer.graph.models["sf_orders"]
    assert m.primary_key == "order_id"
    assert m.dimension("created_at").type == "time"
    assert m.segment("paid_only") is not None
    r = layer.query(metrics=["sf_orders.revenue", "sf_orders.avg_amount"],
                    dimensions=["sf_orders.status"], order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["avg_amount"]) for x in r] == [
        ("paid", 250, 125.0), ("refunded", 50, 50.0)
    ]
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_snowflake_reference_relationships(spark):
    from sidemantic_spark.adapters import SnowflakeAdapter

    layer = SparkSemanticLayer(spark)
    SnowflakeAdapter().parse_file(layer, os.path.join(FIXROOT, "snowflake/revenue_timeseries.yaml"))
    dr = layer.graph.models["daily_revenue"]
    assert dr.primary_key == ["date", "product_id", "region_id"]
    assert any(r.name == "product" and r.foreign_key == "product_id" for r in dr.relationships)
    assert dr.metric("daily_revenue").agg == "sum"


def test_osi_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import OsiAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    OsiAdapter().parse(layer, yaml.safe_load("""
semantic_model:
  - name: analytics
    datasets:
      - name: o_orders
        source: adapter_orders
        primary_key: [order_id]
        fields:
          - name: order_id
            expression:
              dialects:
                - dialect: ANSI_SQL
                  expression: order_id
          - name: status
          - name: created_at
            dimension:
              is_time: true
    metrics:
      - name: revenue
        expression:
          dialects:
            - dialect: ANSI_SQL
              expression: SUM(o_orders.amount)
      - name: order_count
        expression:
          dialects:
            - dialect: ANSI_SQL
              expression: COUNT(o_orders.order_id)
"""))
    m = layer.graph.models["o_orders"]
    assert m.table == "adapter_orders"
    assert m.metric("revenue").agg == "sum"
    # created_at imports as the default time dimension (first is_time
    # field, ref adapters/osi.py:315-321) and would auto-include at day
    # grain; pin a year grain so the grouping stays status-shaped
    assert m.default_time_dimension == "created_at"
    r = layer.query(metrics=["o_orders.revenue", "o_orders.order_count"],
                    dimensions=["o_orders.status", "o_orders.created_at__year"],
                    order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["order_count"]) for x in r] == [
        ("paid", 250, 2), ("refunded", 50, 1)
    ]
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_osi_reference_relationships(spark):
    from sidemantic_spark.adapters import OsiAdapter

    layer = SparkSemanticLayer(spark)
    OsiAdapter().parse_file(layer, os.path.join(FIXROOT, "osi/ecommerce.yaml"))
    orders = layer.graph.models["orders"]
    assert any(r.name == "customers" for r in orders.relationships)
    assert orders.metric("total_revenue") is not None


def test_bsl_end_to_end(spark):
    import yaml

    from sidemantic_spark.adapters import BslAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    BslAdapter().parse(layer, yaml.safe_load("""
b_orders:
  table: adapter_orders
  dimensions:
    order_id:
      expr: _.order_id
      is_entity: true
    status: _.status
    created_at:
      expr: _.created_at
      is_time_dimension: true
      smallest_time_grain: "TIME_GRAIN_DAY"
  measures:
    count:
      expr: _.count()
    revenue:
      expr: _.amount.sum()
    avg_order_value:
      expr: _.amount.mean()
    revenue_per_order:
      expr: revenue / count
"""))
    m = layer.graph.models["b_orders"]
    assert m.primary_key == "order_id"
    assert m.dimension("created_at").type == "time"
    assert m.metric("revenue").agg == "sum"
    assert m.metric("avg_order_value").agg == "avg"
    assert m.metric("revenue_per_order").type == "derived"
    r = layer.query(metrics=["b_orders.revenue", "b_orders.count", "b_orders.revenue_per_order"],
                    dimensions=["b_orders.status"], order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["count"], float(x["revenue_per_order"])) for x in r] == [
        ("paid", 250, 2, 125.0), ("refunded", 50, 1, 50.0)
    ]
    con.close()


def test_bsl_all_window_total(spark):
    """BSL `_.all(_.measure)` imports as an all(measure) derived metric
    and compiles to a whole-result window total (ref bsl_expr.py:470,
    sql/generator.py:4358-4460)."""
    import yaml

    from sidemantic_spark.adapters import BslAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    BslAdapter().parse(layer, yaml.safe_load("""
b_orders:
  table: adapter_orders
  dimensions:
    order_id:
      expr: _.order_id
      is_entity: true
    status: _.status
  measures:
    revenue:
      expr: _.amount.sum()
    revenue_share:
      expr: _.revenue / _.all(_.revenue)
"""))
    m = layer.graph.models["b_orders"]
    share = m.metric("revenue_share")
    assert share.type == "derived"
    assert "all(revenue)" in share.expr.replace(" ", "").replace("all(", "all(")
    sql = layer.compile(
        metrics=["b_orders.revenue_share"], dimensions=["b_orders.status"]
    )
    assert "OVER ()" in sql
    r = layer.query(
        metrics=["b_orders.revenue_share"],
        dimensions=["b_orders.status"],
        order_by=["status"],
    ).collect()
    assert [(x["status"], round(float(x["revenue_share"]), 6)) for x in r] == [
        ("paid", round(250 / 300, 6)), ("refunded", round(50 / 300, 6))
    ]
    con.close()


def test_cube_measure_time_shift(spark):
    """Measure-level time_shift with a bare {measure} ref imports as a
    time_comparison metric (ref adapters/cube.py:971-996); standard
    intervals map to yoy/mom/..., custom ones carry time_offset."""
    import yaml

    from sidemantic_spark.adapters import CubeAdapter

    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, yaml.safe_load("""
cubes:
  - name: ts_cube
    sql_table: t
    measures:
      - name: revenue
        type: sum
        sql: amount
      - name: revenue_prior_year
        sql: "{revenue}"
        time_shift:
          - interval: 1 year
            type: prior
      - name: revenue_prior_2w
        sql: "{revenue}"
        time_shift:
          - interval: 2 week
            type: prior
"""))
    m = layer.graph.models["ts_cube"]
    yoy = m.metric("revenue_prior_year")
    assert yoy.type == "time_comparison"
    assert yoy.base_metric == "ts_cube.revenue"
    assert yoy.comparison_type == "yoy" and yoy.time_offset is None
    custom = m.metric("revenue_prior_2w")
    assert custom.type == "time_comparison"
    assert custom.time_offset == "2 week"


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_cube_calendar_cube(spark):
    """Calendar cubes (ref fixtures/cube/custom_calendar.yml, ref
    adapters/cube.py:726-815): custom granularity names survive as
    supported_granularities, their sql/interval/origin definitions and
    dimension-level time_shift are preserved in meta, and explicit
    hierarchies become parent chains."""
    import yaml

    from sidemantic_spark.adapters import CubeAdapter

    layer = SparkSemanticLayer(spark)
    with open(
        "/root/reference/tests/fixtures/cube/custom_calendar.yml"
    ) as fh:
        CubeAdapter().parse(layer, yaml.safe_load(fh))
    m = layer.graph.models["custom_calendar"]
    assert m.primary_key == "date_val"
    rd = m.dimension("retail_date")
    assert rd.type == "time"
    assert rd.supported_granularities == [
        "year", "quarter", "month", "week", "fortnight"
    ]
    assert rd.meta and "custom_granularities" in rd.meta
    assert len(rd.meta["time_shift"]) == 4
    # hierarchy levels -> parent chain
    assert m.dimension("fiscal_quarter_year").parent == "fiscal_year"
    assert m.dimension("fiscal_month_number").parent == "fiscal_quarter_year"
    assert m.dimension("retail_month_long_name").parent == "retail_year"


def test_graphene_end_to_end(spark):
    from sidemantic_spark.adapters import GrapheneAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    GrapheneAdapter().parse_text(layer, """
table g_orders from adapter_orders (
  order_id INT64
  status STRING
  created_at TIMESTAMP #timeGrain=day
  amount FLOAT64
  cost FLOAT64

  is_paid: status = 'paid'
  revenue: sum(amount)
  cogs: sum(cost)
  profit: revenue - cogs
)
""")
    m = layer.graph.models["g_orders"]
    assert m.primary_key == "order_id"
    assert m.dimension("is_paid").type == "boolean"
    assert m.dimension("created_at").granularity == "day"
    assert m.metric("profit").type == "derived"
    r = layer.query(metrics=["g_orders.revenue", "g_orders.profit"],
                    dimensions=["g_orders.status"], order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["profit"]) for x in r] == [
        ("paid", 250, 220), ("refunded", 50, 45)
    ]
    con.close()


def test_yardstick_end_to_end(spark):
    from sidemantic_spark.adapters import YardstickAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    YardstickAdapter().parse_text(layer, """
CREATE VIEW y_orders AS
SELECT
    status,
    SUM(amount) AS MEASURE revenue,
    COUNT(*) AS MEASURE order_count,
    revenue / order_count AS MEASURE aov
FROM adapter_orders;
""")
    m = layer.graph.models["y_orders"]
    assert m.table == "adapter_orders"
    assert m.primary_key == "status"
    assert m.metric("revenue").agg == "sum" and m.metric("revenue").sql == "amount"
    assert m.metric("aov").type == "derived"
    r = layer.query(metrics=["y_orders.revenue", "y_orders.order_count", "y_orders.aov"],
                    dimensions=["y_orders.status"], order_by=["status"]).collect()
    assert [(x["status"], x["revenue"], x["order_count"], float(x["aov"])) for x in r] == [
        ("paid", 250, 2, 125.0), ("refunded", 50, 1, 50.0)
    ]
    con.close()


def test_yardstick_where_trailing_clauses():
    """_scan_view must trim ALL trailing clauses (ORDER BY / HAVING /
    LIMIT) from the WHERE capture, quote-aware — a lazy GROUP-BY-only
    regex stored 'x ORDER BY y' as the row filter, and a 'GROUP BY'
    substring inside a string literal truncated it (round-9 advisor)."""
    from sidemantic_spark.adapters.yardstick import _VIEW_HEAD_RE, _scan_view

    def scan(text):
        m = _VIEW_HEAD_RE.search(text)
        _sel, _tgt, where, _cte, _end = _scan_view(text, m.end())
        return where

    assert scan("CREATE VIEW v AS SELECT x, SUM(y) AS MEASURE t FROM f "
                "WHERE x > 3 ORDER BY x;") == "x > 3"
    assert scan("CREATE VIEW v AS SELECT x, SUM(y) AS MEASURE t FROM f "
                "WHERE x > 3 GROUP BY x HAVING SUM(y) > 0 LIMIT 5;") == "x > 3"
    assert scan("CREATE VIEW v AS SELECT x, SUM(y) AS MEASURE t FROM f "
                "WHERE x = 'GROUP BY literal' GROUP BY x;") == "x = 'GROUP BY literal'"
    # no trailing clause at all
    assert scan("CREATE VIEW v AS SELECT x, SUM(y) AS MEASURE t FROM f "
                "WHERE x IN (SELECT g FROM h GROUP BY g);") == \
        "x IN (SELECT g FROM h GROUP BY g)"


def test_cube_export_roundtrip(spark):
    """Graph -> Cube YAML -> graph keeps models/metrics/joins/segments
    (reference export contract adapters/base.py:9)."""
    import yaml

    from sidemantic_spark.adapters import CubeAdapter
    from sidemantic_spark.adapters.cube import export_cube
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    doc = export_cube(layer.graph)
    layer2 = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer2, yaml.safe_load(yaml.safe_dump(doc)))

    assert set(layer2.graph.models) == set(layer.graph.models)
    o1, o2 = layer.graph.models["orders"], layer2.graph.models["orders"]
    assert o2.metric("revenue").agg == "sum"
    assert o2.metric("aov_ratio") is not None  # ratio exported as formula
    assert {r.name for r in o2.relationships} >= {r.name for r in o1.relationships
                                                  if r.type != "cross" and not r.through}
    assert {d.name for d in o2.dimensions} >= {d.name for d in o1.dimensions}


def test_cube_export_is_hash_seed_independent():
    """A composite key's extra columns come out in key order, not set
    order: the tpch graph exported under two hash seeds (which order
    lineitem's two key columns differently as a set) is byte-identical."""
    import subprocess
    import sys

    code = (
        "from sidemantic_spark.adapters import export_graph\n"
        "from sidemantic_spark.models.tpch import build_layer\n"
        "print(export_graph(build_layer(None).graph, 'cube'), end='')\n"
    )
    root = os.path.join(os.path.dirname(__file__), "..")
    outs = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, check=True,
            capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        for seed in ("0", "1")
    ]
    assert "l_linenumber" in outs[0] and outs[0] == outs[1]


def test_metricflow_export_roundtrip(spark):
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter
    from sidemantic_spark.adapters.metricflow import export_metricflow
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    doc = export_metricflow(layer.graph)
    assert any(sm["name"] == "orders" for sm in doc["semantic_models"])
    layer2 = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer2, yaml.safe_load(yaml.safe_dump(doc)))
    o2 = layer2.graph.models["orders"]
    assert o2.metric("revenue").agg == "sum"
    assert any(r.name == "customer" and r.type == "many_to_one"
               for r in o2.relationships)


def test_lookml_refinements_liquid_case_percentile(spark):
    """The LookML long tail end-to-end: `view: +name` refinements
    (deep merge by field name), `case:` dimensions, Liquid
    neutralization ({% condition %}/{% parameter %} with defaults),
    duration dims, dimension_group timeframe refs, and percentile
    measures compiled through Spark."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: +rf_orders {
  dimension: status { label: "Status (refined)" }
  measure: p90_amount {
    type: percentile
    percentile: 90
    sql: ${TABLE}.amount ;;
  }
}
view: rf_orders {
  sql_table_name: adapter_orders ;;
  parameter: min_amount {
    type: number
    default_value: "60"
  }
  dimension: order_id {
    type: number
    primary_key: yes
    sql: ${TABLE}.order_id ;;
  }
  dimension: status {
    type: string
    sql: ${TABLE}.status ;;
  }
  dimension: size_bucket {
    case: {
      when: {
        sql: ${TABLE}.amount >= 100 ;;
        label: "big"
      }
      when: {
        sql: ${TABLE}.amount >= 50 ;;
        label: "mid"
      }
      else: "small"
    }
  }
  dimension: is_over_min {
    type: yesno
    sql: ${TABLE}.amount >= {% parameter min_amount %} ;;
  }
  dimension: clean_status {
    type: string
    sql: {% if use_codes %}${TABLE}.status_code{% else %}${TABLE}.status{% endif %} ;;
  }
  dimension_group: created {
    type: time
    timeframes: [date, month, year]
    sql: ${TABLE}.created_at ;;
  }
  dimension: created_month_num {
    type: number
    sql: MONTH(${created_date}) ;;
  }
  measure: order_count { type: count }
  measure: total_amount {
    type: sum
    sql: ${TABLE}.amount ;;
  }
}
""")
    m = layer.graph.models["rf_orders"]
    assert "+rf_orders" not in layer.graph.models
    # refinement merged: label added, base sql kept
    st = m.dimension("status")
    assert st.label == "Status (refined)" and (st.sql in (None, "status"))
    # case dimension -> CASE WHEN sql
    sb = m.dimension("size_bucket")
    assert sb.sql.startswith("CASE WHEN amount >= 100 THEN 'big'")
    assert "ELSE 'small'" in sb.sql
    # liquid: parameter default interpolated, if -> first branch
    assert m.dimension("is_over_min").sql == "amount >= 60"
    assert m.dimension("clean_status").sql == "status_code"
    # timeframe field ref resolves to the group's sql
    assert m.dimension("created_month_num").sql == "MONTH(CAST(created_at AS DATE))"
    # percentile measure from the refinement, end-to-end vs DuckDB
    p90 = m.metric("p90_amount")
    assert p90.sql_is_complete and "PERCENTILE_CONT(0.9)" in p90.sql
    row = layer.query(metrics=["rf_orders.p90_amount"]).collect()[0]
    want = con.execute(
        "SELECT PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY amount) FROM adapter_orders"
    ).fetchone()[0]
    assert abs(float(row[0]) - float(want)) < 1e-9
    # case dimension groups correctly through Spark
    got = {
        r[0]: r[1]
        for r in layer.query(
            metrics=["rf_orders.order_count"], dimensions=["rf_orders.size_bucket"]
        ).collect()
    }
    assert got == {"big": 2, "mid": 1}


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_lookml_project_directory_parse(spark):
    """Directory parse loads every .lkml file as one project: cross-file
    explore joins (orders.explore.lkml joins views from orders.lkml)
    resolve, and the whole 47-file reference corpus lands in one graph."""
    from sidemantic_spark.adapters import LookMLAdapter

    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_file(layer, os.path.join(FIXROOT, "lookml"))
    ms = layer.graph.models
    assert len(ms) > 60
    # cross-file explore: orders.explore.lkml references views defined
    # in orders.lkml — the join resolves project-wide
    orders = ms["orders"]
    assert any(r.name == "customers" for r in orders.relationships)


def test_lookml_export_roundtrip(spark):
    """Graph -> LookML text -> graph keeps views/dimensions/measures/
    filters/joins for the shared subset (reference adapters are
    bidirectional per adapters/base.py:9)."""
    from sidemantic_spark.adapters import LookMLAdapter
    from sidemantic_spark.adapters.lookml import export_lookml
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_lookml(layer.graph)
    assert "view: orders {" in text
    assert "sql_table_name: orders ;;" in text

    layer2 = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer2, text)

    assert set(layer2.graph.models) == set(layer.graph.models)
    o1 = layer.graph.models["orders"]
    o2 = layer2.graph.models["orders"]
    assert {d.name for d in o2.dimensions} == {d.name for d in o1.dimensions}
    r2 = o2.metric("revenue")
    assert r2.agg == "sum" and r2.sql == o1.metric("revenue").sql
    # time dims survive as dimension_groups
    assert o2.dimension("order_date").type == "time"
    # segments -> filter blocks -> segments
    assert {s.name for s in o2.segments} == {s.name for s in o1.segments}
    # metric-level equality filters survive the filters: [] syntax
    open_rev = o2.metric("open_revenue")
    assert open_rev is not None and open_rev.filters
    # explore joins -> relationships (fk/pk orientation preserved)
    rels2 = {r.name: r for r in o2.relationships}
    assert rels2["customer"].type == "many_to_one"
    assert rels2["customer"].foreign_key == "o_custkey"
    # a compiled query on the re-imported graph still runs
    from tests.conftest import SF_DIR
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, SF_DIR)
    df = layer2.query(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert df.count() == 3


# ----------------------------------------------------------------------
# export roundtrips for the remaining formats (reference adapters all
# implement export per adapters/base.py:9; ours mirror that contract)
# ----------------------------------------------------------------------

def _reimport_yaml_docs(spark, text, adapter, **parse_kw):
    import yaml

    layer = SparkSemanticLayer(spark)
    for doc in yaml.safe_load_all(text):
        if doc is not None:
            adapter.parse(layer, doc, **parse_kw)
    return layer


def _assert_core_roundtrip(layer2, *, revenue_model="orders",
                           expect_customer_edge=True):
    o2 = layer2.graph.models[revenue_model]
    rev = o2.metric("revenue")
    assert rev is not None and rev.agg == "sum", rev
    assert "o_totalprice" in (rev.sql or "")
    assert o2.dimension("status") is not None
    if expect_customer_edge:
        rels = {r.name: r for r in o2.relationships}
        assert rels["customer"].type == "many_to_one"
        assert "o_custkey" in rels["customer"].fk_list()


def test_rill_export_roundtrip(spark):
    from sidemantic_spark.adapters import RillAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "rill")
    layer2 = _reimport_yaml_docs(spark, text, RillAdapter())
    assert set(layer2.graph.models) == set(layer.graph.models)
    # rill has no joins; metrics + time dims survive
    o2 = layer2.graph.models["orders"]
    assert o2.metric("revenue").agg == "sum"
    assert o2.dimension("order_date").type == "time"
    assert o2.default_time_dimension == "order_date"


def test_superset_export_roundtrip(spark):
    from sidemantic_spark.adapters import SupersetAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "superset")
    layer2 = _reimport_yaml_docs(spark, text, SupersetAdapter())
    assert set(layer2.graph.models) == set(layer.graph.models)
    o2 = layer2.graph.models["orders"]
    assert o2.metric("revenue").agg == "sum"
    assert o2.dimension("order_date").type == "time"
    assert o2.dimension("status").sql == "o_orderstatus"


def test_hex_export_roundtrip(spark):
    from sidemantic_spark.adapters import HexAdapter, export_graph
    from sidemantic_spark.core.consumption import Explore
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    layer.graph.explores["orders_explore"] = Explore(
        name="orders_explore", model="orders",
        allowed_dimensions=["orders.status"],
        allowed_metrics=["orders.revenue"],
    )
    text = export_graph(layer.graph, "hex")
    layer2 = _reimport_yaml_docs(spark, text, HexAdapter())
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    # composite pk survives via unique marker columns
    assert set(layer2.graph.models["lineitem"].pk_list()) == {
        "l_orderkey", "l_linenumber"}
    # derived-sql model keeps its SQL binding
    assert layer2.graph.models["lineitem_x"].sql
    # explores roundtrip as hex views
    exp = layer2.graph.explores["orders_explore"]
    assert exp.model == "orders"
    assert exp.allowed_metrics == ["orders.revenue"]


def test_omni_export_roundtrip(spark):
    from sidemantic_spark.adapters import OmniAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "omni")
    layer2 = _reimport_yaml_docs(spark, text, OmniAdapter())
    assert set(layer2.graph.models) >= set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    # one_to_many orders->lineitem came back as m2o lineitem->orders
    li = layer2.graph.models["lineitem"]
    assert any(r.name == "orders" and r.type == "many_to_one"
               and "l_orderkey" in r.fk_list() for r in li.relationships)
    # metric filters of the equality shape survive as omni filter props
    open_rev = layer2.graph.models["orders"].metric("open_revenue")
    assert open_rev is not None and open_rev.filters


def test_snowflake_export_roundtrip(spark):
    import yaml

    from sidemantic_spark.adapters import SnowflakeAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "snowflake")
    layer2 = SparkSemanticLayer(spark)
    SnowflakeAdapter().parse(layer2, yaml.safe_load(text))
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    o2 = layer2.graph.models["orders"]
    assert o2.dimension("order_date").type == "time"
    # segments roundtrip through Cortex filters
    assert {s.name for s in o2.segments} == {"urgent"}
    # composite keys survive (multi-column relationship_columns)
    li2 = layer2.graph.models["lineitem"]
    assert set(li2.pk_list()) == {"l_orderkey", "l_linenumber"}


def test_bsl_export_roundtrip(spark):
    import yaml

    from sidemantic_spark.adapters import BslAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "bsl")
    layer2 = SparkSemanticLayer(spark)
    BslAdapter().parse(layer2, yaml.safe_load(text))
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    o2 = layer2.graph.models["orders"]
    # _.col.method() deferred shapes re-derive the agg
    assert o2.metric("max_order_value").agg == "max"
    assert o2.metric("max_order_value").sql == "o_totalprice"
    assert o2.metric("order_count").agg == "count"
    # one_to_many keeps child-side fk semantics in BSL joins
    assert any(r.name == "lineitem" and r.type == "one_to_many"
               for r in o2.relationships)


def test_osi_export_roundtrip(spark):
    import yaml

    from sidemantic_spark.adapters import OsiAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "osi")
    layer2 = SparkSemanticLayer(spark)
    OsiAdapter().parse(layer2, yaml.safe_load(text))
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    # metric ownership resolved via dataset-qualified refs: a customer
    # metric must land on customer, not the first dataset
    cust = layer2.graph.models["customer"]
    assert cust.metric("total_acctbal") is not None
    assert cust.metric("total_acctbal").agg == "sum"


def test_gooddata_export_roundtrip(spark):
    import json

    from sidemantic_spark.adapters import GoodDataAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "gooddata")
    layer2 = SparkSemanticLayer(spark)
    GoodDataAdapter().parse(layer2, json.loads(text))
    assert set(layer2.graph.models) == set(layer.graph.models)
    o2 = layer2.graph.models["orders"]
    # sum metrics ride as LDM facts
    assert o2.metric("revenue") is not None and o2.metric("revenue").agg == "sum"
    # non-sum aggs ride as MAQL analytics metrics and re-attach
    assert o2.metric("max_order_value") is not None
    assert o2.metric("max_order_value").agg == "max"
    # references -> m2o edges
    assert any(r.name == "customer" for r in o2.relationships)


def test_atscale_export_roundtrip(spark):
    import yaml

    from sidemantic_spark.adapters import AtScaleAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "atscale")
    layer2 = SparkSemanticLayer(spark)
    AtScaleAdapter().parse_docs(layer2, list(yaml.safe_load_all(text)))
    assert set(layer2.graph.models) >= set(layer.graph.models)
    o2 = layer2.graph.models["orders"]
    assert o2.metric("revenue") is not None and o2.metric("revenue").agg == "sum"
    assert o2.metric("customer_count").agg == "count_distinct"
    assert any(r.name == "customer" and "o_custkey" in r.fk_list()
               for r in o2.relationships)
    # preagg specs roundtrip through model aggregates
    li = layer.graph.models["orders"]


def test_thoughtspot_export_roundtrip(spark):
    from sidemantic_spark.adapters import ThoughtSpotAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "thoughtspot")
    layer2 = _reimport_yaml_docs(spark, text, ThoughtSpotAdapter())
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    o2 = layer2.graph.models["orders"]
    assert o2.metric("customer_count").agg == "count_distinct"
    # composite join columns survive the [a::x] = [b::y] AND ... shape
    li2 = layer2.graph.models["lineitem"]
    assert any(r.name == "lineitem_x" and len(r.fk_list()) == 2
               for r in li2.relationships)


def test_malloy_export_roundtrip(spark):
    from sidemantic_spark.adapters import MalloyAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "malloy")
    layer2 = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer2, text)
    assert set(layer2.graph.models) == set(layer.graph.models)
    o2 = layer2.graph.models["orders"]
    rev = o2.metric("revenue")
    assert rev.agg == "sum" and "o_totalprice" in rev.sql
    # time dims come back typed via the ::timestamp cast
    assert o2.dimension("order_date").type == "time"
    # metric filters survive the { where: ... } suffix
    assert o2.metric("open_revenue").filters
    assert any(r.name == "customer" and r.type == "many_to_one"
               for r in o2.relationships)
    assert any(r.name == "lineitem" and r.type == "one_to_many"
               and "l_orderkey" in r.fk_list() for r in o2.relationships)
    assert any(r.name == "part" and r.type == "cross"
               for r in layer2.graph.models["supplier"].relationships)


def test_tmdl_export_roundtrip(spark, tmp_path):
    from sidemantic_spark.adapters import TmdlAdapter, export_graph
    from sidemantic_spark.core.model import Metric
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    # DAX COUNT over a column skips blanks: it is not COUNTROWS
    layer.graph.models["orders"].add_metric(
        Metric(name="commented_orders", agg="count", sql="o_comment"))
    text = export_graph(layer.graph, "tmdl")
    p = tmp_path / "model.tmdl"
    p.write_text(text)
    layer2 = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer2, str(p))
    assert set(layer2.graph.models) == set(layer.graph.models)
    o2 = layer2.graph.models["orders"]
    assert o2.metric("order_count").agg == "count"
    assert o2.metric("order_count").sql is None
    assert o2.metric("commented_orders").agg == "count"
    assert o2.metric("commented_orders").sql == "o_comment"
    assert o2.metric("max_order_value").agg == "max"
    assert o2.metric("max_order_value").sql == "o_totalprice"
    assert o2.dimension("status").sql == "o_orderstatus"
    assert any(r.name == "customer" and r.foreign_key == "o_custkey"
               for r in o2.relationships)


def test_holistics_export_roundtrip(spark):
    from sidemantic_spark.adapters import HolisticsAdapter, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    text = export_graph(layer.graph, "holistics")
    layer2 = SparkSemanticLayer(spark)
    HolisticsAdapter().parse_text(layer2, text)
    assert set(layer2.graph.models) == set(layer.graph.models)
    _assert_core_roundtrip(layer2)
    o2 = layer2.graph.models["orders"]
    assert o2.dimension("order_date").type == "time"
    assert o2.metric("customer_count").agg == "count_distinct"


def test_export_graph_all_formats_nonempty(spark):
    """Every advertised exporter emits non-trivial output for the tpch
    graph (the `convert` CLI path)."""
    from sidemantic_spark.adapters import EXPORTERS, export_graph
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    for fmt in EXPORTERS:
        text = export_graph(layer.graph, fmt)
        assert isinstance(text, str) and "orders" in text, fmt


def test_fidelity_report_all_formats(spark):
    """Roundtrip fidelity diffing (reference fidelity.py): full-fidelity
    formats report no losses for the representable core; formats without
    window metrics or relationships report them as dropped rather than
    silently losing them."""
    from sidemantic_spark.adapters import EXPORTERS
    from sidemantic_spark.adapters.fidelity import roundtrip_fidelity
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    # native YAML must be lossless
    rep = roundtrip_fidelity(layer.graph, "native", spark)
    assert not rep.has_losses, rep.summary_lines()

    # rill has no join surface: relationship drops must be reported
    rep = roundtrip_fidelity(layer.graph, "rill", spark)
    assert any(n.construct == "relationship" for n in rep.notes)
    # window-metric types don't exist in rill: reported dropped
    assert any(n.name == "orders.revenue_mom" for n in rep.notes)
    d = rep.to_dict()
    assert d["format"] == "rill" and d["counts"]["dropped"] >= 2

    # cube keeps equi-joins and segments; its losses are the window
    # metrics plus the junction/cross edges its export skips — the
    # report must name exactly those, not the plain m2o edges
    rep = roundtrip_fidelity(layer.graph, "cube", spark)
    rel_drops = {n.name for n in rep.notes if n.construct == "relationship"}
    assert "orders -> customer" not in rel_drops
    assert "customer -> nation" not in rel_drops
    assert rel_drops <= {"orders -> part", "supplier -> part",
                         "lineitem -> lineitem_x"}
    assert not any(n.construct == "segment" for n in rep.notes)
    assert any(n.construct == "metric" for n in rep.notes)

    # every exporter's report builds without error
    for fmt in sorted(set(EXPORTERS) - {"native", "rill", "cube"}):
        rep = roundtrip_fidelity(layer.graph, fmt, spark)
        assert rep.format == fmt
        # no format may silently drop a whole model from the tpch graph
        assert not any(n.construct == "model" for n in rep.notes), (
            fmt, rep.summary_lines()[:5])


# ----------------------------------------------------------------------
# round-4 review regressions (adapter-deepening batch)
# ----------------------------------------------------------------------


def test_malloy_bare_multistage_pipeline_refused(spark):
    """A bare multi-stage pipeline (`parent -> {s1} -> {s2}`) must be
    refused like the from() spelling — truncating to stage 1 would be a
    silently-wrong model."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: base is duckdb.table('adapter_orders') extend {
  primary_key: order_id
}
source: staged is base -> { group_by: status; aggregate: n is count() } -> { select: status; limit: 3 }
source: single is base -> { group_by: status; aggregate: n is count() }
""")
    assert "staged" not in layer.graph.models  # multi-stage refused
    assert "single" in layer.graph.models      # single stage still works
    con.close()


def _cube_view_layer(spark, view_yaml: str):
    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: cvx_orders
    sql_table: adapter_orders
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: order_count
        type: count
      - name: secret_revenue
        sql: amount
        type: sum
  - name: cvx_customers
    sql_table: adapter_customers
    dimensions:
      - name: customer_id
        sql: customer_id
        type: number
        primary_key: true
      - name: city
        sql: city
        type: string
""" + view_yaml))
    return layer


def test_cube_view_star_cube_in_restricted_view(spark):
    """`includes: "*"` on one cube of a restricted view contributes ALL
    of that cube's fields to the allowlist, not nothing."""
    con = _seed_orders(spark)
    layer = _cube_view_layer(spark, """
views:
  - name: mixed_view
    cubes:
      - join_path: cvx_orders
        includes: "*"
      - join_path: cvx_orders.cvx_customers
        includes: [city]
""")
    exp = layer.graph.explores["mixed_view"]
    assert "cvx_orders.status" in exp.allowed_dimensions
    assert "cvx_customers.city" in exp.allowed_dimensions
    assert "cvx_orders.order_count" in exp.allowed_metrics
    con.close()


def test_cube_view_includes_restricts_metrics(spark):
    """Measures excluded from a view's includes list must not be
    queryable through the explore (allowed_metrics enforced), and
    measure names must not pollute the dimension allowlist."""
    import pytest as _pytest

    con = _seed_orders(spark)
    layer = _cube_view_layer(spark, """
views:
  - name: curated_view
    cubes:
      - join_path: cvx_orders
        includes: [status, order_count]
""")
    exp = layer.graph.explores["curated_view"]
    assert exp.allowed_metrics == ["cvx_orders.order_count"]
    assert exp.allowed_dimensions == ["cvx_orders.status"]
    with _pytest.raises(Exception):
        layer.query(
            metrics=["cvx_orders.secret_revenue"], explore="curated_view"
        )
    # the included surface still works
    rows = layer.query(
        metrics=["cvx_orders.order_count"], explore="curated_view"
    ).collect()
    assert rows[0][0] == 3
    con.close()


def test_cube_view_policy_multivalue_and_quote_escape(spark):
    """A multi-value `equals` policy is IN semantics; string values are
    quote-escaped."""
    con = _seed_orders(spark)
    layer = _cube_view_layer(spark, """
views:
  - name: pol_view
    cubes:
      - join_path: cvx_orders
        includes: "*"
    access_policy:
      - role: "*"
        row_level:
          filters:
            - member: "${CUBE}.status"
              operator: equals
              values: [paid, refunded]
            - member: "${CUBE}.status"
              operator: notEquals
              values: ["o'brien", "x"]
""")
    exp = layer.graph.explores["pol_view"]
    assert "cvx_orders.status IN ('paid', 'refunded')" in exp.filters
    assert "cvx_orders.status NOT IN ('o''brien', 'x')" in exp.filters
    rows = layer.query(
        metrics=["cvx_orders.order_count"], explore="pol_view"
    ).collect()
    assert rows[0][0] == 3  # paid+refunded all pass both policies
    con.close()


def test_thoughtspot_reverse_join_direction_flipped(spark):
    """A worksheet join pointing BACK toward an already-joined table
    (source not yet in the tree) must attach the source side with the
    outer direction flipped, not be silently discarded."""
    import yaml as _yaml

    from sidemantic_spark.adapters import ThoughtSpotAdapter

    spark.sql("""
        CREATE OR REPLACE TEMP VIEW tsr_custs AS
        SELECT * FROM VALUES (1, 'acme'), (2, 'globex') AS t(cust_id, cust_name)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMP VIEW tsr_orders AS
        SELECT * FROM VALUES (1, 1, 100.0), (2, 1, 50.0), (3, 2, 70.0)
            AS t(order_id, cust_id, amount)
    """)
    layer = SparkSemanticLayer(spark)
    ThoughtSpotAdapter().parse(layer, _yaml.safe_load("""
worksheet:
  name: tsr_ws
  tables:
    - name: tsr_orders
    - name: tsr_custs
  joins:
    - name: j1
      source: tsr_custs
      destination: tsr_orders
      "on": "[tsr_custs::cust_id] = [tsr_orders::cust_id]"
      type: LEFT_OUTER
  worksheet_columns:
    - name: cust_name
      column_id: tsr_custs::cust_name
      properties: {column_type: ATTRIBUTE}
    - name: amount
      column_id: tsr_orders::amount
      properties: {column_type: MEASURE, aggregation: SUM}
"""))
    m = layer.graph.models["tsr_ws"]
    # tsr_custs must appear in the FROM tree (flipped to RIGHT JOIN)
    assert "tsr_custs" in m.sql and "RIGHT JOIN" in m.sql
    rows = {
        r["cust_name"]: float(r["amount"])
        for r in layer.query(
            metrics=["tsr_ws.amount"], dimensions=["tsr_ws.cust_name"]
        ).collect()
    }
    assert rows == {"acme": 150.0, "globex": 70.0}


def test_atscale_sum_distinct_value_semantics(spark):
    """`sum distinct` dedups by VALUE (SUM(DISTINCT col)), which differs
    from pk-row fan-out dedup — imported as a complete-SQL aggregate."""
    spark.sql("""
        CREATE OR REPLACE TEMP VIEW asd_fact AS
        SELECT * FROM VALUES (1, 10), (2, 10), (3, 20) AS t(id, val)
    """)
    from sidemantic_spark.adapters import AtScaleAdapter

    layer = SparkSemanticLayer(spark)
    a = AtScaleAdapter()
    a.parse(layer, {
        "object_type": "dataset", "unique_name": "asd_fact",
        "table": "asd_fact",
        "columns": [{"name": "id", "data_type": "int"},
                    {"name": "val", "data_type": "int"}],
    })
    a.parse(layer, {
        "object_type": "metric", "unique_name": "val_sum_distinct",
        "dataset": "asd_fact", "column": "val",
        "calculation_method": "sum distinct",
    })
    m = layer.graph.models["asd_fact"].metric("val_sum_distinct")
    assert m is not None and m.sql_is_complete
    rows = layer.query(metrics=["asd_fact.val_sum_distinct"]).collect()
    assert rows[0][0] == 30  # NOT 40: the duplicate value counts once


def test_atscale_calc_with_function_binds(spark):
    """A dataset-less metric_calc whose expression uses function calls
    or CASE must still bind to the model defining its metric refs."""
    from sidemantic_spark.adapters import AtScaleAdapter

    layer = SparkSemanticLayer(spark)
    a = AtScaleAdapter()
    a.parse(layer, {
        "object_type": "dataset", "unique_name": "calc_fact",
        "table": "calc_fact",
        "columns": [{"name": "id", "data_type": "int"},
                    {"name": "amount", "data_type": "double"}],
    })
    a.parse(layer, {
        "object_type": "metric", "unique_name": "total",
        "dataset": "calc_fact", "column": "amount",
        "calculation_method": "sum",
    })
    a.parse(layer, {
        "object_type": "metric", "unique_name": "order_count",
        "dataset": "calc_fact", "calculation_method": "count",
    })
    a.parse(layer, {
        "object_type": "metric_calc", "unique_name": "safe_aov",
        "expression": "COALESCE(total / NULLIF(order_count, 0), 0)",
    })
    a.parse(layer, {
        "object_type": "metric_calc", "unique_name": "case_share",
        "expression": "CASE WHEN order_count > 0 THEN total ELSE NULL END",
    })
    m = layer.graph.models["calc_fact"]
    assert m.metric("safe_aov") is not None
    assert m.metric("case_share") is not None
    assert not a._pending_calcs


def test_holistics_aql_nested_paren_falls_back_opaque(spark):
    """An AQL metric the regex cannot parse (nested parens inside
    where()) imports as an opaque hidden metric instead of vanishing."""
    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    ADAPTERS["holistics"]().parse_text(layer, """
Model hp_orders {
  type: 'table'
  table_name: 'adapter_orders'
  dimension status { type: 'text' }
  measure amount_sum { type: 'number' definition: @aql sum(hp_orders.amount) ;; }
}
Metric tricky_metric {
  definition: @aql hp_orders | where(contains(hp_orders.status, 'p')) | sum(hp_orders.amount) ;;
  label: 'Tricky'
}
""")
    m = layer.graph.models["hp_orders"].metric("tricky_metric")
    assert m is not None
    assert m.description and "unparsed AQL" in m.description
    con.close()


def test_tableau_object_model_joins_recovered(spark):
    """A 2020.2+ object-model TDS (feature-flag wrappers around a join
    relation tree) imports the join clauses, not just disconnected
    tables."""
    import tempfile

    from sidemantic_spark.adapters import TableauAdapter

    xml = """<?xml version='1.0' encoding='utf-8' ?>
<datasource formatted-name='om_sales' inline='true' version='20.2'>
  <connection class='federated'>
    <_.fcp.ObjectModelEncapsulateLegacy.false>
      <relation connection='x' name='om_orders' table='[public].[om_orders]' type='table' />
    </_.fcp.ObjectModelEncapsulateLegacy.false>
    <_.fcp.ObjectModelEncapsulateLegacy.true>
      <relation type='join' join='left'>
        <clause type='join'>
          <expression op='='>
            <expression op='[om_orders].[cust_id]' />
            <expression op='[om_custs].[cust_id]' />
          </expression>
        </clause>
        <relation connection='x' name='om_orders' table='[public].[om_orders]' type='table' />
        <relation connection='x' name='om_custs' table='[public].[om_custs]' type='table' />
      </relation>
    </_.fcp.ObjectModelEncapsulateLegacy.true>
  </connection>
  <column datatype='integer' name='[cust_id]' role='dimension' type='ordinal' />
  <column datatype='real' name='[amount]' role='measure' type='quantitative' />
</datasource>"""
    with tempfile.NamedTemporaryFile("w", suffix=".tds", delete=False) as fh:
        fh.write(xml)
        path = fh.name
    layer = SparkSemanticLayer(spark)
    TableauAdapter().parse_file(layer, path)
    os.unlink(path)
    models = layer.graph.models
    assert "om_orders" in models and "om_custs" in models
    # the join relation must yield a relationship between the two
    rels = models["om_orders"].relationships + models["om_custs"].relationships
    assert any(
        r.name in ("om_custs", "om_orders") for r in rels
    ), [ (m, [r.name for r in models[m].relationships]) for m in models ]


def test_omni_topic_parsed_before_views_still_scoped(spark):
    """Directory layouts sort `x.topic.yaml` before `x.view.yaml`; topic
    field scoping must resolve once the views land (deferred), not
    silently import unrestricted."""
    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    a = ADAPTERS["omni"]()
    # topic FIRST (sorted order), views after
    a.parse(layer, {"base_view": "ord_view", "joins": {"cust_view": {}}},
            filestem="ord_topic")
    a.parse(layer, {
        "name": "ord_view", "table_name": "t_orders",
        "dimensions": {"status": {"sql": "status"}},
        "measures": {"n": {"aggregate_type": "count"}},
    }, filestem="ord_view")
    a.parse(layer, {
        "name": "cust_view", "table_name": "t_custs",
        "dimensions": {"city": {"sql": "city"}},
        "measures": {},
    }, filestem="cust_view")
    exp = layer.graph.explores["ord_topic"]
    assert exp.allowed_dimensions is not None  # resolved after views
    assert "ord_view.status" in exp.allowed_dimensions
    assert "cust_view.city" in exp.allowed_dimensions
    assert "ord_view.n" in exp.allowed_metrics


def test_lookml_distinct_measures_semantics(spark):
    """sum/average_distinct: keyed -> symmetric aggregate (each KEY
    counted once), keyless -> value dedup; median_distinct keyed ->
    quantile over per-key values.  Distinguishable fixture: keyed sum
    over (a,10),(a,10),(b,10),(c,20) = 40, value-dedup sum = 30."""
    from sidemantic_spark.adapters import LookMLAdapter

    spark.sql("""
        CREATE OR REPLACE TEMP VIEW lkd_rows AS
        SELECT * FROM VALUES
            (1, 'a', 10.0), (2, 'a', 10.0), (3, 'b', 10.0), (4, 'c', 20.0)
            AS t(row_id, k, v)
    """)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lkd {
  sql_table_name: lkd_rows ;;
  dimension: row_id { primary_key: yes sql: ${TABLE}.row_id ;; }
  dimension: k { sql: ${TABLE}.k ;; }
  measure: keyed_sum {
    type: sum_distinct
    sql: ${TABLE}.v ;;
    sql_distinct_key: ${TABLE}.k ;;
  }
  measure: keyed_avg {
    type: average_distinct
    sql: ${TABLE}.v ;;
    sql_distinct_key: ${TABLE}.k ;;
  }
  measure: value_sum {
    type: sum_distinct
    sql: ${TABLE}.v ;;
  }
  measure: keyed_median {
    type: median_distinct
    sql: ${TABLE}.v ;;
    sql_distinct_key: ${TABLE}.k ;;
  }
}
""")
    r = layer.query(metrics=[
        "lkd.keyed_sum", "lkd.keyed_avg", "lkd.value_sum", "lkd.keyed_median",
    ]).collect()[0]
    assert float(r["keyed_sum"]) == 40.0      # a:10 + b:10 + c:20
    assert float(r["keyed_avg"]) == pytest.approx(40.0 / 3)
    assert float(r["value_sum"]) == 30.0      # values {10, 20}
    assert float(r["keyed_median"]) == 10.0   # per-key [10,10,20]


def test_lookml_post_sql_measures(spark):
    """running_total -> native cumulative metric; percent_of_total ->
    all() window-total derived; approximate count_distinct -> HLL."""
    from sidemantic_spark.adapters import LookMLAdapter

    spark.sql("""
        CREATE OR REPLACE TEMP VIEW lkp_rows AS
        SELECT * FROM VALUES
            (1, 'x', DATE '2026-01-01', 10.0),
            (2, 'x', DATE '2026-02-01', 20.0),
            (3, 'y', DATE '2026-03-01', 30.0)
            AS t(row_id, grp, d, v)
    """)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lkp {
  sql_table_name: lkp_rows ;;
  dimension: row_id { primary_key: yes sql: ${TABLE}.row_id ;; }
  dimension: grp { sql: ${TABLE}.grp ;; }
  dimension_group: d { type: time timeframes: [month] sql: ${TABLE}.d ;; }
  measure: revenue { type: sum sql: ${TABLE}.v ;; }
  measure: revenue_running {
    type: running_total
    sql: ${revenue} ;;
  }
  measure: revenue_share {
    type: percent_of_total
    sql: ${revenue} ;;
  }
  measure: approx_groups {
    type: count_distinct
    approximate: yes
    sql: ${TABLE}.grp ;;
  }
}
""")
    m = layer.graph.models["lkp"]
    assert m.metric("revenue_running").type == "cumulative"
    assert m.metric("revenue_running").base_metric == "revenue"
    assert m.metric("approx_groups").agg == "approx_count_distinct"
    shares = {
        r["grp"]: float(r["revenue_share"])
        for r in layer.query(
            metrics=["lkp.revenue_share"], dimensions=["lkp.grp"]
        ).collect()
    }
    assert shares == {"x": 0.5, "y": 0.5}
    run = [
        float(r["revenue_running"])
        for r in layer.query(
            metrics=["lkp.revenue_running"],
            dimensions=["lkp.d__month AS month"],
            order_by=["month"],
        ).collect()
    ]
    assert run == [10.0, 30.0, 60.0]


# ----------------------------------------------------------------------
# MetricFlow long tail: latest spec, percentile, filters, saved queries
# (reference adapters/metricflow.py:109-486, tests/fixtures/metricflow)
# ----------------------------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_metricflow_latest_spec_models(spark):
    """dbt Core 1.12 / Fusion spec: models: + nested semantic_model:,
    column-level entities/dimensions, folded inline metrics, promoted
    top-level metric keys (ref adapters/metricflow.py:109-164,394-486)."""
    from sidemantic_spark.adapters import MetricFlowAdapter

    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse_file(
        layer, os.path.join(FIXROOT, "metricflow/latest_spec_models.yml"))

    orders = layer.graph.models["orders"]
    customers = layer.graph.models["customers"]
    assert orders.primary_key == "order_id"
    assert customers.primary_key == "customer_id"
    # foreign entity `customer` resolves to the customers model
    rel = {r.name: r for r in orders.relationships}
    assert rel["customers"].foreign_key == "customer_id"
    # column-level dims: granularity at the column level, name override
    d = {dd.name: dd for dd in orders.dimensions}
    assert d["ordered_at"].type == "time" and d["ordered_at"].granularity == "day"
    assert "status" in d and d["status"].sql == "order_status"
    assert orders.default_time_dimension == "ordered_at"

    # folded inline measures attach to the model
    assert orders.metric("order_total").agg == "sum"
    assert orders.metric("order_total").sql == "amount"
    assert orders.metric("order_count").agg == "count"

    # promoted ratio / derived / cumulative keys
    g = layer.graph.metrics
    assert g["revenue_per_order"].type == "ratio"
    assert g["revenue_per_order"].numerator == "order_total"
    # non-offset aliases rewritten to real inputs
    assert g["net_order_total"].expr == "order_total - order_total / 2"
    # offset alias kept, inputs retained as metadata
    growth = g["order_total_growth"]
    assert "total_7_days_ago" in growth.expr
    assert any(i.get("offset_window") == "7 days"
               for i in growth.meta["input_metrics"])
    assert g["rolling_30d_revenue"].type == "cumulative"
    assert g["rolling_30d_revenue"].window == "30 days"
    assert g["rolling_30d_revenue"].base_metric == "order_total"
    assert g["revenue_mtd"].grain_to_date == "month"
    # conversion is retained as metadata, never a queryable metric
    assert "order_to_repeat_conversion" not in g
    conv = layer.graph.metadata["metricflow_conversion_metrics"]
    assert conv["order_to_repeat_conversion"]["entity"] == "customer"
    assert conv["order_to_repeat_conversion"]["calculation"] == "conversion_rate"


def test_metricflow_latest_spec_end_to_end(spark):
    """Folded inline metrics compile and execute through the full path."""
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE mf_latest_orders AS SELECT * FROM (VALUES
            (1, 101, 'paid', 100.0, TIMESTAMP '2026-01-05 10:00:00'),
            (2, 101, 'paid', 50.0, TIMESTAMP '2026-01-20 10:00:00'),
            (3, 102, 'refunded', 30.0, TIMESTAMP '2026-02-02 10:00:00')
        ) t(order_id, customer_id, order_status, amount, ordered_at)
    """)
    pdf = con.table("mf_latest_orders").arrow().to_pandas()
    spark.createDataFrame(pdf).createOrReplaceTempView("mf_latest_orders")

    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer, yaml.safe_load("""
models:
  - name: mf_latest_orders
    semantic_model:
      enabled: true
      name: mfo
    columns:
      - name: order_id
        entity: primary
      - name: ordered_at
        granularity: day
        dimension:
          type: time
      - name: order_status
        dimension:
          type: categorical
          name: status
    metrics:
      - name: order_total
        type: simple
        agg: sum
        expr: amount
      - name: order_n
        type: simple
        agg: count
        expr: '*'
"""))
    mfo = layer.graph.models["mfo"]
    assert mfo.table == "mf_latest_orders"
    assert mfo.metric("order_n").sql is None  # constant count == COUNT(*)
    rows = layer.query(metrics=["mfo.order_total", "mfo.order_n"],
                       dimensions=["mfo.status"]).collect()
    got = {(r["status"], float(r["order_total"]), r["order_n"]) for r in rows}
    assert got == {("paid", 150.0, 2), ("refunded", 30.0, 1)}
    con.close()


def test_metricflow_percentile_filter_segments(spark):
    """percentile -> exact ordered-set complete SQL (the reference drops
    these); {{ Dimension() }} filter templating; meta.segments; hex
    table override; entity window_groupings resolution."""
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter

    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer, yaml.safe_load("""
semantic_models:
  - name: orders
    model: ref('raw_orders')
    config:
      meta:
        hex:
          table: analytics.orders_hex
    meta:
      segments:
        - name: paid_only
          sql: "{model}.status = 'paid'"
      extends: null
    entities:
      - name: order
        type: primary
        expr: order_id
      - name: customer
        type: foreign
        expr: customer_id
    dimensions:
      - name: status
        type: categorical
      - name: order_date
        type: time
        type_params:
          time_granularity: day
    measures:
      - name: p90_amount
        agg: percentile
        expr: amount
        agg_params:
          percentile: 0.9
      - name: p50_amount_disc
        agg: percentile
        expr: amount
        agg_params:
          percentile: 0.5
          use_discrete_percentile: true
      - name: weird_agg
        agg: hyperloglog
        expr: amount
      - name: last_balance
        agg: sum
        expr: balance
        non_additive_dimension:
          name: order_date
          window_choice: max
          window_groupings:
            - customer
metrics:
  - name: paid_revenue
    type: simple
    measure: revenue_total
    filter: "{{ Dimension('order__status') }} = 'paid'"
"""))
    orders = layer.graph.models["orders"]
    # hex table config wins over ref()
    assert orders.table == "analytics.orders_hex"
    # percentile -> complete SQL ordered-set aggregate, not coerced agg
    p90 = orders.metric("p90_amount")
    assert p90.sql_is_complete
    assert p90.sql == "PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY amount)"
    assert "PERCENTILE_DISC(0.5)" in orders.metric("p50_amount_disc").sql
    # unrepresentable agg skipped, never coerced
    assert orders.metric("weird_agg") is None
    # entity name in window_groupings resolves to its backing column
    assert orders.metric("last_balance").non_additive_window_groupings == ["customer_id"]
    # meta.segments imported
    assert orders._segments["paid_only"].sql == "{model}.status = 'paid'"
    # metric-level filter: Jinja Dimension ref -> model.dim
    paid = layer.graph.metrics["paid_revenue"]
    assert paid.filters == ["orders.status = 'paid'"]
    assert paid.expr == "revenue_total"


def test_metricflow_saved_queries_mapping_and_list(spark):
    """saved_queries as canonical list and latest-spec name-keyed
    mapping; where/order_by/limit retained; Jinja refs translated."""
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter

    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer, yaml.safe_load("""
semantic_models:
  - name: orders
    model: ref('raw_orders')
    entities:
      - name: order
        type: primary
        expr: order_id
    dimensions:
      - name: status
        type: categorical
    measures:
      - name: revenue
        agg: sum
        expr: amount
saved_queries:
  weekly_revenue:
    description: revenue by status
    query_params:
      metrics: [revenue]
      group_by: ["Dimension('order__status')"]
      where: "{{ Dimension('order__status') }} <> 'cancelled'"
      order_by: [status]
      limit: 100
"""))
    sq = layer.graph.saved_queries["weekly_revenue"]
    assert sq.metrics == ["revenue"]
    assert sq.dimensions == ["status"]
    assert sq.filters == ["orders.status <> 'cancelled'"]
    assert sq.limit == 100

    layer2 = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer2, yaml.safe_load("""
semantic_models:
  - name: orders
    model: ref('raw_orders')
    entities:
      - name: order
        type: primary
        expr: order_id
    dimensions:
      - name: created_at
        type: time
        type_params:
          time_granularity: day
    measures:
      - name: revenue
        agg: sum
        expr: amount
saved_queries:
  - name: monthly
    query_params:
      metrics: [revenue]
      group_by: ["Dimension('order__created_at').grain('month')"]
"""))
    assert layer2.graph.saved_queries["monthly"].dimensions == ["created_at__month"]


# ----------------------------------------------------------------------
# Graphene GSQL long tail (reference adapters/graphene.py,
# tests/adapters/graphene/test_parsing.py)
# ----------------------------------------------------------------------


def test_graphene_full_table_surface(spark):
    """Annotations, multiline case, measure composition order, computed-
    dimension inlining, alias role models, composite keys."""
    from sidemantic_spark.adapters import GrapheneAdapter

    layer = SparkSemanticLayer(spark)
    GrapheneAdapter().parse_text(layer, """
-- Customer orders.
table gx_orders (
  order_id INT64
  user_id INT64
  created_at TIMESTAMP #timeGrain=day
  status STRING -- One of 'Processing', 'Complete'
  amount FLOAT64 #currency=USD
  cost FLOAT64 #currency=USD
  location STRUCT<lat FLOAT64, lon FLOAT64>
  tags array<string>

  join one gx_users on user_id = gx_users.id
  join many gx_items on order_id = gx_items.order_id

  profit: revenue - cogs #currency=USD
  is_complete: status = 'Complete'
  revenue: sum(case when is_complete then amount else 0 end) #currency=USD
  sum(amount) as gross_revenue #currency=USD
  cogs: sum(case when is_complete then cost else 0 end) #currency=USD
  profit_margin: profit / revenue #ratio
  on_time_rate: avg(case
    when status = 'Complete' then 1
    else 0
  end) #pct
  status_label: case when status = '#done' then 'done--late' else 'other' end #description="Display label"
  p90_amount: p90(amount)
)

table gx_users (
  id BIGINT
  name STRING
)
""")
    m = layer.graph.models["gx_orders"]
    assert m.description == "Customer orders."
    # pk: join-many local key candidate
    assert m.primary_key == "order_id"
    # declared columns: type, annotation grain, data_type metadata
    assert m.dimension("created_at").type == "time"
    assert m.dimension("created_at").granularity == "day"
    assert m.dimension("status").description == "One of 'Processing', 'Complete'"
    assert m.dimension("location").meta["graphene"]["data_type"] == \
        "STRUCT<lat FLOAT64, lon FLOAT64>"
    assert "lon" not in {d.name for d in m.dimensions}
    assert m.dimension("tags").meta["graphene"]["data_type"] == "array<string>"
    # computed dim classification
    assert m.dimension("is_complete").type == "boolean"
    assert m.dimension("is_complete").sql == "status = 'Complete'"
    # comment/annotation markers inside strings preserved
    assert "#done" in m.dimension("status_label").sql
    assert "done--late" in m.dimension("status_label").sql
    assert m.dimension("status_label").description == "Display label"
    # measures: inlining, currency mapping, order-independent composition
    rev = m.metric("revenue")
    assert rev.agg == "sum"
    assert "is_complete" not in (rev.sql or "")
    assert "status" in rev.sql
    assert rev.value_format_name == "usd"
    assert m.metric("gross_revenue").agg == "sum"
    assert m.metric("gross_revenue").sql == "amount"
    assert m.metric("profit").type == "derived"
    assert m.dimension("profit") is None
    assert m.metric("profit_margin").value_format_name == "percent"
    # multiline case body folded into one aggregate
    assert m.metric("on_time_rate").agg == "avg"
    # pNN shorthand -> exact ordered-set aggregate
    p90 = m.metric("p90_amount")
    assert p90.sql_is_complete
    assert p90.sql == "PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY amount)"
    # joins
    users = next(r for r in m.relationships if r.name == "gx_users")
    assert users.type == "many_to_one"
    assert users.foreign_key == "user_id" and users.primary_key == "id"
    items = next(r for r in m.relationships if r.name == "gx_items")
    assert items.type == "one_to_many"
    assert items.primary_key == "order_id" and items.foreign_key == "order_id"


def test_graphene_views_extend_aliases_unresolved(spark):
    from sidemantic_spark.adapters import GrapheneAdapter

    layer = SparkSemanticLayer(spark)
    GrapheneAdapter().parse_text(layer, """
table gv_regional as (
  with filtered as (
    select id, region, amount from gv_raw where status = 'Complete'
  )
  from filtered
  where region = $selected_region
  group by region
  select region, count() as num_orders, sum(amount) as total_revenue
  order by num_orders desc
  limit 10
)

extend gv_regional (
  avg_order_value: total_revenue / num_orders #currency=USD
  row_count: count()
)

table gv_flights (
  id BIGINT primary_key
  origin VARCHAR
  code_txt VARCHAR

  join one gv_airports as origin_airport on origin = origin_airport.code
  join one gv_airports as by_code on lower(code_txt) = by_code.code
)

table gv_airports (
  code VARCHAR
  name STRING
)

-- Example usage query, not a model declaration.
from gv_regional
select region, num_orders
;

table gv_events (
  tenant_id BIGINT primary_key
  event_id BIGINT primary_key
  account_id INT64

  join one gv_accounts on account_id = gv_accounts.account_id and tenant_id = gv_accounts.tenant_id
)

table gv_accounts (
  account_id INT64
  tenant_id INT64
)
""")
    # view: verbatim SQL, projection dims, first projected col is pk
    v = layer.graph.models["gv_regional"]
    assert v.sql.startswith("with filtered as")
    assert "$selected_region" in v.sql
    assert v.primary_key == "region"
    names = {d.name for d in v.dimensions}
    assert {"region", "num_orders", "total_revenue"} <= names
    assert "id" not in names  # CTE selects ignored
    # extend adds a numeric dimension (formula over view columns)
    aov = v.dimension("avg_order_value")
    assert aov is not None and aov.type == "numeric"
    assert aov.value_format_name == "usd"
    assert v.metric("row_count").agg == "count"
    # alias join creates role model
    assert "origin_airport" in layer.graph.models
    role = layer.graph.models["origin_airport"]
    assert role.table == "gv_airports"
    fl = layer.graph.models["gv_flights"]
    origin = next(r for r in fl.relationships if r.name == "origin_airport")
    assert origin.foreign_key == "origin" and origin.primary_key == "code"
    # non-equi join preserved as metadata, not planned
    assert fl.primary_key == "id"
    unsupported = fl.meta["graphene"]["unsupported_joins"]
    assert unsupported[0]["unsupported_reason"] == "unresolved_join_keys"
    assert "lower(code_txt)" in unsupported[0]["on"]
    assert "by_code" not in layer.graph.models
    # example query after models is ignored
    assert "gv_raw" not in layer.graph.models
    # composite keys + composite explicit pk
    ev = layer.graph.models["gv_events"]
    assert ev.primary_key == ["tenant_id", "event_id"]
    acc = next(r for r in ev.relationships if r.name == "gv_accounts")
    assert acc.foreign_key == ["account_id", "tenant_id"]
    assert acc.primary_key == ["account_id", "tenant_id"]


def test_graphene_view_queries_end_to_end(spark):
    """Derived-table view + extend compiles and runs against Spark."""
    from sidemantic_spark.adapters import GrapheneAdapter

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE gq_orders AS SELECT * FROM (VALUES
            ('west', 10.0), ('west', 5.0), ('east', 7.0)
        ) t(region, amount)
    """)
    pdf = con.table("gq_orders").arrow().to_pandas()
    spark.createDataFrame(pdf).createOrReplaceTempView("gq_orders")
    layer = SparkSemanticLayer(spark)
    GrapheneAdapter().parse_text(layer, """
table gq_regional as (
  select region, sum(amount) as total_revenue
  from gq_orders
  group by 1
)

extend gq_regional (
  row_count: count()
)
""")
    rows = layer.query(
        metrics=["gq_regional.row_count"],
        dimensions=["gq_regional.region", "gq_regional.total_revenue"],
    ).collect()
    got = sorted((r["region"], float(r["total_revenue"]), r["row_count"])
                 for r in rows)
    assert got == [("east", 7.0, 1), ("west", 15.0, 1)]
    con.close()


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_snowflake_cortex_feature_long_tail(spark):
    """Newer Cortex Analyst spec keys: 3-part base_table, synonyms,
    sample_values, cortex_search_service, access modifiers, scoped
    metrics with simple-agg split, verified_queries/custom_instructions
    (reference adapters/snowflake.py:418-576, cortex_features.yaml)."""
    from sidemantic_spark.adapters import SnowflakeAdapter

    layer = SparkSemanticLayer(spark)
    SnowflakeAdapter().parse_file(
        layer, os.path.join(FIXROOT, "snowflake/cortex_features.yaml"))
    orders = layer.graph.models["orders"]
    assert orders.table == "analytics.sales.orders"
    assert orders.primary_key == "order_id"
    status = orders.dimension("status")
    assert status.synonyms == ["state"]
    sf = status.meta["snowflake"]
    assert sf["sample_values"] == ["delivered", "shipped"]
    assert sf["is_enum"] is True and sf["labels"] == ["Order Status"]
    assert orders.dimension("customer_name").meta["snowflake"][
        "cortex_search_service"] == "customer_name_search"
    assert orders.dimension("order_date").type == "time"
    total = orders.metric("order_total")
    assert total.agg == "sum" and total.sql == "total"
    assert total.synonyms == ["revenue"]
    # scoped metric: single outer aggregate splits into agg + inner
    distinct = orders.metric("distinct_orders")
    assert distinct.agg == "count_distinct" and distinct.sql == "order_id"
    assert not distinct.sql_is_complete
    meta = layer.graph.metadata["snowflake"]
    assert meta["verified_queries"][0]["name"] == "total revenue"
    assert "revenue over total" in meta["custom_instructions"]
    assert meta["module_custom_instructions"]["sql_generation"]


def test_snowflake_top_level_and_complex_metrics(spark):
    """Top-level metrics attach to their table (even across docs) or
    register graph-level; complex scoped metrics become complete-SQL
    measures that execute against Spark."""
    import yaml

    from sidemantic_spark.adapters import SnowflakeAdapter

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE sf_orders AS SELECT * FROM (VALUES
            (1, 'delivered', 100.0, 80.0),
            (2, 'delivered', 50.0, 30.0),
            (3, 'returned', 30.0, 20.0)
        ) t(order_id, status, total, cost)
    """)
    spark.createDataFrame(con.table("sf_orders").arrow().to_pandas()) \
        .createOrReplaceTempView("sf_orders")
    layer = SparkSemanticLayer(spark)
    adapter = SnowflakeAdapter()
    # metrics arrive in a doc BEFORE the table's doc
    adapter.parse(layer, yaml.safe_load("""
metrics:
  - name: margin_pct
    table: orders_sf
    expr: (SUM(total) - SUM(cost)) / SUM(total)
  - name: global_note_metric
    expr: orders_sf.order_total
"""))
    adapter.parse(layer, yaml.safe_load("""
tables:
  - name: orders_sf
    base_table:
      table: sf_orders
    primary_key:
      columns: [order_id]
    dimensions:
      - name: status
        data_type: varchar
    facts:
      - name: order_total
        expr: total
        default_aggregation: sum
    filters:
      - name: kept
        expr: status = 'delivered'
"""))
    m = layer.graph.models["orders_sf"]
    # pending table-scoped metric attached once the table parsed
    margin = m.metric("margin_pct")
    assert margin is not None and margin.sql_is_complete
    # graph-level metric left untouched (model.field refs)
    assert layer.graph.metrics["global_note_metric"].type == "derived"
    # filters qualify bare columns onto {model}
    assert m._segments["kept"].sql == "{model}.status = 'delivered'"
    rows = layer.query(metrics=["orders_sf.margin_pct", "orders_sf.order_total"],
                       segments=["orders_sf.kept"]).collect()
    assert len(rows) == 1
    assert abs(float(rows[0]["margin_pct"]) - (150.0 - 110.0) / 150.0) < 1e-9
    assert float(rows[0]["order_total"]) == 150.0
    con.close()


def test_rill_measure_dimension_long_tail(spark):
    """Rill back-compat and newer keys: property alias, unnamed
    dimension_<i>/measure_<i> naming, ignore, lookup tables, window
    measures -> cumulative, time_comparison, requires/per promotion,
    format presets, security templates (ref adapters/rill.py:394-610)."""
    import yaml

    from sidemantic_spark.adapters import RillAdapter

    layer = SparkSemanticLayer(spark)
    RillAdapter().parse(layer, yaml.safe_load("""
type: metrics_view
name: rill_lt
model: rill_lt_tbl
timeseries: order_date
smallest_time_grain: minute
security:
  access: "{{ .user.admin }}"
  row_filter: "region = '{{ .user.region }}'"
dimensions:
  - property: status
  - expression: order_date
  - name: skipped
    column: hidden_col
    ignore: true
  - expression: upper(region)
  - name: country
    lookup_table: countries
    lookup_key_column: country_id
    lookup_value_column: country_name
measures:
  - name: revenue
    expression: SUM(amount)
    format_preset: currency_usd
  - expression: COUNT(*)
  - name: rolling_rev
    expression: SUM(amount)
    window:
      order: order_date
      frame: RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
  - name: rev_prior
    type: time_comparison
    expression: revenue
  - name: margin
    type: derived
    expression: revenue - cost_total
  - name: per_user_rev
    expression: SUM(amount)
    per: user_id
  - name: ignored_m
    expression: SUM(x)
    ignore: true
"""))
    m = layer.graph.models["rill_lt"]
    # property alias + unnamed naming rules
    assert m.dimension("status") is not None
    od = m.dimension("order_date")  # unnamed expression claims timeseries
    assert od.type == "time" and od.granularity == "minute"
    assert m.dimension("dimension_3") is not None  # upper(region)
    assert m.dimension("skipped") is None
    country = m.dimension("country")
    assert country.meta["rill_lookup_table"] == "countries"
    assert country.sql == "country_id"
    assert m.default_grain == "minute"
    # measures
    assert m.metric("revenue").agg == "sum"
    assert m.metric("revenue").value_format_name == "usd"
    assert m.metric("measure_1").agg == "count"
    rolling = m.metric("rolling_rev")
    assert rolling.type == "cumulative" and rolling.agg == "sum"
    assert "6 DAY PRECEDING" in rolling.window_frame
    assert rolling.meta["rill_window_order"] == "order_date"
    prior = m.metric("rev_prior")
    assert prior.type == "time_comparison"
    assert prior.base_metric == "revenue"
    assert prior.comparison_type == "prior_period"
    assert m.metric("margin").type == "derived"
    # per with a plain aggregation keeps simple decomposition
    pu = m.metric("per_user_rev")
    assert pu.agg == "sum" and pu.meta["rill_per"] == "user_id"
    assert m.metric("ignored_m") is None
    # security templates translated to the user.* namespace
    assert m.security.access == "{{ user.admin }}"
    assert m.security.row_filters == ["region = '{{ user.region }}'"]


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_osi_kitchen_sink_long_tail(spark):
    """OSI 0.2 kitchen sink: composite keys, unique_keys, ai_context /
    custom_extensions retention, graph-level OSI metadata
    (reference adapters/osi.py:176-330)."""
    from sidemantic_spark.adapters import OsiAdapter

    layer = SparkSemanticLayer(spark)
    OsiAdapter().parse_file(layer, os.path.join(FIXROOT, "osi/kitchen_sink.yaml"))
    osi_meta = layer.graph.metadata["osi"]
    assert osi_meta["version"] == "0.2.0.dev0"
    assert any(sm.get("name") == "tpcds_analytics"
               for sm in osi_meta["semantic_models"])
    ss = layer.graph.models["store_sales"]
    assert ss.table == "tpcds.public.store_sales"
    assert ss.pk_list() == ["ss_item_sk", "ss_ticket_number"]
    assert ss.meta["ai_context"]["synonyms"] == ["sales transactions",
                                                 "store purchases"]
    assert ss.meta["osi_unique_keys"] == [["ss_item_sk", "ss_ticket_number"]]


def test_osi_ontology_and_extensions(spark):
    """Ontology-mapping profile + SIDEMANTIC extension unwrap + released
    JSON profile dialect preference."""
    import yaml

    from sidemantic_spark.adapters import OsiAdapter

    layer = SparkSemanticLayer(spark)
    OsiAdapter().parse(layer, yaml.safe_load("""
version: "0.2.0.dev0"
ontology: retail_ontology
ontology_mappings:
  - name: sales_mapping
    concept_mappings:
      - concept: Sale
        dataset: ont_sales
    semantic_model:
      name: mapped
      datasets:
        - name: ont_sales
          source: ont_sales_tbl
          primary_key: [sale_id]
          custom_extensions:
            - vendor_name: SIDEMANTIC
              data: '{"tier": "gold"}'
          fields:
            - name: sale_id
            - name: sold_at
              dimension:
                is_time: true
            - name: channel
              expression:
                dialects:
                  - dialect: MDX
                    expression: "[Channel].[Name]"
                  - dialect: ANSI_SQL
                    expression: channel_code
      metrics:
        - name: sales_total
          expression:
            dialects:
              - dialect: ANSI_SQL
                expression: SUM(ont_sales.amount)
"""))
    meta = layer.graph.metadata["osi"]
    assert meta["ontology"] == "retail_ontology"
    sm_meta = meta["semantic_models"][-1]
    assert sm_meta["source"].startswith("ontology_mappings[0]")
    assert sm_meta["ontology_mapping"]["concept_mappings"][0]["concept"] == "Sale"
    m = layer.graph.models["ont_sales"]
    # SIDEMANTIC extension wrapper unwrapped back to its JSON payload
    assert m.meta["custom_extensions"] == {"tier": "gold"}
    # dialect preference: ANSI_SQL wins over MDX regardless of order
    assert m.dimension("channel").sql == "channel_code"
    assert m.dimension("sold_at").type == "time"
    assert m.default_time_dimension == "sold_at"
    # metric attaches to its dataset with qualification stripped
    assert m.metric("sales_total").agg == "sum"
    assert m.metric("sales_total").sql == "amount"


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_gooddata_cloud_long_tail(spark):
    """Cloud LDM long tail: unified fields arrays with defaultView
    labels, declared fact aggregation, date instances with granularity
    lists, newer references with sources arrays, SQL-backed datasets
    (reference adapters/gooddata.py:140-503)."""
    from sidemantic_spark.adapters import GoodDataAdapter

    layer = SparkSemanticLayer(spark)
    GoodDataAdapter().parse_file(
        layer, os.path.join(FIXROOT, "gooddata/cloud_kitchen_sink.json"))
    # fields arrays feed attributes/facts; defaultView label source
    model = next(m for m in layer.graph.models.values()
                 if m.dimension("order_status") is not None)
    assert model.dimension("order_status").sql == "status"
    assert model.metric("order_total").agg == "sum"
    # date instance with granularities
    date_models = [m for m in layer.graph.models.values()
                   if any(d.type == "time" and d.supported_granularities
                          for d in m.dimensions)]
    assert date_models
    dd = date_models[0].dimensions[0]
    assert "month" in dd.supported_granularities
    assert date_models[0].table == "analytics.date_dim"

    layer2 = SparkSemanticLayer(spark)
    GoodDataAdapter().parse_file(
        layer2,
        os.path.join(FIXROOT, "gooddata/sdk_declarative_ldm_with_sql_dataset.json"))
    # SQL-backed dataset imports as a derived model
    sqlm = layer2.graph.models["Customers_sql_dataset_with_WDF"]
    assert sqlm.sql == "SELECT * FROM v_wdf_customers"
    assert sqlm.table is None
    # newer references: sources array -> foreign key
    cc = layer2.graph.models["campaign_channels"]
    rel = next(r for r in cc.relationships if r.name == "campaigns")
    assert rel.foreign_key == "campaign_id"
    assert cc.primary_key == "campaign_channel_id"


def test_gooddata_legacy_labels_and_dates(spark):
    """Legacy projectModel: label map supplies source columns,
    dateDimensions import as date models, references attach."""
    from sidemantic_spark.adapters import GoodDataAdapter

    layer = SparkSemanticLayer(spark)
    GoodDataAdapter().parse(layer, {
        "projectModel": {
            "dateDimensions": [
                {"dateDimension": {"name": "closedate", "title": "Closed"}},
            ],
            "datasets": [{
                "dataset": {
                    "identifier": "dataset.opps",
                    "anchor": {"attribute": {
                        "identifier": "attr.opps.id",
                        "labels": [{"label": {
                            "identifier": "label.opps.id",
                            "sourceColumn": "opp_id"}}],
                    }},
                    "labels": [
                        {"label": {"identifier": "label.opps.stage",
                                   "sourceColumn": "stage_name"}},
                    ],
                    "attributes": [{"attribute": {
                        "identifier": "attr.opps.stage",
                        "title": "Stage",
                        "labels": ["label.opps.stage"],
                    }}],
                    "facts": [{"fact": {
                        "identifier": "fact.opps.amount",
                        "sourceColumn": "amount"}}],
                    "references": ["dataset.accounts"],
                },
            }],
        },
    })
    assert "closedate" in layer.graph.models
    opps = layer.graph.models["opps"]
    # label map resolves the attribute's source column
    assert opps.dimension("stage").sql == "stage_name"
    assert opps.metric("amount").agg == "sum"
    assert opps.relationships[0].name == "accounts"


def test_tableau_formula_translation():
    """Tableau calc formulas -> Spark SQL (reference
    adapters/tableau.py:139-634 translation pipeline)."""
    from sidemantic_spark.adapters.tableau import translate_formula

    cases = {
        "ZN([Discount])": "COALESCE(discount, 0)",
        "IIF([Qty] > 2, 'big', 'small')":
            "CASE WHEN qty > 2 THEN 'big' ELSE 'small' END",
        "IF [Qty] > 2 THEN 'big' ELSEIF [Qty] > 1 THEN 'mid' ELSE 'small' END":
            "CASE WHEN qty > 2 THEN 'big' WHEN qty > 1 THEN 'mid' ELSE 'small' END",
        "CONTAINS([Name], 'x')": "name LIKE '%' || 'x' || '%'",
        "COUNTD([Customer Id])": "COUNT(DISTINCT customer_id)",
        "DATETRUNC('month', [Order Date])": "DATE_TRUNC('month', order_date)",
        "DATEADD('month', 3, [Order Date])":
            "TIMESTAMPADD(MONTH, 3, order_date)",
        "LEN([Name])": "LENGTH(name)",
        "STR([Qty]) + ' units'": "CAST(qty AS STRING) || ' units'",
        "MID([Name], 2, 3)": "SUBSTRING(name, 2, 3)",
        "ISNULL([Ship Date])": "(ship_date IS NULL)",
        "IFNULL([A], [B])": "COALESCE(a, b)",
        # double-quoted strings normalize; // comments drop
        '[Region] = "West" // west only': "region = 'West'",
        "INT([Price])": "CAST(price AS INT)",
    }
    for src, want in cases.items():
        got, ok = translate_formula(src)
        assert ok, src
        assert got.strip() == want, f"{src!r}: {got!r} != {want!r}"
    # untranslatable: LOD, table calcs, Tableau-only functions
    for bad in ("{FIXED [Region] : SUM([Sales])}",
                "RUNNING_SUM(SUM([Sales]))",
                "USERNAME()"):
        raw, ok = translate_formula(bad)
        assert not ok and raw == bad


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_tableau_calcs_hidden_drill_paths(spark):
    """sales_calcs.tds: translated calc measures, hidden columns stay
    non-public, drill paths become dimension hierarchies."""
    from sidemantic_spark.adapters import TableauAdapter

    layer = SparkSemanticLayer(spark)
    TableauAdapter().parse_file(
        layer, os.path.join(FIXROOT, "tableau/sales_calcs.tds"))
    m = layer.graph.models["sales_calcs"]
    assert m.table == "public.sales"
    rev = m.metric("calc_revenue")
    assert rev.agg == "sum" and rev.sql == "price * quantity"
    assert m.metric("calc_safe_discount").sql == "COALESCE(discount, 0)"
    assert m.metric("hidden_cost").public is False
    # drill path Geography: country > state > city
    assert m.dimension("state").parent == "country"
    assert m.dimension("city").parent == "state"


def test_tableau_metadata_orphans_and_lod(spark):
    """metadata-records supply types/aggregations and orphan physical
    columns; LOD calcs import hidden with NULL bodies and the raw
    formula in metadata; Number of Records maps to COUNT(*)."""
    import textwrap

    from sidemantic_spark.adapters import TableauAdapter

    tds = textwrap.dedent("""\
    <?xml version='1.0' encoding='utf-8' ?>
    <datasource formatted-name='orph' version='18.1'>
      <connection class='postgres' dbname='x' server='l'>
        <relation type='table' name='orders' table='[public].[orders]' />
        <metadata-records>
          <metadata-record class='column'>
            <local-name>[order_date]</local-name>
            <local-type>date</local-type>
            <parent-name>[orders]</parent-name>
          </metadata-record>
          <metadata-record class='column'>
            <local-name>[freight]</local-name>
            <local-type>real</local-type>
            <aggregation>Sum</aggregation>
            <parent-name>[orders]</parent-name>
          </metadata-record>
        </metadata-records>
      </connection>
      <column datatype='integer' name='[Number of Records]' role='measure' type='quantitative'>
        <calculation class='tableau' formula='1' />
      </column>
      <column caption='Regional Sales' datatype='real' name='[lod_sales]' role='measure' aggregation='Sum' type='quantitative'>
        <calculation class='tableau' formula='{FIXED [region] : SUM([sales])}' />
      </column>
    </datasource>
    """)
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".tds", delete=False) as fh:
        fh.write(tds)
        path = fh.name
    layer = SparkSemanticLayer(spark)
    TableauAdapter().parse_file(layer, path)
    m = layer.graph.models["orph"]
    # Number of Records -> COUNT(*)
    nr = m.metric("number_of_records")
    assert nr.agg == "count" and nr.sql is None
    # LOD calc: hidden, NULL body, raw formula retained
    lod = m.metric("lod_sales")
    assert lod.public is False
    assert lod.sql == "NULL"
    assert "FIXED" in lod.meta["tableau"]["formula"]
    # orphan metadata columns import with their declared type/agg
    assert m.dimension("order_date").type == "time"
    assert m.metric("freight").agg == "sum"


def test_bsl_expression_long_tail(spark):
    """AST-translated BSL surface: left_on/right_on joins, model-level
    filter, date-part dims, compound aggregations, filter methods,
    ternary, _.all window totals (reference adapters/bsl_expr.py)."""
    import yaml

    from sidemantic_spark.adapters import BslAdapter
    from sidemantic_spark.adapters.bsl import bsl_filter_to_sql

    layer = SparkSemanticLayer(spark)
    BslAdapter().parse(layer, yaml.safe_load("""
bsl_flights:
  table: flights_tbl
  primary_key: flight_id
  filter: _.year > 2020
  time_dimension: dep_time
  dimensions:
    flight_id: _.flight_id
    carrier: _.carrier
    dep_year:
      expr: _.dep_time.year()
    dep_time:
      expr: _.dep_time
      is_time_dimension: true
      smallest_time_grain: TIME_GRAIN_DAY
  measures:
    flight_count:
      expr: _.count()
    total_distance:
      expr: _.distance.sum()
    net_delay:
      expr: (_.arr_delay - _.dep_delay).sum()
    long_hauls:
      expr: _.count()
      filter: _.distance > 1000
    distance_share:
      expr: _.total_distance / _.all(_.total_distance)
    avg_per_flight:
      expr: total_distance / flight_count
  joins:
    carriers:
      model: bsl_carriers
      type: one
      left_on: carrier
      right_on: code

bsl_carriers:
  table: carriers_tbl
  dimensions:
    code:
      expr: _.code
      is_entity: true
    name: _.name
"""))
    m = layer.graph.models["bsl_flights"]
    assert m.primary_key == "flight_id"
    assert m.row_filters == ["year > 2020"]
    assert m.default_time_dimension == "dep_time"
    # date-part dims -> EXTRACT
    assert m.dimension("dep_year").sql == "EXTRACT(YEAR FROM dep_time)"
    assert m.dimension("dep_time").granularity == "day"
    # compound aggregation
    nd = m.metric("net_delay")
    assert nd.agg == "sum" and nd.sql == "arr_delay - dep_delay"
    # measure-level filter translated
    assert m.metric("long_hauls").filters == ["distance > 1000"]
    # _.all -> __bsl_all window-total marker
    share = m.metric("distance_share")
    assert share.type == "derived"
    assert "__bsl_all(total_distance)" in share.expr
    # calc measure over other measures
    assert m.metric("avg_per_flight").type == "derived"
    # joins: left_on/right_on
    rel = next(r for r in m.relationships if r.name == "bsl_carriers")
    assert rel.type == "many_to_one"
    assert rel.foreign_key == "carrier" and rel.primary_key == "code"
    # entity marker still sets the pk
    assert layer.graph.models["bsl_carriers"].primary_key == "code"
    # filter translation surface
    assert bsl_filter_to_sql("_.status.isin(['a', 'b'])") == "status IN ('a', 'b')"
    assert bsl_filter_to_sql("(_.a > 1) & ~_.b.isnull()") == \
        "(a > 1) AND (NOT (b IS NULL))"
    assert bsl_filter_to_sql("_.x.between(1, 5) | (_.y == 'z')") == \
        "(x BETWEEN 1 AND 5) OR (y = 'z')"


def test_superset_long_tail(spark):
    """Catalog/schema qualification, declared metric_type, granularity
    from SQL types, display metadata retention
    (reference adapters/superset.py:64-283)."""
    import yaml

    from sidemantic_spark.adapters import SupersetAdapter

    layer = SparkSemanticLayer(spark)
    SupersetAdapter().parse(layer, yaml.safe_load("""
table_name: ss_orders
catalog: lake
schema: sales
main_dttm_col: created_at
extra: '{"currency_code_column": "currency"}'
columns:
  - column_name: id
    type: BIGINT
  - column_name: created_at
    type: DATE
  - column_name: status
    type: VARCHAR
    advanced_data_type: enum
metrics:
  - metric_name: order_count
    metric_type: count
    expression: COUNT(*)
    d3format: ",d"
  - metric_name: revenue
    metric_type: sum
    expression: SUM(amount)
    currency:
      symbol: USD
      symbolPosition: prefix
"""))
    m = layer.graph.models["ss_orders"]
    assert m.table == "lake.sales.ss_orders"
    assert m.primary_key == "id"
    ca = m.dimension("created_at")
    assert ca.type == "time" and ca.granularity == "day"
    assert m.dimension("status").meta["superset"]["advanced_data_type"] == "enum"
    oc = m.metric("order_count")
    assert oc.agg == "count" and oc.sql is None
    assert oc.format == ",d"
    rev = m.metric("revenue")
    assert rev.agg == "sum" and rev.sql == "amount"
    assert rev.meta["superset"]["currency"]["symbol"] == "USD"
    assert m.meta["superset"]["catalog"] == "lake"
    assert m.meta["superset"]["currency_code_column"] == "currency"


def test_hex_semi_additive_and_filters(spark):
    """Hex object-form semi_additive maps to semi-additive fields (with
    the original retained for pick:min round-trips); inline filter
    dimension objects and func_calc measures import
    (reference adapters/hex.py:262-409)."""
    import yaml

    from sidemantic_spark.adapters import HexAdapter

    layer = SparkSemanticLayer(spark)
    HexAdapter().parse(layer, yaml.safe_load("""
id: hx_balances
type: model
base_sql_table: balances_tbl
dimensions:
  - id: account_id
    type: string
    unique: true
  - id: snapshot_date
    type: date
  - id: is_active
    type: boolean
measures:
  - id: opening_balance
    func: sum
    of: balance
    semi_additive:
      over:
        - dimension: snapshot_date
          pick: min
      groupings:
        - account_id
  - id: active_balance
    func: sum
    of: balance
    filters:
      - expr_sql: is_active = true
  - id: balance_ratio
    func_calc: opening_balance / active_balance
  - id: hidden_metric
    func: sum
    of: balance
    visibility: private
"""))
    m = layer.graph.models["hx_balances"]
    assert m.dimension("snapshot_date").granularity == "day"
    ob = m.metric("opening_balance")
    assert ob.non_additive_dimension == "snapshot_date"
    assert ob.non_additive_window == "min"
    assert ob.non_additive_window_groupings == ["account_id"]
    assert ob.meta["hex_semi_additive"]["over"][0]["pick"] == "min"
    assert m.metric("active_balance").filters == ["is_active = true"]
    assert m.metric("balance_ratio").type == "derived"
    assert m.metric("hidden_metric").public is False


def test_adapter_review_regressions(spark):
    """Pinned fixes from the adapter-batch review: compound aggregates
    never split as simple, COUNT(DISTINCT x) metric_type spelling,
    GoodData identifier-form grain, keyword-safe {model} qualification,
    comparison operators inside split contexts, multi-doc MetricFlow
    entity resolution, and repeated Tableau calls after a malformed one."""
    import yaml

    from sidemantic_spark.adapters import (
        GoodDataAdapter,
        MetricFlowAdapter,
        SupersetAdapter,
    )
    from sidemantic_spark.adapters.base import split_simple_aggregate
    from sidemantic_spark.adapters.graphene import GrapheneAdapter
    from sidemantic_spark.adapters.snowflake import _qualify_model_placeholder
    from sidemantic_spark.adapters.tableau import translate_formula

    # close-then-open paren shapes are NOT one simple aggregate
    assert split_simple_aggregate("SUM(a) + SUM(b)") is None
    assert split_simple_aggregate("AVG(a) + AVG(b)") is None
    assert split_simple_aggregate("SUM(COALESCE(a, 0))") == ("sum", "COALESCE(a, 0)")
    assert split_simple_aggregate("SUM(CASE WHEN s = ')' THEN 1 END)") == \
        ("sum", "CASE WHEN s = ')' THEN 1 END")
    assert split_simple_aggregate("COUNT(DISTINCT user_id)") == \
        ("count_distinct", "user_id")

    # Superset: COUNT(DISTINCT x) spelling + compound expressions
    layer = SparkSemanticLayer(spark)
    SupersetAdapter().parse(layer, yaml.safe_load("""
table_name: ss_rx
columns:
  - column_name: id
    type: BIGINT
metrics:
  - metric_name: users
    metric_type: count_distinct
    expression: COUNT(DISTINCT user_id)
  - metric_name: spread
    metric_type: sum
    expression: SUM(a) - SUM(b)
"""))
    rx = layer.graph.models["ss_rx"]
    assert rx.metric("users").agg == "count_distinct"
    assert rx.metric("users").sql == "user_id"
    assert rx.metric("spread").sql_is_complete  # never nested under SUM

    # GoodData: identifier-form grain entries must not crash
    layer2 = SparkSemanticLayer(spark)
    GoodDataAdapter().parse(layer2, {"ldm": {"datasets": [{
        "dataset": {"id": "gd_rx", "grain": [{"identifier": "attr.region"}],
                    "attributes": [{"id": "attr.region"}]},
    }]}})
    assert layer2.graph.models["gd_rx"].primary_key == "attr.region"

    # Snowflake: keywords and niladic functions stay unqualified
    assert _qualify_model_placeholder("status ILIKE 'a%'") == \
        "{model}.status ILIKE 'a%'"
    assert _qualify_model_placeholder("created_at >= CURRENT_DATE") == \
        "{model}.created_at >= CURRENT_DATE"

    # Graphene: comparisons inside view projections don't poison splits
    layer3 = SparkSemanticLayer(spark)
    GrapheneAdapter().parse_text(layer3, """
table gx_rx as (
  select case when amount < 100 then 1 else 0 end as small_flag, status
  from orders
)
""")
    names = {d.name for d in layer3.graph.models["gx_rx"].dimensions}
    assert names == {"small_flag", "status"}
    assert layer3.graph.models["gx_rx"].primary_key == "small_flag"

    # MetricFlow: entity owners accumulate across documents
    layer4 = SparkSemanticLayer(spark)
    mf = MetricFlowAdapter()
    mf.parse(layer4, yaml.safe_load("""
semantic_models:
  - name: customers_rx
    model: ref('raw_customers')
    entities:
      - name: customer
        type: primary
        expr: customer_id
    dimensions:
      - name: region
        type: categorical
"""))
    mf.parse(layer4, yaml.safe_load("""
metrics:
  - name: eu_revenue
    type: derived
    type_params:
      expr: revenue
    filter: "{{ Dimension('customer__region') }} = 'EU'"
"""))
    assert layer4.graph.metrics["eu_revenue"].filters == \
        ["customers_rx.region = 'EU'"]
    # virtual agg_time_dimension never dangles
    mf.parse(layer4, yaml.safe_load("""
semantic_models:
  - name: dangling_rx
    model: ref('raw_x')
    defaults:
      agg_time_dimension: metric_time
    entities:
      - name: x
        type: primary
        expr: x_id
    dimensions:
      - name: region
        type: categorical
"""))
    assert layer4.graph.models["dangling_rx"].default_time_dimension is None

    # Tableau: a malformed call doesn't stop later valid rewrites
    got, ok = translate_formula("IIF([a], [b]) + IIF([c], [d], [e])")
    assert ok
    assert "CASE WHEN c THEN d ELSE e END" in got


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_malloy_expression_transforms(spark):
    """Malloy expression idioms -> Spark SQL: ?? coalescing, @ date
    literals, now, multi-line pick/when/else, &-alternation trees
    (reference adapters/malloy.py:795-1200,
    fixtures/malloy/expression_transforms.malloy)."""
    from sidemantic_spark.adapters import MalloyAdapter

    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_file(
        layer, os.path.join(FIXROOT, "malloy/expression_transforms.malloy"))
    m = layer.graph.models["transforms"]
    assert m.dimension("safe_name").sql == "COALESCE(name, 'Unknown')"
    assert m.dimension("fallback_value").sql == \
        "COALESCE(primary_value, secondary_value, 'default')"
    assert m.dimension("cutoff_full").sql == "DATE '2024-01-15'"
    assert m.dimension("cutoff_month").sql == "DATE '2024-03-01'"
    assert m.dimension("cutoff_year").sql == "DATE '2024-01-01'"
    assert m.dimension("in_range").sql == "value < 2031 AND value > -8000"
    assert m.dimension("not_excluded").sql == \
        "status != 'Cancelled' AND status != 'Returned'"
    assert m.dimension("category").sql == (
        "CASE WHEN score > 80 THEN 'High' WHEN score > 50 THEN 'Medium' "
        "ELSE 'Low' END")
    assert layer.graph.models["time_check"].dimension("current_time").sql == \
        "CURRENT_TIMESTAMP"


def test_malloy_idioms_end_to_end(spark):
    """Translated Malloy idioms execute against Spark."""
    import duckdb as _duck

    from sidemantic_spark.adapters import MalloyAdapter

    con = _duck.connect()
    con.execute("""
        CREATE TABLE ml_scores AS SELECT * FROM (VALUES
            (1, 'alice', 90, 'Active'),
            (2, NULL, 60, 'Cancelled'),
            (3, 'carol', 30, 'Returned')
        ) t(id, name, score, status)
    """)
    spark.createDataFrame(con.table("ml_scores").arrow().to_pandas()) \
        .createOrReplaceTempView("ml_scores")
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: ml_scores_src is duckdb.table('ml_scores') extend {
  primary_key: id
  dimension:
    safe_name is name ?? 'Unknown',
    kept is status != 'Cancelled' & 'Returned',
    band is
      pick 'High' when score > 80
      pick 'Medium' when score > 50
      else 'Low'
  measure: n is count()
}
""")
    rows = layer.query(metrics=["ml_scores_src.n"],
                       dimensions=["ml_scores_src.band",
                                   "ml_scores_src.kept",
                                   "ml_scores_src.safe_name"]).collect()
    got = {(r["band"], r["kept"], r["safe_name"]) for r in rows}
    assert got == {("High", True, "alice"), ("Medium", False, "Unknown"),
                   ("Low", False, "carol")}
    con.close()


def test_lookml_ndt_sql_always_where_explore_objects(spark):
    """Native derived tables compile to real derived SQL through the
    layer's own generator (the reference can only stub them,
    ref adapters/lookml.py:2861-2918); sql_always_where becomes a base
    row filter; explores register as consumption contracts; measure
    value_format_name/drill_fields import."""
    import duckdb as _duck

    from sidemantic_spark.adapters import LookMLAdapter

    con = _duck.connect()
    con.execute("""
        CREATE TABLE lk_oi AS SELECT * FROM (VALUES
            (1, 10, 100.0, 'ok'), (2, 10, 50.0, 'ok'),
            (3, 20, 30.0, 'void')
        ) t(id, user_id, sale_price, status)
    """)
    spark.createDataFrame(con.table("lk_oi").arrow().to_pandas()) \
        .createOrReplaceTempView("lk_oi")
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_items {
  sql_table_name: lk_oi ;;
  dimension: id { primary_key: yes }
  dimension: user_id {}
  dimension: status {}
  measure: total_revenue {
    type: sum
    sql: ${TABLE}.sale_price ;;
    value_format_name: usd
    drill_fields: [id, status]
  }
  measure: order_count { type: count }
}

explore: lk_items {
  label: "Items"
  sql_always_where: ${lk_items.status} = 'ok' ;;
}

view: lk_user_facts {
  derived_table: {
    explore_source: lk_items {
      column: user_id { field: lk_items.user_id }
      column: lifetime_revenue { field: lk_items.total_revenue }
      column: lifetime_orders { field: lk_items.order_count }
    }
  }
  dimension: user_id { primary_key: yes }
  dimension: lifetime_revenue { type: number }
  dimension: lifetime_orders { type: number }
  measure: user_count { type: count }
}
""")
    items = layer.graph.models["lk_items"]
    # sql_always_where is EXPLORE-scoped: it lives on the consumption
    # contract, not as a model-wide row filter (direct model queries
    # and other explores must not inherit it)
    assert items.row_filters == []
    explore = layer.graph.explores["lk_items"]
    assert explore.filters == ["lk_items.status = 'ok'"]
    # display long tail
    rev = items.metric("total_revenue")
    assert rev.value_format_name == "usd"
    assert rev.drill_fields == ["id", "status"]
    # explore registered as a consumption contract
    assert explore.label == "Items"
    # NDT compiled into real derived SQL, not a stub
    facts = layer.graph.models["lk_user_facts"]
    assert facts.table is None
    assert "unresolved" not in facts.sql
    assert "GROUP BY" in facts.sql
    # and it executes: per-user rollup respecting the always-where
    rows = layer.query(metrics=["lk_user_facts.user_count"],
                       dimensions=["lk_user_facts.user_id",
                                   "lk_user_facts.lifetime_revenue"]).collect()
    got = {(r["user_id"], float(r["lifetime_revenue"])) for r in rows}
    assert got == {(10, 150.0)}  # status='void' excluded by always-where
    con.close()


def test_cube_rolling_window_and_display_long_tail(spark):
    """Cube rolling_window -> cumulative metrics (trailing window /
    to_date grain, leading-offset retained), format mapping,
    drill_members, sub_query retention, extends and title
    (reference adapters/cube.py:936-996,789-797)."""
    import yaml

    from sidemantic_spark.adapters import CubeAdapter

    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, yaml.safe_load("""
cubes:
  - name: cb_orders
    title: Orders
    sql_table: cb_orders_tbl
    dimensions:
      - name: id
        sql: id
        type: number
        primary_key: true
      - name: created_at
        sql: created_at
        type: time
      - name: top_product
        sql: "{CUBE}.product_id"
        type: number
        sub_query: true
    measures:
      - name: revenue
        sql: amount
        type: sum
        format: currency
        drill_members: [id, created_at]
      - name: rolling_revenue_7d
        sql: amount
        type: sum
        rolling_window:
          trailing: 7 day
      - name: revenue_mtd
        sql: amount
        type: sum
        rolling_window:
          type: to_date
          granularity: month
      - name: conversion
        sql: "{converted} / {visits}"
        type: number
        format: percent
      - name: visits
        sql: id
        type: count
      - name: converted
        sql: id
        type: count
    pre_aggregations:
      - name: base_sql
        type: original_sql
  - name: cb_orders_ext
    extends: cb_orders
"""))
    m = layer.graph.models["cb_orders"]
    assert m.label == "Orders"
    rev = m.metric("revenue")
    assert rev.value_format_name == "usd"
    assert rev.drill_fields == ["id", "created_at"]
    rolling = m.metric("rolling_revenue_7d")
    assert rolling.type == "cumulative" and rolling.agg == "sum"
    assert rolling.window == "7 day" and rolling.sql == "amount"
    mtd = m.metric("revenue_mtd")
    assert mtd.type == "cumulative" and mtd.grain_to_date == "month"
    assert m.metric("conversion").value_format_name == "percent"
    assert m.dimension("top_product").meta["cube_sub_query"] is True
    assert m.pre_aggregations[0].type == "original_sql"
    # extends: child inherits the parent surface
    ext = layer.graph.models["cb_orders_ext"]
    assert ext.metric("revenue") is not None or ext.extends == "cb_orders"


def test_tmdl_dax_time_intelligence(spark):
    """DAX time intelligence maps onto native metric types: TOTALYTD ->
    grain-to-date cumulative, CALCULATE(base, SAMEPERIODLASTYEAR/
    PREVIOUSMONTH/DATEADD) -> prior-value time comparisons."""
    import tempfile

    from sidemantic_spark.adapters import TmdlAdapter

    tmdl = """table Sales
	column Id
		dataType: int64
		isKey
	column Amount
		dataType: double
	column OrderDate
		dataType: dateTime
	measure 'Total Sales' = SUM('Sales'[Amount])
	measure 'Sales YTD' = TOTALYTD(SUM('Sales'[Amount]), 'Dates'[Date])
	measure 'Sales MTD' = TOTALMTD([Total Sales], 'Dates'[Date])
	measure 'Sales LY' = CALCULATE([Total Sales], SAMEPERIODLASTYEAR('Dates'[Date]))
	measure 'Sales PM' = CALCULATE(SUM('Sales'[Amount]), PREVIOUSMONTH('Dates'[Date]))
	measure 'Sales 13w Ago' = CALCULATE([Total Sales], DATEADD('Dates'[Date], -13, WEEK))
"""
    with tempfile.NamedTemporaryFile("w", suffix=".tmdl", delete=False) as fh:
        fh.write(tmdl)
        path = fh.name
    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, path)
    m = layer.graph.models["sales"]
    ytd = m.metric("sales_ytd")
    assert ytd.type == "cumulative" and ytd.grain_to_date == "year"
    assert ytd.agg == "sum" and ytd.sql == "amount"
    mtd = m.metric("sales_mtd")
    assert mtd.type == "cumulative" and mtd.grain_to_date == "month"
    assert mtd.base_metric == "total_sales"
    ly = m.metric("sales_ly")
    assert ly.type == "time_comparison" and ly.comparison_type == "yoy"
    assert ly.calculation == "prior" and ly.base_metric == "total_sales"
    pm = m.metric("sales_pm")
    assert pm.type == "time_comparison" and pm.comparison_type == "mom"
    assert pm.agg == "sum" and pm.sql == "amount"
    w13 = m.metric("sales_13w_ago")
    assert w13.comparison_type == "prior_period"
    assert w13.time_offset == "13 week"


def test_holistics_aql_pipe_modifiers(spark):
    """AQL pipe modifiers map onto native metric types: running_total
    -> cumulative, period_to_date -> grain-to-date, relative_period ->
    prior-value time comparison (the reference passes the inner metric
    through, ref adapters/holistics.py:2071-2110)."""
    from sidemantic_spark.adapters import HolisticsAdapter

    layer = SparkSemanticLayer(spark)
    HolisticsAdapter().parse_text(layer, """
Model ho_orders {
  table_name: 'ho_orders_tbl'
  dimension id { type: 'number' primary_key: 'true' }
  dimension amount { type: 'number' }
  dimension created_at { type: 'datetime' }
}

Metric ho_running_rev {
  label: 'Running Revenue'
  definition: @aql sum(ho_orders.amount) | running_total(ho_orders.created_at) ;;
}

Metric ho_rev_ytd {
  definition: @aql sum(ho_orders.amount) | period_to_date('year', ho_orders.created_at) ;;
}

Metric ho_rev_prev_month {
  definition: @aql sum(ho_orders.amount) | relative_period(ho_orders.created_at, -1, 'month') ;;
}

Metric ho_rev_13w {
  definition: @aql sum(ho_orders.amount) | relative_period(ho_orders.created_at, -13, 'week') ;;
}
""")
    m = layer.graph.models["ho_orders"]
    rr = m.metric("ho_running_rev")
    assert rr.type == "cumulative" and rr.agg == "sum" and rr.sql == "amount"
    assert rr.label == "Running Revenue"
    ytd = m.metric("ho_rev_ytd")
    assert ytd.type == "cumulative" and ytd.grain_to_date == "year"
    pm = m.metric("ho_rev_prev_month")
    assert pm.type == "time_comparison" and pm.comparison_type == "mom"
    assert pm.calculation == "prior"
    w13 = m.metric("ho_rev_13w")
    assert w13.time_offset == "13 week"


def test_metricflow_offset_alias_native_comparison(spark):
    """Derived-metric offset_window aliases synthesize hidden
    prior-value time comparisons so the formula is queryable — the
    reference can only retain the offsets as round-trip metadata
    (ref adapters/metricflow.py:744-752)."""
    import duckdb as _duck
    import yaml

    from sidemantic_spark.adapters import MetricFlowAdapter

    con = _duck.connect()
    con.execute("""
        CREATE TABLE mf_daily AS SELECT * FROM (VALUES
            (1, 10.0, TIMESTAMP '2026-01-01'),
            (2, 20.0, TIMESTAMP '2026-01-02'),
            (3, 50.0, TIMESTAMP '2026-01-03')
        ) t(order_id, amount, ordered_at)
    """)
    spark.createDataFrame(con.table("mf_daily").arrow().to_pandas()) \
        .createOrReplaceTempView("mf_daily")
    layer = SparkSemanticLayer(spark)
    MetricFlowAdapter().parse(layer, yaml.safe_load("""
semantic_models:
  - name: mf_daily
    model: ref('mf_daily')
    entities:
      - name: order
        type: primary
        expr: order_id
    dimensions:
      - name: ordered_at
        type: time
        type_params:
          time_granularity: day
    measures:
      - name: order_total
        agg: sum
        expr: amount
metrics:
  - name: order_total_growth
    type: derived
    type_params:
      expr: order_total - total_1d_ago
      metrics:
        - name: order_total
          alias: total_1d_ago
          offset_window: 1 day
"""))
    # the alias registered as a hidden prior-value comparison
    shifted = layer.graph.metrics["total_1d_ago"]
    assert shifted.type == "time_comparison"
    assert shifted.comparison_type == "dod"
    assert shifted.calculation == "prior" and shifted.public is False
    growth = layer.graph.metrics["order_total_growth"]
    assert growth.expr == "order_total - total_1d_ago"
    rows = layer.query(
        metrics=["order_total_growth"],
        dimensions=["mf_daily.ordered_at__day AS d"],
        order_by=["d"],
    ).collect()
    vals = [None if r["order_total_growth"] is None
            else float(r["order_total_growth"]) for r in rows]
    # day1 has no prior -> NULL diff; day2: 20-10; day3: 50-20
    assert vals == [None, 10.0, 30.0]
    con.close()


def test_window_metrics_with_inline_agg_execute(spark):
    """Review regression: window-typed metrics carrying their own
    agg+sql (no base_metric) — the shape Cube rolling_window, DAX
    TOTALYTD, and AQL running_total import — must compile AND execute;
    qualified model.metric refs work in derived-over-window formulas."""
    import duckdb as _duck

    from sidemantic_spark.core.model import Dimension, Metric, Model

    con = _duck.connect()
    con.execute("""
        CREATE TABLE wq_orders AS SELECT * FROM (VALUES
            (1, 10.0, TIMESTAMP '2026-01-01'),
            (2, 20.0, TIMESTAMP '2026-01-02'),
            (3, 50.0, TIMESTAMP '2026-01-03')
        ) t(id, amount, created_at)
    """)
    spark.createDataFrame(con.table("wq_orders").arrow().to_pandas()) \
        .createOrReplaceTempView("wq_orders")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="wq_orders", table="wq_orders", primary_key="id",
        dimensions=[Dimension(name="created_at", type="time", granularity="day")],
        metrics=[
            Metric(name="revenue", agg="sum", sql="amount"),
            # inline agg+sql cumulative (no base_metric)
            Metric(name="running_rev", type="cumulative", agg="sum",
                   sql="amount"),
            Metric(name="rev_prior_day", type="time_comparison", agg="sum",
                   sql="amount", comparison_type="dod", calculation="prior"),
        ],
    ))
    rows = layer.query(
        metrics=["wq_orders.running_rev", "wq_orders.rev_prior_day"],
        dimensions=["wq_orders.created_at__day AS d"],
        order_by=["d"],
    ).collect()
    running = [float(r["running_rev"]) for r in rows]
    prior = [None if r["rev_prior_day"] is None else float(r["rev_prior_day"])
             for r in rows]
    assert running == [10.0, 30.0, 80.0]
    assert prior == [None, 10.0, 20.0]

    # derived formula over a window child using QUALIFIED refs
    layer.graph.add_metric(Metric(
        name="growth_q", type="derived",
        expr="wq_orders.revenue - wq_orders.rev_prior_day",
    ))
    rows = layer.query(metrics=["growth_q"],
                       dimensions=["wq_orders.created_at__day AS d"],
                       order_by=["d"]).collect()
    vals = [None if r["growth_q"] is None else float(r["growth_q"])
            for r in rows]
    assert vals == [None, 10.0, 30.0]
    con.close()


def test_tmdl_unfenced_multiline_var_return_datesytd(spark):
    """Unfenced multiline DAX stops at property lines instead of
    swallowing following measures; single VAR/RETURN formulas inline;
    CALCULATE(base, DATESYTD(...)) maps to grain-to-date cumulative."""
    import tempfile

    from sidemantic_spark.adapters import TmdlAdapter

    tmdl = """table Sales2
	column Id
		dataType: int64
		isKey
	column Amount
		dataType: double
	measure 'Total Sales' = SUM('Sales2'[Amount])
	measure Margin =
		SUMX (
		    Sales2,
		    Sales2[Amount]
		        * ( Sales2[Amount] - Sales2[Amount] )
		)
		formatString: $ #,##0
		lineageTag: abc
	measure 'Sales Growth' =
		var ly =[Sales LY] return DIVIDE( [Total Sales]- ly, ly )
		formatString: 0.00%
	measure 'Sales LY' = CALCULATE([Total Sales], SAMEPERIODLASTYEAR('Dates'[Date]))
	measure 'Value YTD' = CALCULATE([Total Sales], DATESYTD('Dates'[Date]))
"""
    with tempfile.NamedTemporaryFile("w", suffix=".tmdl", delete=False) as fh:
        fh.write(tmdl)
        path = fh.name
    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, path)
    m = layer.graph.models["sales2"]
    # the unfenced SUMX parsed as its own aggregate, props excluded,
    # and the following measures were NOT swallowed
    margin = m.metric("margin")
    assert margin.agg == "sum"
    assert "formatString" not in (margin.sql or "")
    assert m.metric("sales_ly") is not None
    assert m.metric("value_ytd") is not None
    # VAR/RETURN inlined into a derived safe-divide formula
    growth = m.metric("sales_growth")
    assert growth.type == "derived"
    assert "sales_ly" in growth.expr and "NULLIF" in growth.expr
    # DATESYTD -> grain-to-date cumulative
    ytd = m.metric("value_ytd")
    assert ytd.type == "cumulative" and ytd.grain_to_date == "year"
    assert ytd.base_metric == "total_sales"


def test_lookml_cross_file_extends_and_refinement_stacking(spark, tmp_path):
    """Cross-file project semantics (reference adapters/lookml.py
    project-merge paths): `extends` resolves across files, `view: +name`
    refinements stack in file order with last-wins overrides, and a
    refinement on the PARENT propagates through extends into the child."""
    from sidemantic_spark.adapters import LookMLAdapter

    (tmp_path / "01_base.view.lkml").write_text("""
view: base_events {
  extension: required
  sql_table_name: raw_events ;;
  dimension: kind { sql: ${TABLE}.kind ;; }
  measure: cnt { type: count }
}
""")
    (tmp_path / "02_concrete.view.lkml").write_text("""
view: events {
  extends: [base_events]
  sql_table_name: events_tbl ;;
  dimension: region { sql: ${TABLE}.region ;; }
}
""")
    (tmp_path / "03_refine.view.lkml").write_text("""
view: +events {
  dimension: kind { label: "Kind A" }
  measure: revenue { type: sum sql: ${TABLE}.amount ;; }
}
""")
    (tmp_path / "04_refine_again.view.lkml").write_text("""
view: +events {
  dimension: kind { label: "Kind B" }
}
""")
    (tmp_path / "05_parent_refine.view.lkml").write_text("""
view: +base_events {
  dimension: status { sql: ${TABLE}.status ;; }
}
""")
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_file(layer, str(tmp_path))
    ms = layer.graph.models
    # the abstract base stays out of the graph
    assert "base_events" not in ms
    events = ms["events"]
    # child overrides the inherited table binding
    assert events.table == "events_tbl"
    dims = {d.name: d for d in events.dimensions}
    # inherited + own + parent-refined dimensions all present
    assert set(dims) >= {"kind", "region", "status"}
    # refinements stack in file order: the LAST label wins
    assert dims["kind"].label == "Kind B"
    metrics = {m.name for m in events.metrics}
    assert {"cnt", "revenue"} <= metrics


def test_fidelity_report_names_translated_constructs(spark):
    """Round-5 verdict task: constructs translated by the round-4
    adapter deepening (AQL pipes, compound DAX, LookML liquid) are
    TAGGED at import and the fidelity report lists per-construct status,
    so an export regression is attributable to a named construct."""
    from sidemantic_spark.adapters import HolisticsAdapter, LookMLAdapter
    from sidemantic_spark.adapters.fidelity import diff_graphs

    layer = SparkSemanticLayer(spark)
    HolisticsAdapter().parse_text(layer, """
Model fid_orders {
  type: 'table'
  table_name: 'fid_orders'
  dimension status { type: 'text' }
  dimension amount { type: 'number' }
}

Metric fid_paid_rev {
  definition: @aql fid_orders | where(fid_orders.status = 'paid') | sum(fid_orders.amount) ;;
}

Metric fid_run_total {
  definition: @aql sum(fid_orders.amount) | running_total(fid_orders.status) ;;
}
""")
    m = layer.graph.models["fid_orders"]
    assert (m.metric("fid_paid_rev").meta or {}).get("construct") == "aql:aggregate"
    assert (m.metric("fid_run_total").meta or {}).get("construct") == "aql:running_total"

    # liquid tagging
    lk = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(lk, """
view: fid_events {
  sql_table_name: fid_events ;;
  dimension: region {
    sql: {% if prod._parameter_value == 'yes' %}${TABLE}.region{% else %}${TABLE}.region_test{% endif %} ;;
  }
  dimension: plain { sql: ${TABLE}.plain ;; }
  measure: n { type: count }
}
""")
    ev = lk.graph.models["fid_events"]
    assert (ev.dimension("region").meta or {}).get("construct") == "lookml:liquid"
    assert ev.dimension("plain").meta is None

    # the report: identical graphs -> every tagged construct "kept";
    # a graph missing one tagged metric -> that construct "dropped"
    rep = diff_graphs(layer.graph, layer.graph, "native")
    assert rep.constructs["aql:aggregate"]["fid_orders.fid_paid_rev"] == "kept"
    assert rep.constructs["aql:running_total"]["fid_orders.fid_run_total"] == "kept"

    import copy

    lossy = copy.deepcopy(layer.graph)
    lm = lossy.models["fid_orders"]
    lm.metrics = [x for x in lm.metrics if x.name != "fid_run_total"]
    lm.reindex()
    rep2 = diff_graphs(layer.graph, lossy, "native")
    assert rep2.constructs["aql:running_total"]["fid_orders.fid_run_total"] == "dropped"
    assert any("construct aql:running_total" in line for line in rep2.summary_lines())
    assert rep2.to_dict()["constructs"]["aql:aggregate"]


def test_tmdl_dax_construct_tags(spark, tmp_path):
    from sidemantic_spark.adapters import ADAPTERS

    p = tmp_path / "FidSales.tmdl"
    p.write_text("""table FidSales
    measure 'Total Amount' = SUM('FidSales'[amount])
    measure 'Amount YTD' = TOTALYTD(SUM('FidSales'[amount]), 'FidSales'[order_date])
    measure 'Share' = DIVIDE([Total Amount], [Total Amount])
    measure 'Weird' = GENERATESERIES(1, 10)
    column amount
        dataType: double
    column order_date
        dataType: dateTime
    partition FidSales = m
        source = x
""")
    layer = SparkSemanticLayer(spark)
    ADAPTERS["tmdl"]().parse_file(layer, str(p))
    m = layer.graph.models["fidsales"]
    tags = {x.name: (x.meta or {}).get("construct") for x in m.metrics}
    assert tags.get("total_amount") == "dax:aggregate"
    assert tags.get("amount_ytd") == "dax:total_to_date"
    assert tags.get("share") == "dax:divide"
    assert tags.get("weird") == "dax:opaque"


def test_lookml_explore_from_aliasing(spark):
    """`from:` aliases on explores and joins resolve to the actual view
    in sql_on before relationship extraction (reference
    tests/adapters/lookml/test_edge_cases.py:113-140)."""
    from sidemantic_spark.adapters import LookMLAdapter

    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: alias_fact_orders {
  sql_table_name: orders ;;
  dimension: customer_id { sql: ${TABLE}.customer_id ;; }
  measure: n { type: count }
}
view: alias_dim_customers {
  sql_table_name: customers ;;
  dimension: id { primary_key: yes sql: ${TABLE}.id ;; }
}
explore: alias_orders_e {
  from: alias_fact_orders
  join: alias_dim_customers {
    relationship: many_to_one
    sql_on: ${alias_orders_e.customer_id} = ${alias_dim_customers.id} ;;
  }
  join: customer_orders {
    from: alias_fact_orders
    relationship: one_to_many
    sql_on: ${alias_dim_customers.id} = ${customer_orders.customer_id} ;;
  }
}
""")
    fo = layer.graph.models["alias_fact_orders"]
    rels = {(r.name, r.type) for r in fo.relationships}
    assert ("alias_dim_customers", "many_to_one") in rels
    dc = layer.graph.models["alias_dim_customers"]
    assert {(r.name, r.type) for r in dc.relationships} == {
        ("alias_fact_orders", "one_to_many")}


def test_malloy_dot_method_aggregates_and_timeframes(spark):
    """Malloy's canonical measure forms (reference
    tests/adapters/malloy/test_audit_regressions.py): dot-method
    aggregates map to plain aggs, arithmetic over aggregates becomes a
    complete-SQL expression, a { where: } filter survives, and trailing
    timeframes infer time dimensions with granularity — all executed."""
    from sidemantic_spark.adapters import MalloyAdapter

    spark.createDataFrame(
        [(1, "paid", 100.0, "2024-02-03"), (2, "open", 50.0, "2024-03-04")],
        "id int, status string, amount double, d string",
    ).selectExpr("id", "status", "amount",
                 "CAST(d AS TIMESTAMP) AS created_at") \
        .createOrReplaceTempView("mdot_orders_t")
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: mdot_orders is table('mdot_orders_t') extend {
  primary_key: id
  measure: total_rev is amount.sum()
  measure: aov is amount.sum() / count()
  measure: big_rev is amount.sum() { where: status = 'paid' }
  dimension: created_month is created_at.month
}
""")
    m = layer.graph.models["mdot_orders"]
    assert m.metric("total_rev").agg == "sum"
    assert m.metric("aov").sql_is_complete
    assert "SUM(amount)" in m.metric("aov").sql
    assert m.metric("big_rev").filters
    cm = m.dimension("created_month")
    assert cm.type == "time" and cm.granularity == "month"
    row = layer.query(
        metrics=["mdot_orders.total_rev", "mdot_orders.aov",
                 "mdot_orders.big_rev"]
    ).collect()[0]
    assert (row[0], row[1], row[2]) == (150.0, 75.0, 100.0)


@pytest.mark.skipif(not os.path.isdir(FIXROOT), reason="reference fixtures unavailable")
def test_lookml_explore_mandatory_filters_become_segments(spark):
    """Explore mandatory filters materialize as opt-in segments on the
    base model — BOTH forms: sql_always_where (field refs collapse to
    {model}.col) and always_filter (view qualifier stripped), named per
    explore for uniqueness (reference adapters/lookml.py:3891-3940,
    tests/adapters/lookml/test_edge_cases.py:128-170). The explore
    contract keeps them as mandatory filters too — segments are opt-in,
    the explore applies them always."""
    import os

    from sidemantic_spark.adapters import LookMLAdapter

    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_file(
        layer, os.path.join(FIXROOT, "lookml", "edge_cases_explores.lkml")
    )
    fact_orders = layer.graph.models["fact_orders"]
    seg_names = [s.name for s in fact_orders.segments]

    # sql_always_where: ${fact_orders.status} != 'deleted'
    assert "_sql_always_where_orders" in seg_names
    saw = fact_orders.segment("_sql_always_where_orders")
    assert "deleted" in saw.sql
    assert "${fact_orders.status}" not in saw.sql
    assert "{model}.status" in saw.sql

    # always_filter: { filters: [fact_orders.created_date: "last 365 days"] }
    af = fact_orders.segment("_always_filter_orders_fact_orders.created_date")
    assert af is not None
    # view qualifier stripped: {model}.created_date, never
    # {model}.fact_orders.created_date
    assert "fact_orders.created_date" not in af.sql
    assert "created_date" in af.sql
    # the relative-date value maps onto the engine's native
    # relative-date filter (the reference warns and emits a literal)
    assert "last 365 days" in af.sql

    # the explore contract carries both as mandatory filters
    explore = layer.graph.explores["orders"]
    assert any("deleted" in f for f in explore.filters)
    assert any("created_date" in f for f in explore.filters)


def test_cube_preagg_refresh_key_indexes_build_range(spark):
    """Cube pre-aggregation long tail (ref adapters/cube.py:1192-1240):
    refresh_key -> PreAggregation.refresh_key driving auto refresh-mode
    resolution (ref core/preagg_management.py:42-55); indexes -> the
    Spark bucketed layout; build_range bounds the materialization scan;
    everything round-trips through export."""
    from sidemantic_spark.adapters.cube import CubeAdapter, export_cube
    from sidemantic_spark.models.tpch import register_tables
    from sidemantic_spark.preagg.manager import (
        resolve_refresh_mode,
        rollup_select_sql,
    )

    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, {"cubes": [{
        "name": "orders_cube", "sql_table": "orders",
        "measures": [{"name": "revenue", "type": "sum", "sql": "o_totalprice"}],
        "dimensions": [
            {"name": "status", "type": "string", "sql": "o_orderstatus"},
            {"name": "order_date", "type": "time", "sql": "o_orderdate"},
        ],
        "pre_aggregations": [{
            "name": "daily", "measures": ["revenue"], "dimensions": ["status"],
            "time_dimension": "order_date", "granularity": "day",
            "partition_granularity": "month",
            "refresh_key": {"every": "1 hour", "incremental": True,
                            "update_window": "7 day"},
            "indexes": [{"name": "s_idx", "columns": ["status"]}],
            "build_range_start": {"sql": "DATE '1995-01-01'"},
            "build_range_end": {"sql": "DATE '1996-01-01'"},
            "scheduled_refresh": True,
        }],
    }]})
    model = layer.graph.get_model("orders_cube")
    pa = model.pre_aggregations[0]
    assert pa.refresh_key.every == "1 hour"
    assert pa.refresh_key.incremental and pa.refresh_key.update_window == "7 day"
    assert pa.bucket_by == ["status"] and pa.buckets
    assert pa.scheduled_refresh
    assert resolve_refresh_mode(pa) == "incremental"
    assert resolve_refresh_mode(pa, "full") == "full"
    with pytest.raises(ValueError, match="invalid refresh mode"):
        resolve_refresh_mode(pa, "sideways")
    # build-range bounds land in the materialization scan
    mat = rollup_select_sql(model, pa)
    assert "o_orderdate >= (DATE '1995-01-01')" in mat
    assert "o_orderdate < (DATE '1996-01-01')" in mat
    # export round-trips the policy
    out = export_cube(layer.graph)["cubes"][0]["pre_aggregations"][0]
    assert out["refresh_key"]["update_window"] == "7 day"
    assert out["build_range_start"] == {"sql": "DATE '1995-01-01'"}
    assert out["indexes"][0]["columns"] == ["status"]
    assert out["scheduled_refresh"] is True


def test_cube_policy_refresh_executes(spark, sf_dir, tmp_path):
    """`PreAggManager.refresh(mode='auto')` resolves incremental from
    the refresh_key and actually rewrites only the update window via
    dynamic partition overwrite (no bucket_by so the partitioned
    parquet path is exercised)."""
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.preagg.matcher import PreAggregation, RefreshKey

    layer = build_layer(spark, sf_dir)
    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [PreAggregation(
        name="policy_daily",
        measures=["revenue"],
        dimensions=["status"],
        time_dimension="order_date",
        granularity="day",
        partition_granularity="month",
        refresh_key=RefreshKey(every="1 hour", incremental=True,
                               update_window="30 day"),
    )]
    layer.preaggs.base_path = str(tmp_path)
    layer.preaggs.materialize("orders")
    assert layer.preaggs.refresh("orders", "policy_daily") == "incremental"
    # full override still works
    assert layer.preaggs.refresh("orders", "policy_daily", mode="full") == "full"
    # the rollup still routes + answers after both refreshes
    sql = layer.compile(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert "used_preagg=orders_preagg_policy_daily" in sql
    assert layer.query(metrics=["orders.revenue"],
                       dimensions=["orders.status"]).count() == 3


def test_cube_case_dimension_compiles_to_sql_case(spark):
    """Cube case/when/else dimensions become SQL CASE expressions
    (ref adapters/cube.py:735-748) — without this the dimension
    resolves to a nonexistent bare column."""
    from sidemantic_spark.adapters.cube import CubeAdapter

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW case_src AS "
        "SELECT * FROM VALUES (1, 120.0), (2, 40.0) t(id, amount)"
    )
    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, {"cubes": [{
        "name": "sales", "sql_table": "case_src",
        "measures": [{"name": "total", "type": "sum", "sql": "amount"}],
        "dimensions": [
            {"name": "size_bucket", "type": "string", "case": {
                "when": [{"sql": "{CUBE}.amount >= 100", "label": "big"}],
                "else": {"label": "small"},
            }},
            {"name": "masked", "type": "string", "sql": "id",
             "mask": "***", "latitude": "1.0"},
        ],
    }]})
    model = layer.graph.get_model("sales")
    dim = model.dimension("size_bucket")
    assert dim.sql and dim.sql.startswith("CASE WHEN")
    assert model.dimension("masked").meta["mask"] == "***"
    rows = {
        (r["size_bucket"], float(r["total"]))
        for r in layer.query(metrics=["sales.total"],
                             dimensions=["sales.size_bucket"]).collect()
    }
    assert rows == {("big", 120.0), ("small", 40.0)}


def test_omni_timeframes_and_long_tail_measures(spark):
    """Omni timeframes -> base grain + supported_granularities (ref
    adapters/omni.py:292-316); percentile / sum_distinct_on /
    median_distinct_on / list measures translate to EXECUTABLE
    complete-SQL aggregates (the reference leaves them agg-less with
    metadata; this engine runs them — quantile interpolation and
    fan-out-safe keyed-distinct sums)."""
    from sidemantic_spark.adapters.omni import OmniAdapter

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW omni_src AS SELECT * FROM VALUES "
        "(1, 'a', 10.0, DATE '2024-01-01'), (1, 'a', 10.0, DATE '2024-01-02'), "
        "(2, 'b', 30.0, DATE '2024-02-01'), (3, 'b', 50.0, DATE '2024-02-02') "
        "t(k, grp, v, d)"
    )
    layer = SparkSemanticLayer(spark)
    import yaml as _yaml

    OmniAdapter().parse(layer, _yaml.safe_load("""
name: omni_m
table_name: omni_src
dimensions:
  k:
    primary_key: true
  grp: {}
  d:
    timeframes: [date, month, year]
measures:
  p90_v:
    aggregate_type: percentile
    percentile: 90
    sql: "${omni_m.v}"
  dedup_sum:
    aggregate_type: sum_distinct_on
    sql: "${omni_m.v}"
    custom_primary_key_sql: "${omni_m.k}"
  med_dedup:
    aggregate_type: median_distinct_on
    sql: "${omni_m.v}"
    custom_primary_key_sql: "${omni_m.k}"
  grp_list:
    aggregate_type: list
    sql: "${omni_m.grp}"
"""))
    model = layer.graph.models["omni_m"]
    d = model.dimension("d")
    assert d.type == "time" and d.granularity == "day"
    assert d.supported_granularities == ["day", "month", "year"]
    for mname in ("p90_v", "dedup_sum", "med_dedup", "grp_list"):
        met = model.metric(mname)
        assert met.sql_is_complete, mname
        assert met.meta["aggregate_type"], mname

    row = layer.query(
        metrics=["omni_m.dedup_sum", "omni_m.med_dedup", "omni_m.grp_list"],
    ).collect()[0]
    # keyed dedup: k=1 contributes 10 once -> 10+30+50
    assert float(row["dedup_sum"]) == 90.0
    # median over deduped values {10, 30, 50}
    assert float(row["med_dedup"]) == 30.0
    assert row["grp_list"] == "a, b"
    p90 = layer.query(metrics=["omni_m.p90_v"]).collect()[0][0]
    # PERCENTILE over raw rows [10,10,30,50]: 0.9*(4-1)=2.7 -> 30+0.7*20
    assert abs(float(p90) - 44.0) < 1e-6


def test_omni_time_comparison_measure_pattern(spark, sf_dir, duck):
    """Omni's offset-measure pattern (date_offset_from_query +
    cancel_query_filter, ref adapters/omni.py:350-380) imports as a
    time_comparison metric and EXECUTES through the window plan."""
    import yaml as _yaml

    from sidemantic_spark.adapters.omni import OmniAdapter
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    OmniAdapter().parse(layer, _yaml.safe_load("""
name: omni_tc
table_name: orders
dimensions:
  k:
    primary_key: true
    sql: "${omni_tc.o_orderkey}"
  order_date:
    timeframes: [date, month]
    sql: "${omni_tc.o_orderdate}"
measures:
  revenue:
    aggregate_type: sum
    sql: "${omni_tc.o_totalprice}"
  revenue_yoy:
    aggregate_type: sum
    sql: "${omni_tc.o_totalprice}"
    filters:
      order_date:
        date_offset_from_query: 1 year
        cancel_query_filter: true
"""))
    met = layer.graph.models["omni_tc"].metric("revenue_yoy")
    assert met.type == "time_comparison"
    assert met.base_metric == "revenue"
    assert met.comparison_type == "yoy"
    assert met.calculation == "difference"
    df = layer.query(
        metrics=["omni_tc.revenue", "omni_tc.revenue_yoy"],
        dimensions=["omni_tc.order_date__year AS y"],
    )
    rows = {r["y"].year: (r["revenue"], r["revenue_yoy"]) for r in df.collect()}
    # the shifted series is the prior year's revenue (difference calc
    # yields current - prior; spot-check one interior year)
    years = sorted(rows)
    mid = years[len(years) // 2]
    prior_rev = rows[mid - 1][0]
    assert rows[mid][1] is not None
    assert abs(float(rows[mid][1]) - (float(rows[mid][0]) - float(prior_rev))) < 1e-6


def test_omni_percentile_zero_and_synonyms(spark):
    """percentile: 0 means the minimum, not the median (falsy-coercion
    guard); synonyms land on the first-class field, not meta."""
    import yaml as _yaml

    from sidemantic_spark.adapters.omni import OmniAdapter

    spark.sql("CREATE OR REPLACE TEMP VIEW omni_p0 AS "
              "SELECT * FROM VALUES (1, 10.0),(2, 30.0),(3, 50.0) t(id, v)")
    layer = SparkSemanticLayer(spark)
    OmniAdapter().parse(layer, _yaml.safe_load("""
name: omni_p0
table_name: omni_p0
dimensions:
  id:
    primary_key: true
    synonyms: [identifier, key]
measures:
  p0_v:
    aggregate_type: percentile
    percentile: 0
    sql: "${omni_p0.v}"
"""))
    model = layer.graph.models["omni_p0"]
    assert model.dimension("id").synonyms == ["identifier", "key"]
    assert float(layer.query(metrics=["omni_p0.p0_v"]).collect()[0][0]) == 10.0


def test_count_distinct_pk_default_does_not_contaminate_export(spark):
    """The pk default resolves at generation time only: the authored
    Metric keeps sql=None and exports round-trip what the author wrote."""
    from sidemantic_spark.adapters.cube import export_cube
    from sidemantic_spark.core.model import Dimension, Metric, Model

    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="exp_m", table="t", primary_key="pk_col",
        dimensions=[Dimension(name="pk_col")],
        metrics=[Metric(name="entities", agg="count_distinct")],
    ))
    met = layer.graph.models["exp_m"].metric("entities")
    assert met.sql is None
    out = export_cube(layer.graph)["cubes"][0]
    m_out = next(m for m in out["measures"] if m["name"] == "entities")
    assert "sql" not in m_out


def test_tmdl_property_names_case_insensitive(spark):
    """TMDL property names are case-insensitive (the reference's
    tokenizer lowercases before lookup): SourceColumn/DataType/IsKey
    spellings must parse identically to the canonical camelCase."""
    from sidemantic_spark.adapters.tmdl import TmdlAdapter

    layer = SparkSemanticLayer(spark)
    import tempfile, os as _os
    d = tempfile.mkdtemp()
    with open(_os.path.join(d, "sales.tmdl"), "w") as fh:
        fh.write("""
table Sales
	column Id
		DataType: int64
		IsKey
		SourceColumn: id_raw
	column Region
		dataType: string
		sourceColumn: region_raw
	measure Total = SUM(Sales[Amount])
""")
    TmdlAdapter().parse_file(layer, _os.path.join(d, "sales.tmdl"))
    model = layer.graph.models["sales"]
    assert model.primary_key == "id"
    assert model.dimension("id").sql == "id_raw"
    assert model.dimension("region").sql == "region_raw"


def test_lookml_fiscal_timeframes(spark):
    """dimension_group fiscal timeframes honor fiscal_month_offset (ref
    adapters/lookml.py:2765-2857): truncations shift by the offset so
    calendar DATE_TRUNC lands on fiscal boundaries; extracted parts use
    PMOD month arithmetic. Offset 3 = fiscal year starts in April."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_fiscal {
  sql_table_name: adapter_orders ;;
  dimension: order_id { type: number  primary_key: yes  sql: ${TABLE}.order_id ;; }
  dimension_group: created {
    type: time
    timeframes: [date, month, year, fiscal_quarter, fiscal_year, fiscal_month_num, fiscal_quarter_of_year]
    fiscal_month_offset: 3
    sql: ${TABLE}.created_at ;;
  }
  measure: order_count { type: count }
}
""")
    m = layer.graph.models["lk_fiscal"]
    fq = m.dimension("created_fiscal_quarter")
    assert fq.type == "time" and fq.granularity == "quarter"
    fy = m.dimension("created_fiscal_year")
    assert fy.type == "time" and fy.granularity == "year"
    # Jan/Feb 2026 with offset 3 fall in fiscal month 10/11 of the
    # fiscal year that started April 2025 (fiscal Q4 of that year)
    rows = layer.query(
        metrics=["lk_fiscal.order_count"],
        dimensions=["lk_fiscal.created_fiscal_month_num",
                    "lk_fiscal.created_fiscal_year"],
        order_by=["created_fiscal_month_num"],
    ).collect()
    got = [(int(r[0]), str(r[1])[:10], r[2]) for r in rows]
    assert got == [(10, "2025-01-01", 1), (11, "2025-01-01", 2)]
    con.close()


def test_lookml_period_over_period(spark):
    """measure type period_over_period + based_on imports as the native
    time_comparison metric (ref adapters/lookml.py:3048-3078)."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_pop {
  sql_table_name: adapter_orders ;;
  dimension: order_id { type: number  primary_key: yes  sql: ${TABLE}.order_id ;; }
  dimension_group: created { type: time  sql: ${TABLE}.created_at ;; }
  measure: revenue { type: sum  sql: ${TABLE}.amount ;; }
  measure: rev_mom {
    type: period_over_period
    based_on: revenue
    period: month
    kind: difference
  }
}
""")
    m = layer.graph.models["lk_pop"].metric("rev_mom")
    assert m.type == "time_comparison"
    assert m.base_metric == "revenue"
    assert m.comparison_type == "mom"
    assert m.calculation == "difference"
    rows = layer.query(
        metrics=["lk_pop.revenue", "lk_pop.rev_mom"],
        dimensions=["lk_pop.created__month"],
        order_by=["created__month"],
    ).collect()
    # Jan 100 -> Feb 200: difference vs prior month = 100
    assert [r["rev_mom"] for r in rows] == [None, 100]
    con.close()


def test_malloy_composite_key_join(spark):
    """`join_one: t on t.a = a and t.b = b` imports as a composite-key
    relationship (every equality participates in the join), matching
    the reference's _extract_on_condition_keys + composite_keys."""
    import pandas as pd

    from sidemantic_spark.adapters import MalloyAdapter

    spark.createDataFrame(pd.DataFrame({
        "region": ["east", "east", "west"],
        "day": ["d1", "d2", "d1"],
        "amount": [10, 20, 40],
    })).createOrReplaceTempView("mc_sales")
    spark.createDataFrame(pd.DataFrame({
        "region": ["east", "east", "west"],
        "day": ["d1", "d2", "d1"],
        "manager": ["ann", "bob", "cee"],
    })).createOrReplaceTempView("mc_staff")
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: mc_staff is duckdb.table('mc_staff') extend {
  dimension:
    manager is manager
}

source: mc_sales is duckdb.table('mc_sales') extend {
  join_one: mc_staff on mc_staff.region = region and mc_staff.day = day

  measure:
    total is sum(amount)
}
""")
    rel = layer.graph.models["mc_sales"].relationships[0]
    assert rel.name == "mc_staff"
    assert rel.fk_list() == ["region", "day"]
    rows = layer.query(
        metrics=["mc_sales.total"],
        dimensions=["mc_staff.manager"],
        order_by=["manager"],
    ).collect()
    assert [(r[0], r[1]) for r in rows] == [("ann", 10), ("bob", 20), ("cee", 40)]


def test_malloy_timezone_statement(spark):
    """source-level `timezone:` is preserved as model metadata (the
    reference stashes it in metadata too; bucketing uses the engine's
    per-query timezone)."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: m_tz is duckdb.table('adapter_orders') extend {
  timezone: 'America/Los_Angeles'
  dimension:
    status is status
  measure:
    order_count is count()
}
""")
    assert layer.graph.models["m_tz"].meta["timezone"] == "America/Los_Angeles"
    con.close()


def test_cube_view_default_filters(spark):
    """view default_filters pre-apply when the caller sends no filters
    and are overridable by explicit ones — a real implementation of a
    key the reference imports as inert metadata with a warning."""
    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: dfv_orders
    sql_table: adapter_orders
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: order_count
        type: count
views:
  - name: dfv_view
    cubes:
      - join_path: dfv_orders
        includes: "*"
    default_filters:
      - member: "${CUBE}.status"
        operator: equals
        values: [paid]
"""))
    exp = layer.graph.explores["dfv_view"]
    assert exp.default_filters == ["dfv_orders.status = 'paid'"]
    assert layer.query(
        metrics=["dfv_orders.order_count"], explore="dfv_view"
    ).collect()[0][0] == 2
    assert layer.query(
        metrics=["dfv_orders.order_count"], explore="dfv_view",
        filters=["dfv_orders.status = 'refunded'"],
    ).collect()[0][0] == 1
    con.close()


def test_cube_access_policy_operator_map():
    """The full Cube row_level operator vocabulary translates to SQL
    fragments with literal escaping; dynamic (string) values are
    unmapped, never iterated char-by-char (ref tests/adapters/
    test_security_import.py)."""
    from sidemantic_spark.adapters.cube import _access_policy_to_security

    policy, unmapped = _access_policy_to_security([{
        "role": "*",
        "row_level": {"filters": [
            {"member": "{CUBE}.region", "operator": "equals", "values": ["US"]},
            {"member": "status", "operator": "in", "values": ["active", "trial"]},
        ]},
    }])
    assert policy.row_filters == ["region = 'US' AND status IN ('active', 'trial')"]
    assert unmapped == set()

    policy, _ = _access_policy_to_security(
        [{"row_level": {"filters": [
            {"member": "name", "operator": "equals", "values": ["O'Brien"]}]}}]
    )
    assert policy.row_filters == ["name = 'O''Brien'"]

    for operator, values, expected in [
        ("notEquals", ["x"], "col != 'x'"),
        ("notIn", ["a", "b"], "col NOT IN ('a', 'b')"),
        ("gt", [5], "col > 5"),
        ("set", [], "col IS NOT NULL"),
        ("notSet", [], "col IS NULL"),
        ("contains", ["ab"], "col LIKE '%ab%'"),
        ("notContains", ["ab"], "col NOT LIKE '%ab%'"),
        ("startsWith", ["ab"], "col LIKE 'ab%'"),
        ("endsWith", ["ab"], "col LIKE '%ab'"),
    ]:
        policy, _ = _access_policy_to_security(
            [{"row_level": {"filters": [
                {"member": "col", "operator": operator, "values": values}]}}]
        )
        assert policy is not None and policy.row_filters == [expected], operator

    # OR groups parenthesized (later row filters AND together)
    policy, _ = _access_policy_to_security([{
        "row_level": {"filters_type": "or", "filters": [
            {"member": "a", "operator": "equals", "values": ["1"]},
            {"member": "b", "operator": "equals", "values": ["2"]},
        ]},
    }])
    assert policy.row_filters == ["(a = '1' OR b = '2')"]

    # dynamic values -> unmapped, NOT a char-exploded IN list
    policy, unmapped = _access_policy_to_security(
        [{"row_level": {"filters": [
            {"member": "city", "operator": "in",
             "values": "security_context.x"}]}}]
    )
    assert policy is None
    assert "operator:in" in unmapped

    # role/conditions gating reported as unmapped but filters still apply
    policy, unmapped = _access_policy_to_security([{
        "role": "manager",
        "conditions": [{"if": "something"}],
        "row_level": {"filters": [
            {"member": "x", "operator": "equals", "values": ["1"]}]},
    }])
    assert policy is not None and {"role", "conditions"} <= unmapped


def test_cube_access_policy_enforced_end_to_end(spark):
    """A cube-level access_policy imports as an enforced
    SecurityPolicy: queries over the imported model are row-filtered
    (the reference imports this as security too — the silent
    alternative is an UNSECURED model from a secured Cube project)."""
    import warnings as _warnings

    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: ap_orders
    sql_table: adapter_orders
    access_policy:
      - role: "*"
        row_level:
          filters:
            - member: "{CUBE}.status"
              operator: equals
              values: [paid]
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: order_count
        type: count
"""))
    m = layer.graph.models["ap_orders"]
    assert m.security is not None
    assert m.security.row_filters == ["status = 'paid'"]
    assert m.meta["access_policy"]  # preserved for round-trip
    # r12 deny-by-default (ref test_security_enforcement.py:137-148):
    # a secured model with NO user context at all refuses; an empty
    # dict is "provided but empty" and the static filter applies
    import pytest as _pytest

    from sidemantic_spark.core.security import SecurityError

    with _pytest.raises(SecurityError):
        layer.query(metrics=["ap_orders.order_count"])
    n = layer.query(
        metrics=["ap_orders.order_count"], user={}
    ).collect()[0][0]
    assert n == 2  # refunded row filtered out
    con.close()


def test_cube_rank_measure_is_real_rank(spark):
    """type: rank measures import as a real windowed RANK over the
    ordered base measure — the reference imports these as a lossy COUNT
    fallback (ref adapters/cube.py:885-903); the engine's
    derived-over-aggregate windows can do the real thing."""
    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: rank_orders
    sql_table: adapter_orders
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: revenue
        type: sum
        sql: amount
      - name: revenue_rank
        type: rank
        multi_stage: true
        order_by:
          - sql: "{revenue}"
            dir: desc
"""))
    m = layer.graph.models["rank_orders"].metric("revenue_rank")
    assert m.type == "derived" and "RANK() OVER" in m.expr
    assert m.meta["cube_rank"]["multi_stage"] is True
    rows = layer.query(
        metrics=["rank_orders.revenue", "rank_orders.revenue_rank"],
        dimensions=["rank_orders.status"],
        order_by=["status"],
    ).collect()
    # paid: 250 -> rank 1; refunded: 50 -> rank 2
    assert [tuple(r) for r in rows] == [("paid", 250, 1), ("refunded", 50, 2)]
    con.close()


def test_cube_unknown_relationship_warns_and_defaults(spark):
    """An unknown Cube join relationship warns and defaults to
    many_to_one instead of failing the whole project import (ref
    tests/adapters/cube/test_correctness_fixes.py:225)."""
    import warnings as _warnings

    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    layer = SparkSemanticLayer(spark)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: ur_orders
    sql_table: t
    joins:
      - name: other
        relationship: weird_kind
        sql: "{CUBE}.other_id = {other}.id"
    measures:
      - name: n
        type: count
"""))
    rel = layer.graph.models["ur_orders"].relationships[0]
    assert rel.type == "many_to_one"
    assert any("weird_kind" in str(w.message) for w in caught)


def test_malloy_compound_aggregates_and_chained_filters(spark):
    """Compound aggregate arithmetic (sum(a)/sum(b), sum/count, with a
    newline before the operator) must import as complete-SQL expression
    measures — NOT greedily split into a corrupt single aggregate — and
    chained { where: } refinements must AND together (ref
    tests/adapters/malloy/test_audit_regressions.py)."""
    from sidemantic_spark.adapters import MalloyAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: mar_orders is duckdb.table('adapter_orders') extend {
  dimension:
    status is status

  measure:
    unit_margin is sum(amount) / sum(cost)
    avg_amount is sum(amount)
      / count()
    paid_feb is count() { where: status = 'paid' } { where: amount > 120 }
}
""")
    m = layer.graph.models["mar_orders"]
    assert m.metric("unit_margin").sql_is_complete
    assert m.metric("unit_margin").agg is None
    assert m.metric("paid_feb").filters == [
        "mar_orders.status = 'paid'", "mar_orders.amount > 120"]
    r = layer.query(metrics=["mar_orders.unit_margin", "mar_orders.avg_amount",
                             "mar_orders.paid_feb"]).collect()[0]
    # amounts 100+150+50=300, costs 10+20+5=35, rows 3; paid & >120 -> 1
    assert abs(float(r["unit_margin"]) - 300 / 35) < 1e-9
    assert float(r["avg_amount"]) == 100.0
    assert r["paid_feb"] == 1
    con.close()


def test_malloy_duration_arithmetic_dimension_is_time(spark):
    """`created_at + 1 day` stays a time dimension (ref
    test_duration_arithmetic_is_time_not_numeric)."""
    from sidemantic_spark.adapters import MalloyAdapter

    layer = SparkSemanticLayer(spark)
    MalloyAdapter().parse_text(layer, """
source: dur_o is duckdb.table('t') extend {
  dimension:
    ship_date is created_at + 1 day
}
""")
    assert layer.graph.models["dur_o"].dimension("ship_date").type == "time"


def test_malloy_transforms_ignore_strings(spark):
    """Scalar expression transforms (@date literals, ::casts, fn!type
    annotations, now) must not rewrite quoted string contents (ref
    tests/adapters/malloy/test_edge_cases.py:8)."""
    from sidemantic_spark.adapters.malloy import _malloy_expr_to_sql as t

    assert t("'@2024-01-01'") == "'@2024-01-01'"
    assert t("note = '@2024-01-01'") == "note = '@2024-01-01'"
    assert t("'timestamp_seconds!timestamp(x)'") == "'timestamp_seconds!timestamp(x)'"
    assert t("note = '@2024-01-01' AND created_at >= @2024-01-01") == (
        "note = '@2024-01-01' AND created_at >= DATE '2024-01-01'"
    )
    assert t("timestamp_seconds!timestamp(x)") == "timestamp_seconds(x)"
    assert t("\"name ~ r'x'\"") == "\"name ~ r'x'\""
    assert t("a != b(1)") == "a != b(1)"
    assert t("concat(note, ' ?? x.sum() @2020 ')") == "concat(note, ' ?? x.sum() @2020 ')"


def test_lookml_tier_and_location_dimensions(spark):
    """type: tier imports as a REAL CASE bucketing with Looker's label
    styles (the reference keeps the raw value and loses tier
    semantics); type: location composes sql_latitude/sql_longitude
    into a queryable lat,lon value."""
    from sidemantic_spark.adapters import LookMLAdapter

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    LookMLAdapter().parse_text(layer, """
view: lk_tier {
  sql_table_name: adapter_orders ;;
  dimension: order_id { type: number  primary_key: yes  sql: ${TABLE}.order_id ;; }
  dimension: amount { type: number  sql: ${TABLE}.amount ;; }
  dimension: amount_tier {
    type: tier
    tiers: [60, 120]
    style: integer
    sql: ${amount} ;;
  }
  dimension: loc {
    type: location
    sql_latitude: ${TABLE}.cost ;;
    sql_longitude: ${TABLE}.amount ;;
  }
  measure: n { type: count }
}
""")
    m = layer.graph.models["lk_tier"]
    tier = m.dimension("amount_tier")
    assert tier.type == "categorical"
    assert "CASE" in tier.sql and "Below 60" in tier.sql and "60 to 119" in tier.sql
    rows = {r[0]: r[1] for r in layer.query(
        metrics=["lk_tier.n"], dimensions=["lk_tier.amount_tier"]).collect()}
    # amounts 100, 150, 50 -> one per bucket
    assert rows == {"Below 60": 1, "60 to 119": 1, "120 or Above": 1}
    loc = m.dimension("loc")
    assert "CONCAT" in loc.sql
    assert layer.query(metrics=["lk_tier.n"],
                       dimensions=["lk_tier.loc"]).count() == 3
    con.close()


# ---------------------------------------------------------------------
# round 8: adapter key-fidelity items (VERDICT r7 ask #2)
# ---------------------------------------------------------------------

def test_omni_join_type_reversible_metadata_preserved(spark):
    """Omni join_type/reversible/assumed relationship metadata survives
    import (ref adapters/omni.py:577-609 and
    tests/adapters/omni/test_estore.py:443-448) and always_left maps to
    the engine's first-class LEFT join override."""
    from sidemantic_spark.adapters.omni import OmniAdapter

    layer = SparkSemanticLayer(spark)
    ad = OmniAdapter()
    ad.parse(layer, {
        "name": "orders", "table_name": "orders",
        "dimensions": {"id": {"type": "number", "primary_key": True},
                       "product_id": {"type": "number"}},
    }, filestem="orders")
    ad.parse(layer, {
        "name": "products", "table_name": "products",
        "dimensions": {"id": {"type": "number", "primary_key": True}},
    }, filestem="products")
    ad.parse(layer, [{
        "join_from_view": "orders",
        "join_to_view": "products",
        "on_sql": "${orders.product_id} = ${products.id}",
        "relationship_type": "assumed_many_to_one",
        "join_type": "always_left",
        "reversible": False,
    }])
    rel = next(r for r in layer.graph.models["orders"].relationships
               if r.name == "products")
    assert rel.type == "many_to_one"
    assert rel.meta["join_type"] == "always_left"
    assert rel.meta["reversible"] is False
    assert rel.meta["assumed"] is True
    assert rel.join_type == "left"
    # round-trip: export re-emits the metadata
    from sidemantic_spark.adapters.omni import export_omni

    docs = export_omni(layer.graph)
    rels = [d for d in docs if isinstance(d, list)][0]
    rd = next(r for r in rels if r["join_to_view"] == "products")
    assert rd["join_type"] == "always_left"
    assert rd["reversible"] is False
    assert rd["relationship_type"] == "assumed_many_to_one"


def test_cube_rolling_window_leading_compiles_to_frame():
    """Cube rolling_window.leading imports as a real RANGE ... frame
    (the reference only preserves it in meta with a not-applied warning,
    ref adapters/cube.py:948-960); negative intervals flip direction."""
    from sidemantic_spark.adapters.cube import CubeAdapter
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.layer import SparkSemanticLayer

    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    CubeAdapter().parse(layer, {"cubes": [{
        "name": "sales",
        "sql_table": "sales",
        "dimensions": [{"name": "d", "sql": "d", "type": "time"}],
        "measures": [
            {"name": "fwd_rev", "sql": "amount", "type": "sum",
             "rolling_window": {"trailing": "7 days", "leading": "2 days"}},
            {"name": "rev_month_ago", "sql": "amount", "type": "sum",
             "rolling_window": {"trailing": "unbounded",
                                "leading": "-1 month", "offset": "end"}},
        ],
    }]})
    model = layer.graph.models["sales"]
    fwd = next(m for m in model.metrics if m.name == "fwd_rev")
    assert fwd.type == "cumulative"
    assert fwd.window_frame == (
        "RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND INTERVAL '2' DAY FOLLOWING"
    )
    assert fwd.meta["cube_rolling_window"]["leading"] == "2 days"
    ago = next(m for m in model.metrics if m.name == "rev_month_ago")
    assert ago.window_frame == (
        "RANGE BETWEEN UNBOUNDED PRECEDING AND INTERVAL '1' MONTH PRECEDING"
    )
    # export round-trips the rolling window
    from sidemantic_spark.adapters.cube import export_cube

    out = export_cube(layer.graph)
    ms = {m["name"]: m for m in out["cubes"][0]["measures"]}
    assert ms["fwd_rev"]["rolling_window"]["trailing"] == "7 days"
    assert ms["fwd_rev"]["rolling_window"]["leading"] == "2 days"


def test_cube_rolling_window_leading_executes(spark):
    """The leading frame changes query results the way Cube documents:
    value at t includes rows up to `leading` AFTER t."""
    from sidemantic_spark.adapters.cube import CubeAdapter
    from sidemantic_spark.core.layer import SparkSemanticLayer

    spark.createDataFrame(
        [("2024-01-01", 10.0), ("2024-01-02", 20.0), ("2024-01-03", 40.0)],
        "d_s string, amount double",
    ).selectExpr("CAST(d_s AS DATE) AS d", "amount") \
     .createOrReplaceTempView("lead_sales")
    layer = SparkSemanticLayer(spark)
    CubeAdapter().parse(layer, {"cubes": [{
        "name": "lead_sales",
        "sql_table": "lead_sales",
        "dimensions": [{"name": "d", "sql": "d", "type": "time"}],
        "measures": [{"name": "rev_pm1", "sql": "amount", "type": "sum",
                      "rolling_window": {"trailing": "1 day",
                                         "leading": "1 day"}}],
    }]})
    rows = {str(r["d"])[:10]: float(r["rev_pm1"]) for r in layer.query(
        metrics=["lead_sales.rev_pm1"], dimensions=["lead_sales.d__day AS d"]
    ).collect()}
    assert rows["2024-01-01"] == 30.0   # itself + next day
    assert rows["2024-01-02"] == 70.0   # all three
    assert rows["2024-01-03"] == 60.0   # prev + itself


def test_gooddata_snake_case_aliases():
    """GoodData accepts snake_case key aliases (date_instances,
    data_sets, date_dimensions) like the reference (adapters/gooddata.py
    :124, :507)."""
    from sidemantic_spark.adapters.gooddata import GoodDataAdapter
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.layer import SparkSemanticLayer

    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    GoodDataAdapter().parse(layer, {"ldm": {
        "data_sets": [{"dataset": {
            "id": "orders", "title": "Orders",
            "facts": [{"id": "fact.orders.amount",
                       "sourceColumn": "amount"}],
            "attributes": [{"id": "attr.orders.status",
                            "sourceColumn": "status"}],
            "dataSourceTableId": {"id": "orders"},
        }}],
        "date_instances": [{"id": "date.created", "title": "Created"}],
    }})
    assert "orders" in layer.graph.models
    assert any("date" in n or "created" in n for n in layer.graph.models)

    layer2 = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer2.graph = SemanticGraph()
    layer2.spark = None
    GoodDataAdapter().parse(layer2, {"projectModel": {
        "date_dimensions": [{"dateDimension": {"name": "closed"}}],
    }})
    assert any("closed" in n for n in layer2.graph.models)


def _bare_layer():
    from sidemantic_spark.core.graph import SemanticGraph

    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    return layer


def test_unknown_aggregation_is_skipped_not_summed():
    """A declared aggregation the format's table has no entry for skips
    the metric with a warning naming both; it is never read as SUM. An
    absent aggregation keeps the SUM default."""
    from sidemantic_spark.adapters import GoodDataAdapter, SnowflakeAdapter

    layer = _bare_layer()
    with pytest.warns(UserWarning) as caught:
        GoodDataAdapter().parse(layer, {"ldm": {"datasets": [{"dataset": {
            "id": "orders",
            "facts": [{"id": "amount", "aggregation": "bogus"},
                      {"id": "qty"}],
        }}]}})
    assert len(caught) == 1
    assert "'amount'" in str(caught[0].message)
    assert "'bogus'" in str(caught[0].message)
    orders = layer.graph.models["orders"]
    assert orders.metric("amount") is None
    assert orders.metric("qty").agg == "sum"

    layer = _bare_layer()
    with pytest.warns(UserWarning) as caught:
        SnowflakeAdapter().parse(layer, {"tables": [{
            "name": "orders",
            "base_table": {"table": "orders"},
            "facts": [{"name": "amount", "expr": "amount",
                       "default_aggregation": "bogus"},
                      {"name": "qty", "expr": "qty"}],
        }]})
    assert len(caught) == 1
    assert "'amount'" in str(caught[0].message)
    assert "'bogus'" in str(caught[0].message)
    orders = layer.graph.models["orders"]
    assert orders.metric("amount") is None
    assert orders.metric("qty").agg == "sum"


def test_lookml_include_scoping_drops_stale_refinement(tmp_path):
    """With include: declared on a model file, a refinement in an
    un-included archive file must NOT override the live view; without
    includes, everything merges (reference adapters/lookml.py:118-260)."""
    from sidemantic_spark.adapters.lookml import LookMLAdapter
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.layer import SparkSemanticLayer

    proj = tmp_path / "proj"
    (proj / "views").mkdir(parents=True)
    (proj / "archive").mkdir()
    (proj / "views" / "orders.view.lkml").write_text(
        'view: orders {\n  sql_table_name: live.orders ;;\n'
        '  dimension: id { primary_key: yes }\n'
        '  measure: n { type: count }\n}\n'
    )
    (proj / "archive" / "old.view.lkml").write_text(
        'view: +orders {\n  sql_table_name: stale.orders ;;\n}\n'
    )
    (proj / "main.model.lkml").write_text(
        'include: "/views/*.view"\nexplore: orders { label: "All Orders" }\n'
    )

    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    LookMLAdapter().parse_file(layer, str(proj))
    m = layer.graph.models["orders"]
    assert m.table == "live.orders"  # stale refinement dropped
    # explore label preserved on model meta (ref :3856-3864)
    assert m.meta["explore_label"] == "All Orders"

    # same project WITHOUT the include: refinement applies
    (proj / "main.model.lkml").write_text("explore: orders {}\n")
    layer2 = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer2.graph = SemanticGraph()
    layer2.spark = None
    LookMLAdapter().parse_file(layer2, str(proj))
    assert layer2.graph.models["orders"].table == "stale.orders"


def test_lookml_include_order_controls_refinement_precedence(tmp_path):
    """Refinements apply in include order — the LAST include wins even
    against filename sort order (reference ordered-include-closure)."""
    from sidemantic_spark.adapters.lookml import LookMLAdapter
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.layer import SparkSemanticLayer

    proj = tmp_path / "proj2"
    proj.mkdir()
    (proj / "base.view.lkml").write_text(
        'view: t {\n  sql_table_name: base.t ;;\n'
        '  dimension: id { primary_key: yes }\n}\n'
    )
    (proj / "z_ref.view.lkml").write_text(
        'view: +t {\n  sql_table_name: z.t ;;\n}\n')
    (proj / "a_ref.view.lkml").write_text(
        'view: +t {\n  sql_table_name: a.t ;;\n}\n')
    (proj / "main.model.lkml").write_text(
        'include: "base.view"\ninclude: "z_ref.view"\ninclude: "a_ref.view"\n'
    )
    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    LookMLAdapter().parse_file(layer, str(proj))
    # a_ref included LAST -> wins, despite z_ref sorting later by name
    assert layer.graph.models["t"].table == "a.t"


def test_lookml_include_duplicate_view_resolves_to_included_copy(tmp_path):
    """A same-name base view in an archive directory loses to the one
    copy the include closure reaches."""
    from sidemantic_spark.adapters.lookml import LookMLAdapter
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.layer import SparkSemanticLayer

    proj = tmp_path / "proj3"
    (proj / "views").mkdir(parents=True)
    (proj / "archive").mkdir()
    (proj / "views" / "orders.view.lkml").write_text(
        'view: orders {\n  sql_table_name: live.orders ;;\n'
        '  dimension: id { primary_key: yes }\n}\n'
    )
    (proj / "archive" / "orders.view.lkml").write_text(
        'view: orders {\n  sql_table_name: old.orders ;;\n'
        '  dimension: id { primary_key: yes }\n}\n'
    )
    (proj / "main.model.lkml").write_text('include: "/views/*.view"\n')
    layer = SparkSemanticLayer.__new__(SparkSemanticLayer)
    layer.graph = SemanticGraph()
    layer.spark = None
    LookMLAdapter().parse_file(layer, str(proj))
    assert layer.graph.models["orders"].table == "live.orders"


def test_rill_parent_selector_forms():
    """Rill parent_dimensions/parent_measures selector normalization
    (ref tests/adapters/rill/test_modern_features.py:311-420): star,
    omitted, {exclude}, {regex}, {expr}, and bare '* EXCLUDE (...)'."""
    from sidemantic_spark.adapters.rill import RillAdapter
    from sidemantic_spark.core.graph import SemanticGraph

    PARENT = {
        "type": "metrics_view", "name": "parent", "model": "src",
        "timeseries": "day", "smallest_time_grain": "day",
        "dimensions": [{"name": "a", "column": "a"},
                       {"name": "b", "column": "b"}],
        "measures": [{"name": "m1", "expression": "SUM(x)"},
                     {"name": "m2", "expression": "SUM(y)"}],
    }

    class _L:
        def __init__(self):
            self.graph = SemanticGraph()

        def add_model(self, m):
            self.graph.add_model(m)

    def run(child):
        lay = _L()
        ad = RillAdapter()
        ad.parse(lay, dict(PARENT))
        ad.parse(lay, child)
        c = lay.graph.models["child"]
        return {d.name for d in c.dimensions}, {m.name for m in c.metrics}

    base = {"type": "metrics_view", "name": "child", "parent": "parent"}
    assert run({**base, "parent_measures": "*"})[1] == {"m1", "m2"}
    assert run(base)[1] == {"m1", "m2"}  # omitted -> all
    assert run({**base, "parent_measures": {"exclude": ["m2"]}})[1] == {"m1"}
    assert run({**base, "parent_measures": {"regex": "^m1$"}})[1] == {"m1"}
    assert run({**base, "parent_measures": "* EXCLUDE (m2)"})[1] == {"m1"}
    assert run({**base, "parent_measures": ["m2"]})[1] == {"m2"}
    dims, _ = run({**base, "parent_dimensions": {"expr": "* EXCLUDE (b)"}})
    assert "a" in dims and "b" not in dims


def test_inactive_relationship_excluded_from_pathing(spark):
    """Relationship(active=False) is preserved on the model but never
    used for join pathing (ref core/relationship.py:42, tests/
    test_semantic_graph_errors.py inactive-relationship case)."""
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.model import Model, Relationship

    graph = SemanticGraph()
    graph.add_model(Model(
        name="sales", table="sales", primary_key="id",
        relationships=[Relationship(
            name="calendar", type="many_to_one",
            foreign_key="ship_date_key", primary_key="date_key",
            active=False,
        )],
    ))
    graph.add_model(Model(name="calendar", table="calendar", primary_key="date_key"))

    with pytest.raises(Exception, match="[Nn]o join path"):
        graph.find_path("sales", "calendar")
    # the relationship itself is preserved as metadata
    assert graph.models["sales"].relationships[0].active is False


def test_tmdl_inactive_relationship_roundtrip(spark, tmp_path):
    """isActive: false imports as Relationship(active=False), stays out
    of pathing, and survives export."""
    from sidemantic_spark.adapters import TmdlAdapter
    from sidemantic_spark.adapters.tmdl import export_tmdl

    d = tmp_path / "definition"
    (d / "tables").mkdir(parents=True)
    (d / "tables" / "Sales.tmdl").write_text("""table rp_sales
    column id
        dataType: int64
        isKey
        sourceColumn: id
    column ship_date_key
        dataType: int64
        sourceColumn: ship_date_key
    column order_date_key
        dataType: int64
        sourceColumn: order_date_key
""")
    (d / "tables" / "Calendar.tmdl").write_text("""table rp_calendar
    column date_key
        dataType: int64
        isKey
        sourceColumn: date_key
""")
    (d / "relationships.tmdl").write_text("""relationship 'Sales-OrderDate'
    fromColumn: rp_sales[order_date_key]
    toColumn: rp_calendar[date_key]
    fromCardinality: many
    toCardinality: one

relationship 'Sales-ShipDate'
    fromColumn: rp_sales[ship_date_key]
    toColumn: rp_calendar[date_key]
    fromCardinality: many
    toCardinality: one
    isActive: false
""")
    layer = SparkSemanticLayer(spark)
    TmdlAdapter().parse_file(layer, str(tmp_path))
    sales = layer.graph.models["rp_sales"]
    by_fk = {r.foreign_key: r for r in sales.relationships}
    assert by_fk["order_date_key"].active is True
    assert by_fk["ship_date_key"].active is False

    # pathing resolves through the single ACTIVE edge (no ambiguity:
    # the inactive role-playing edge is excluded)
    path = layer.graph.find_path("rp_sales", "rp_calendar")
    assert [h.fk_side for h in path] == [("order_date_key",)]

    out = export_tmdl(layer.graph)
    assert out.count("isActive: false") == 1
    assert "rp_sales[ship_date_key]" in out


def test_yaml_inactive_relationship_roundtrip(spark):
    from sidemantic_spark.authoring.yaml_io import export_yaml, load_yaml
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.model import Model, Relationship

    graph = SemanticGraph()
    graph.add_model(Model(
        name="sales", table="sales", primary_key="id",
        relationships=[
            Relationship(name="calendar", type="many_to_one",
                         foreign_key="ship_date_key", primary_key="date_key",
                         active=False),
            Relationship(name="calendar", type="many_to_one",
                         foreign_key="order_date_key", primary_key="date_key"),
        ],
    ))
    graph.add_model(Model(name="calendar", table="calendar", primary_key="date_key"))
    text = export_yaml(graph)
    layer2 = SparkSemanticLayer(spark)
    load_yaml(layer2, text)
    rels = {r.foreign_key: r for r in layer2.graph.models["sales"].relationships}
    assert rels["ship_date_key"].active is False
    assert rels["order_date_key"].active is True


def test_cube_role_scoped_access_policy_translates_to_governed_rls(spark):
    """r10 VERDICT ask #7: role-scoped Cube access policies (plain
    role + row_level, no conditions/member_level) translate into a
    Jinja-guarded row filter implementing Cube's union-of-grants:
    admins see everything, a scoped role sees its rows, an unknown
    role (or no user) sees nothing. No warning fires — the policy is
    fully translated."""
    import warnings as _warnings

    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: rs_orders
    sql_table: adapter_orders
    access_policy:
      - role: admin
        row_level:
          allow_all: true
      - role: finance
        row_level:
          filters:
            - member: "{CUBE}.status"
              operator: equals
              values: [paid]
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
      - name: status
        sql: status
        type: string
    measures:
      - name: order_count
        type: count
"""))
    assert not [w for w in caught if "access_policy" in str(w.message)]
    m = layer.graph.models["rs_orders"]
    assert m.security is not None and len(m.security.row_filters) == 1

    def count(user):
        return layer.query(
            metrics=["rs_orders.order_count"], user=user
        ).collect()[0][0]

    assert count({"role": "admin"}) == 3          # allow_all grant
    assert count({"roles": ["finance"]}) == 2     # paid rows only
    assert count({"role": "intern"}) in (0, None)  # no matching grant
    # no user context at all: r12 deny-by-default refuses outright
    # (ref test_security_enforcement.py:137-148)
    import pytest as _pytest

    from sidemantic_spark.core.security import SecurityError

    with _pytest.raises(SecurityError):
        count(None)
    con.close()


def test_cube_role_policy_with_conditions_stays_failclosed_and_warned(spark):
    """A role policy carrying `conditions:` is NOT translatable — its
    filters apply unconditionally (fail-closed, never wider) and the
    import warns with the unmapped constructs."""
    import warnings as _warnings

    import yaml as _yaml

    from sidemantic_spark.adapters import ADAPTERS

    con = _seed_orders(spark)
    layer = SparkSemanticLayer(spark)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        ADAPTERS["cube"]().parse(layer, _yaml.safe_load("""
cubes:
  - name: rc_orders
    sql_table: adapter_orders
    access_policy:
      - role: ops
        conditions:
          - if: "{ security_context.enabled }"
        row_level:
          filters:
            - member: "{CUBE}.status"
              operator: equals
              values: [paid]
    dimensions:
      - name: order_id
        sql: order_id
        type: number
        primary_key: true
    measures:
      - name: order_count
        type: count
"""))
    msgs = [str(w.message) for w in caught if "access_policy" in str(w.message)
            or "row filter" in str(w.message)]
    assert msgs and any("conditions" in m for m in msgs)
    n = layer.query(
        metrics=["rc_orders.order_count"], user={}
    ).collect()[0][0]
    assert n == 2  # filter applies unconditionally (fail-closed)
    con.close()
