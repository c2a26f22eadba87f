"""Security policies, field visibility, Explore/SavedQuery contracts,
result cache.

Reference surfaces: ``core/security.py`` (access gate + row-level
filters + visibility), ``core/consumption.py:100,168`` (Explore /
SavedQuery), ``core/result_cache.py`` (content-keyed result cache).
"""

from __future__ import annotations

import pytest

from sidemantic_spark.core.consumption import ContractError, Explore, SavedQuery
from sidemantic_spark.core.layer import SparkSemanticLayer
from sidemantic_spark.core.model import Dimension, Metric, Model
from sidemantic_spark.core.security import SecurityError, SecurityPolicy
from tests.conftest import assert_df_matches_oracle


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    from sidemantic_spark.models.tpch import build_layer

    return build_layer(spark, sf_dir)


@pytest.fixture()
def gov_layer(spark, sf_dir):
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders",
        table="orders",
        primary_key="o_orderkey",
        dimensions=[
            Dimension(name="status", sql="o_orderstatus"),
            Dimension(name="priority", sql="o_orderpriority"),
            Dimension(name="internal_code", sql="o_clerk", public=False),
        ],
        metrics=[
            Metric(name="revenue", agg="sum", sql="CAST(o_totalprice AS DECIMAL(18,2))"),
            Metric(name="order_count", agg="count"),
            Metric(name="secret_margin", agg="sum", sql="o_totalprice", public=False),
        ],
        security=SecurityPolicy(
            access="{{ user.role in ('admin', 'analyst') }}",
            row_filters=["o_orderstatus = '{{ user.allowed_status }}'"],
        ),
    ))
    return layer


def test_row_level_security_scopes_rows(gov_layer, duck):
    df = gov_layer.query(
        metrics=["orders.revenue"],
        dimensions=["orders.status"],
        user={"role": "analyst", "allowed_status": "F"},
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        """,
    )


def test_access_gate_denies(gov_layer):
    with pytest.raises(SecurityError, match="denied"):
        gov_layer.compile(metrics=["orders.revenue"], user={"role": "intern",
                                                           "allowed_status": "F"})


def test_missing_user_attribute_raises(gov_layer):
    # StrictUndefined: missing attributes must not render an empty
    # (unscoped) filter
    with pytest.raises(SecurityError, match="template error"):
        gov_layer.compile(metrics=["orders.revenue"], user={"role": "admin"})


def test_visibility_enforced_everywhere(gov_layer):
    user = {"role": "admin", "allowed_status": "F"}
    with pytest.raises(SecurityError, match="not public"):
        gov_layer.compile(metrics=["orders.secret_margin"], user=user)
    with pytest.raises(SecurityError, match="not public"):
        gov_layer.compile(metrics=["orders.revenue"],
                          dimensions=["orders.internal_code"], user=user)
    with pytest.raises(SecurityError, match="not public"):
        gov_layer.compile(metrics=["orders.revenue"],
                          filters=["orders.internal_code = 'x'"], user=user)


def test_explore_contract(layer, duck):
    layer.graph.explores.pop("orders_explore", None)
    layer.add_explore(Explore(
        name="orders_explore",
        model="orders",
        allowed_metrics=["revenue", "order_count"],
        allowed_dimensions=["status", "priority"],
        default_metrics=["revenue"],
        default_dimensions=["status"],
        filters=["orders.status != 'P'"],
        max_limit=100,
    ))
    df = layer.query(explore="orders_explore")
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus != 'P' GROUP BY 1
        """,
    )
    with pytest.raises(ContractError, match="not allowed"):
        layer.compile(explore="orders_explore", metrics=["orders.avg_order_value"])


def test_saved_query(layer, duck):
    layer.graph.saved_queries.pop("monthly_revenue", None)
    layer.add_saved_query(SavedQuery(
        name="monthly_revenue",
        metrics=["orders.revenue"],
        dimensions=["orders.order_date__month AS order_month"],
        order_by=["order_month"],
    ))
    df = layer.query(saved_query="monthly_revenue")
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders GROUP BY 1
        """,
    )


def test_result_cache_hits(layer):
    layer.clear_result_cache()
    df1 = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"],
                      use_cache=True)
    df2 = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"],
                      use_cache=True)
    assert df1 is df2  # same persisted DataFrame returned
    layer.graph._invalidate()  # graph change invalidates the key
    df3 = layer.query(metrics=["orders.revenue"], dimensions=["orders.status"],
                      use_cache=True)
    assert df3 is not df1
    layer.clear_result_cache()


def test_yaml_security_and_contracts(spark):
    from sidemantic_spark.authoring import load_yaml

    layer = SparkSemanticLayer(spark)
    load_yaml(layer, """
version: 1
models:
  - name: t
    table: t
    primary_key: id
    security:
      access: "{{ user.ok }}"
      row_filters:
        - "tenant = {{ user.tenant_id }}"
    dimensions:
      - name: tenant
        type: numeric
    metrics:
      - name: n
        agg: count
explores:
  - name: t_explore
    model: t
    allowed_metrics: [n]
saved_queries:
  - name: t_count
    metrics: [t.n]
    explore: t_explore
""")
    assert layer.graph.models["t"].security.row_filters
    assert "t_explore" in layer.graph.explores
    assert "t_count" in layer.graph.saved_queries
    sql = layer.compile(metrics=["t.n"], user={"ok": True, "tenant_id": 7})
    assert "tenant = 7" in sql


def test_validate_query_collects_errors_with_suggestions(layer):
    """Pre-execution validation (ref validation.py:805 validate_query):
    errors collected, not raised; unknown refs get close-match
    suggestions."""
    errs = layer.validate_query(
        metrics=["orders.revenu", "orders.revenue"],
        dimensions=["orders.statos"],
    )
    assert len(errs) == 2
    assert any("revenu" in e and "revenue" in e for e in errs)
    assert any("statos" in e and "status" in e for e in errs)
    assert layer.validate_query(metrics=["orders.revenue"]) == []


def test_dimension_hierarchies_and_drill():
    """Hierarchy helpers (reference core/model.py:132-196) + metric
    drill_fields metadata."""
    from sidemantic_spark.core.model import Dimension, Metric, Model

    m = Model(
        name="geo", table="geo", primary_key="id",
        dimensions=[
            Dimension(name="country"),
            Dimension(name="state", parent="country"),
            Dimension(name="city", parent="state"),
        ],
        metrics=[Metric(name="pop", agg="sum", sql="population",
                        drill_fields=["state", "city"])],
    )
    assert m.get_hierarchy_path("city") == ["country", "state", "city"]
    assert m.get_hierarchy_path("country") == ["country"]
    assert m.get_drill_down("country") == "state"
    assert m.get_drill_down("city") is None
    assert m.get_drill_up("city") == "state"
    assert m.get_drill_up("country") is None
    assert m.metric("pop").drill_fields == ["state", "city"]

    # cycles terminate rather than hanging
    bad = Model(
        name="x", table="x", primary_key="id",
        dimensions=[Dimension(name="a", parent="b"),
                    Dimension(name="b", parent="a")],
    )
    assert bad.get_hierarchy_path("a") == ["b", "a"]


def test_freshness_policy_check(spark, sf_dir):
    """Freshness policies (reference core/freshness.py): marker query
    is MAX(watermark) on the model source; age vs ttl decides fresh."""
    from sidemantic_spark.core.governance import Freshness, GovernanceError
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.models.tpch import register_tables

    import pytest as _pytest

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="orders_fr", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="order_date", sql="o_orderdate", type="time")],
        metrics=[Metric(name="n", agg="count")],
        freshness=Freshness(watermark="order_date", ttl_seconds=3600),
    ))
    rep = layer.check_freshness()
    r = rep["orders_fr"]
    assert r["policy"]["ttl_seconds"] == 3600
    assert r["marker"] < "2026-01-01"  # historical testdata
    assert r["age_seconds"] > 3600 and r["fresh"] is False

    # advanced SQL marker, no ttl -> fresh is None (report-only)
    layer.graph.get_model("orders_fr").freshness = Freshness(
        sql="SELECT MAX(o_orderdate) FROM orders")
    r2 = layer.check_freshness("orders_fr")["orders_fr"]
    assert r2["fresh"] is None and r2["marker"] == r["marker"]

    # invalid policies rejected at construction
    with _pytest.raises(GovernanceError):
        Freshness()
    with _pytest.raises(GovernanceError):
        Freshness(watermark="a", sql="SELECT 1")
    with _pytest.raises(GovernanceError):
        Freshness(watermark="a", ttl_seconds=0)


def test_deprecation_warnings_on_query(spark, sf_dir):
    import warnings

    from sidemantic_spark.core.governance import Deprecation
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="legacy_orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[
            Metric(name="revenue", agg="sum", sql="o_totalprice",
                   deprecation=Deprecation(
                       message="use net_revenue",
                       replaced_by="orders.net_revenue")),
            Metric(name="order_count", agg="count"),
        ],
    ))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        layer.compile(metrics=["legacy_orders.revenue"],
                      dimensions=["legacy_orders.status"])
    notes = [str(w.message) for w in caught
             if issubclass(w.category, DeprecationWarning)]
    assert any("use net_revenue" in n and "orders.net_revenue" in n
               for n in notes)

    # non-deprecated references stay silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        layer.compile(metrics=["legacy_orders.order_count"])
    assert not [w for w in caught if issubclass(w.category, DeprecationWarning)]


def test_governance_yaml_roundtrip():
    from sidemantic_spark.authoring.yaml_io import export_yaml, load_yaml
    from sidemantic_spark.core.layer import SparkSemanticLayer

    layer = SparkSemanticLayer(None)
    load_yaml(layer, """
models:
  - name: orders
    table: orders
    primary_key: id
    owner: data-platform
    domain: sales
    tier: gold
    freshness:
      watermark: created_at
      ttl_seconds: 86400
    deprecation:
      message: moving to orders_v2
      replaced_by: orders_v2
    dimensions:
      - name: created_at
        type: time
    metrics:
      - name: revenue
        agg: sum
        sql: amount
        owner: finance
        drill_fields: [created_at]
        deprecation: use net_revenue
""")
    m = layer.graph.models["orders"]
    assert m.owner == "data-platform" and m.tier == "gold"
    assert m.freshness.ttl_seconds == 86400
    assert m.deprecation.replaced_by == "orders_v2"
    rev = m.metric("revenue")
    assert rev.owner == "finance"
    assert rev.deprecation.message == "use net_revenue"
    assert rev.drill_fields == ["created_at"]

    text = export_yaml(layer.graph)
    layer2 = SparkSemanticLayer(None)
    load_yaml(layer2, text)
    m2 = layer2.graph.models["orders"]
    assert m2.owner == "data-platform"
    assert m2.freshness.watermark == "created_at"
    assert m2.metric("revenue").deprecation.message == "use net_revenue"


def test_transport_security_fail_closed(spark, sf_dir):
    """Transport gate (reference core/transport_security.py): with
    security controls active, SQL reading a non-semantic source is
    refused before execution; semantic SQL and projection-only queries
    stay available. Without controls, passthrough is unrestricted."""
    import pytest as _pytest

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.core.transport_security import (
        TransportSecurityError,
        controls_are_active,
        unrecognized_sources,
    )
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="sec_orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="revenue", agg="sum", sql="o_totalprice")],
        security=SecurityPolicy(access=True,
                                row_filters=["o_orderstatus = 'F'"]),
    ))
    assert controls_are_active(layer)

    # semantic SQL still works (policies applied by the compiler);
    # user={} is "provided but empty" — the attribute-free filter
    # renders fine. user=None would hit the deny-by-default gate
    # (reference tests/core/test_security_enforcement.py:137-148).
    assert layer.sql(
        "SELECT sec_orders.status, sec_orders.revenue FROM sec_orders",
        user={},
    ).count() == 1

    # raw source read refused — it would bypass the row filter
    with _pytest.raises(TransportSecurityError, match="orders"):
        layer.sql("SELECT * FROM orders")
    # ... also inside derived tables / CTEs naming raw sources
    with _pytest.raises(TransportSecurityError):
        layer.sql("SELECT x.c FROM (SELECT o_orderstatus AS c FROM orders) x")
    # unparseable-to-the-lexer constructs fail closed
    assert unrecognized_sources(
        "SELECT * FROM some_udtf(1)", layer) == ["<unparseable SQL>"]
    # QUALIFIED names are raw catalog reads even when the last segment
    # matches a model — allowing them would bypass row policies
    with _pytest.raises(TransportSecurityError):
        layer.sql("SELECT * FROM spark_catalog.default.sec_orders")
    assert unrecognized_sources(
        "WITH c AS (SELECT * FROM spark_catalog.default.sec_orders) "
        "SELECT * FROM c",
        layer,
    ) == ["spark_catalog.default.sec_orders"]
    # CTEs over semantic models are fine
    assert layer.sql(
        "WITH r AS (SELECT sec_orders.revenue FROM sec_orders) SELECT * FROM r",
        user={},
    ).count() == 1

    # no controls -> the security gate stays out of the way (the
    # rewriter may still reject unknown models, but that is a compile
    # error, not a security refusal)
    open_layer = SparkSemanticLayer(spark)
    open_layer.add_model(Model(
        name="open_orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus")],
        metrics=[Metric(name="revenue", agg="sum", sql="o_totalprice")],
    ))
    assert not controls_are_active(open_layer)
    with _pytest.raises(Exception) as exc:
        open_layer.sql("SELECT COUNT(*) AS n FROM orders")
    assert not isinstance(exc.value, TransportSecurityError)


def test_transport_gate_recognizes_second_cte(spark):
    """The CTE lexer must register every CTE in a WITH list: after a
    closing paren there is no word boundary before the comma, so a
    leading \\b silently missed `), cnt AS (` and refused valid
    semantic SQL whenever security controls were active."""
    from sidemantic_spark.core.transport_security import unrecognized_sources
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, None)
    sql = """
        WITH rev AS (SELECT orders.status, orders.revenue FROM orders),
        cnt AS (SELECT orders.status, orders.order_count FROM orders)
        SELECT r.status, r.revenue, c.order_count
        FROM rev r JOIN cnt c ON r.status = c.status
    """
    assert unrecognized_sources(sql, layer) == []
    assert unrecognized_sources(
        "SELECT * FROM raw_table", layer) == ["raw_table"]
    # the scan reads literals as Spark does and fails closed on a
    # quoted table name
    assert unrecognized_sources(
        "SELECT 'x\\' FROM raw_table' AS a FROM orders", layer) == []
    assert unrecognized_sources(
        "SELECT \"it's\" AS a FROM raw_table", layer) == ["raw_table"]
    assert unrecognized_sources(
        'SELECT * FROM "raw_table"', layer) == ["<unparseable SQL>"]


def test_row_filter_values_render_as_safe_literals():
    """User attributes interpolated into row filters render as complete
    SQL literals in BOTH the quoted and unquoted author forms, so a
    malicious attribute value cannot widen the predicate (reference
    core/security.py:154-240, test_security_advisor_regressions)."""
    import pytest as _pytest

    from sidemantic_spark.core.security import SecurityError, render_row_filter

    r = render_row_filter
    # unquoted form: string still renders quoted, never a boolean breakout
    assert r("tenant_id = {{ user.tenant_id }}", {"tenant_id": "1 OR 1=1"},
             ctx="t") == "tenant_id = '1 OR 1=1'"
    # quoted form: breakout attempt stays inside one escaped literal
    assert r("email = '{{ user.email }}'", {"email": "x' OR '1'='1"},
             ctx="t") == "email = 'x'' OR ''1''=''1'"
    assert r("region = '{{ user.region }}'", {"region": "US"},
             ctx="t") == "region = 'US'"
    # typed literals
    assert r("n = {{ user.n }}", {"n": 42}, ctx="t") == "n = 42"
    assert r("b = {{ user.b }}", {"b": True}, ctx="t") == "b = TRUE"
    assert r("x = {{ user.x }}", {"x": None}, ctx="t") == "x = NULL"
    # unsupported attribute types are rejected, not repr'd into SQL
    with _pytest.raises(SecurityError):
        r("x = {{ user.x }}", {"x": object()}, ctx="t")
    # missing attribute raises (deny) instead of silently widening
    with _pytest.raises(SecurityError):
        r("t = {{ user.missing }}", {}, ctx="t")


def test_row_filter_placeholder_inside_partial_quoted_literal():
    """Round-5 ADVICE: a placeholder embedded in a LARGER quoted literal
    (LIKE/prefix templates) is rewritten to CONCAT of safe parts instead
    of rendering malformed SQL — and the value still cannot break out."""
    from sidemantic_spark.core.security import render_row_filter

    r = render_row_filter
    assert r("region LIKE '{{ user.region }}%'", {"region": "EMEA"},
             ctx="t") == "region LIKE CONCAT('EMEA', '%')"
    assert r("path LIKE '/tenants/{{ user.tid }}/%'", {"tid": "t1"},
             ctx="t") == "path LIKE CONCAT('/tenants/', 't1', '/%')"
    # two placeholders in one literal
    assert r("k = '{{ user.a }}-{{ user.b }}'", {"a": "x", "b": "y"},
             ctx="t") == "k = CONCAT('x', '-', 'y')"
    # breakout attempt stays one escaped literal inside the CONCAT
    assert r("region LIKE '{{ user.region }}%'",
             {"region": "x' OR '1'='1"},
             ctx="t") == "region LIKE CONCAT('x'' OR ''1''=''1', '%')"
    # exact-span quoted form unchanged by the new rewrite
    assert r("region = '{{ user.region }}'", {"region": "US"},
             ctx="t") == "region = 'US'"


def test_row_filter_like_prefix_enforced_end_to_end(spark):
    """The CONCAT rewrite executes: a LIKE-prefix row filter scopes the
    query and a hostile value does not widen it."""
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    old = orders.security
    orders.security = SecurityPolicy(
        row_filters=["o_orderpriority LIKE '{{ user.prio }}%'"])
    try:
        legit = layer.query(metrics=["orders.order_count"],
                            user={"prio": "1-URGENT"}).collect()[0][0]
        hostile = layer.query(metrics=["orders.order_count"],
                              user={"prio": "zzz' OR '1'='1"}).collect()[0][0]
        assert legit > 0
        assert hostile == 0
    finally:
        orders.security = old


def test_row_filter_injection_enforced_end_to_end(spark):
    """A malicious attribute value cannot widen a scoped query."""
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, "/root/testdata/sf0.001")
    orders = layer.graph.get_model("orders")
    old = orders.security
    orders.security = SecurityPolicy(
        row_filters=["o_orderstatus = {{ user.status }}"])
    try:
        legit = layer.query(metrics=["orders.order_count"],
                            user={"status": "F"}).collect()[0][0]
        hostile = layer.query(metrics=["orders.order_count"],
                              user={"status": "F' OR '1'='1"}).collect()[0][0]
        total = layer.query(metrics=["orders.order_count"],
                            user={"status": "F"},
                            filters=[]).collect()[0][0]
        assert legit > 0
        assert hostile == 0  # matches no real status, widens nothing
    finally:
        orders.security = old


def test_hidden_default_time_dimension_rejected(spark):
    """A non-public default_time_dimension must not leak via auto-
    include: the query is rejected just like an explicit reference
    (reference tests/core/test_security_enforcement.py:219)."""
    import duckdb as _duck
    import pytest as _pytest

    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError

    con = _duck.connect()
    con.execute("CREATE TABLE gv_hv AS SELECT 1 id, TIMESTAMP '2024-01-01' ts, 5 amt")
    spark.createDataFrame(con.table("gv_hv").arrow().to_pandas()) \
        .createOrReplaceTempView("gv_hv")
    layer = SparkSemanticLayer(spark)
    layer.enforce_visibility = True
    layer.add_model(Model(
        name="gv_hv", table="gv_hv", primary_key="id",
        dimensions=[Dimension(name="ts", type="time", granularity="day",
                              public=False)],
        metrics=[Metric(name="total", agg="sum", sql="amt")],
        default_time_dimension="ts",
    ))
    with _pytest.raises(SecurityError, match="not public"):
        layer.compile(metrics=["gv_hv.total"])
    # enforcement off: auto-include remains available
    layer.enforce_visibility = False
    assert "ts__day" in layer.compile(metrics=["gv_hv.total"])
    con.close()


def test_visibility_toggle_not_served_from_compile_cache(spark):
    """A compile cached under enforcement-off must not serve an
    enforcement-on call (the auto-include visibility check runs inside
    the generator, after the cache lookup)."""
    import duckdb as _duck
    import pytest as _pytest

    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError

    con = _duck.connect()
    con.execute("CREATE TABLE gv_cc AS SELECT 1 id, TIMESTAMP '2024-01-01' ts, 5 amt")
    spark.createDataFrame(con.table("gv_cc").arrow().to_pandas()) \
        .createOrReplaceTempView("gv_cc")
    layer = SparkSemanticLayer(spark)
    layer.enforce_visibility = False
    layer.add_model(Model(
        name="gv_cc", table="gv_cc", primary_key="id",
        dimensions=[Dimension(name="ts", type="time", granularity="day",
                              public=False)],
        metrics=[Metric(name="total", agg="sum", sql="amt")],
        default_time_dimension="ts",
    ))
    # warm the cache with enforcement off
    assert "ts__day" in layer.compile(metrics=["gv_cc.total"])
    layer.enforce_visibility = True
    with _pytest.raises(SecurityError, match="not public"):
        layer.compile(metrics=["gv_cc.total"])
    con.close()


def test_conversion_entity_injection_rejected(spark):
    """Conversion/retention/cohort entity names interpolate into SQL, so
    anything that is not a declared dimension or plain identifier is
    rejected (reference test_conversion_invalid_entity_rejected)."""
    import pytest as _pytest

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.sql.generator import QueryCompileError

    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="inj_events", table="inj_events_t", primary_key="event_id",
        dimensions=[
            Dimension(name="event_id", type="number"),
            Dimension(name="user_id", type="number"),
            Dimension(name="event_type"),
            Dimension(name="event_time", type="time"),
        ],
        metrics=[
            Metric(name="conv", type="conversion",
                   entity="user_id; DROP TABLE--",
                   base_event="inj_events.event_type = 'signup'",
                   conversion_event="inj_events.event_type = 'purchase'",
                   conversion_window="7 days"),
            Metric(name="ret", type="retention",
                   entity="uid'); DROP--",
                   base_event="inj_events.event_type = 'install'",
                   retention_granularity="day"),
        ],
    ))
    with _pytest.raises(QueryCompileError, match="Invalid entity"):
        layer.compile(metrics=["inj_events.conv"],
                      dimensions=["inj_events.event_time"])
    with _pytest.raises(QueryCompileError, match="Invalid entity"):
        layer.compile(metrics=["inj_events.ret"])


def test_parameter_typed_formatting_blocks_injection(spark):
    """Typed parameter values render as complete literals (reference
    tests/templates/test_parameters.py injection family): numbers must
    parse, unquoted values must be identifiers, strings escape embedded
    quotes, allowed_values is enforced."""
    import pytest as _pytest

    from sidemantic_spark.core.model import Parameter
    from sidemantic_spark.models.tpch import build_layer
    from sidemantic_spark.sql.generator import QueryCompileError

    layer = build_layer(spark, "/root/testdata/sf0.001")
    layer.graph.add_parameter(Parameter(name="min_total", type="number",
                                        default_value=0))
    layer.graph.add_parameter(Parameter(name="status_p", type="string",
                                        default_value="F"))
    kw = dict(metrics=["orders.revenue"],
              filters=["orders.total_price > {{ min_total }}",
                       "orders.status = {{ status_p }}"])
    sql = layer.compile(parameters={"min_total": "100", "status_p": "F"}, **kw)
    assert "> 100.0" in sql and "= 'F'" in sql
    with _pytest.raises(QueryCompileError, match="Invalid numeric"):
        layer.compile(parameters={"min_total": "0) OR (1=1"}, **kw)
    # a hostile string value stays ONE escaped literal
    sql = layer.compile(parameters={"min_total": 0,
                                    "status_p": "F' OR '1'='1"}, **kw)
    assert "= 'F'' OR ''1''=''1'" in sql
    # allowed_values enforcement
    layer.graph.add_parameter(Parameter(
        name="region_p", type="string", allowed_values=["EMEA", "APAC"]))
    with _pytest.raises(QueryCompileError, match="allowed_values"):
        layer.compile(metrics=["orders.revenue"],
                      filters=["orders.status = {{ region_p }}"],
                      parameters={"region_p": "nope"})


def test_result_cache_lru_ttl_and_stats(spark, sf_dir):
    """LRU eviction unpersists the oldest entry, TTL expiry is a miss,
    and hit/miss stats are observable (reference core/result_cache.py
    LRU-by-bytes / TTL / counters)."""
    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, sf_dir)
    layer.clear_result_cache()
    layer._cache_hits = layer._cache_misses = 0
    layer.result_cache_max_entries = 2

    q1 = dict(metrics=["orders.revenue"], dimensions=["orders.status"])
    q2 = dict(metrics=["orders.revenue"], dimensions=["orders.priority"])
    q3 = dict(metrics=["orders.order_count"], dimensions=["orders.status"])
    a = layer.query(use_cache=True, **q1)
    assert layer.query(use_cache=True, **q1) is a  # hit
    layer.query(use_cache=True, **q2)
    layer.query(use_cache=True, **q3)  # evicts q1 (LRU)
    assert len(layer._result_cache) == 2
    b = layer.query(use_cache=True, **q1)  # miss: recomputed
    assert b is not a
    stats = layer.result_cache_stats
    assert stats["hits"] == 1 and stats["entries"] == 2

    # TTL expiry via an injected stamp (no sleeping)
    layer.result_cache_ttl_seconds = 1000.0
    c = layer.query(use_cache=True, **q1)
    key = next(reversed(layer._result_cache))
    df, _stamp = layer._result_cache[key]
    layer._result_cache[key] = (df, _stamp - 5000.0)  # age it out
    d = layer.query(use_cache=True, **q1)
    assert d is not c
    layer.result_cache_ttl_seconds = None
    layer.result_cache_max_entries = 32
    layer.clear_result_cache()


def test_explore_filter_field_allowlist(layer):
    """Filter-field allowlist (reference Explore.allowed_filter_fields,
    tests/core/test_consumption_compiler.py:148-170): a governed caller
    cannot filter on fields outside the allowlist — not even hidden
    inside an EXISTS subquery (a filter on a disallowed column is an
    aggregate side-channel)."""
    layer.graph.explores.pop("gov_filters", None)
    layer.add_explore(Explore(
        name="gov_filters",
        model="orders",
        allowed_metrics=["revenue"],
        allowed_dimensions=["status"],
        allowed_filter_fields=["status"],
        default_metrics=["revenue"],
        default_dimensions=["status"],
    ))
    # allowed field passes
    layer.compile(explore="gov_filters", filters=["orders.status = 'O'"])
    with pytest.raises(ContractError, match="does not allow filter field"):
        layer.compile(explore="gov_filters", filters=["orders.priority = '1-URGENT'"])
    # bare (unqualified) disallowed field is still caught
    with pytest.raises(ContractError, match="does not allow filter field"):
        layer.compile(explore="gov_filters", filters=["priority = '1-URGENT'"])
    # correlated model-qualified ref inside EXISTS is still a reference
    with pytest.raises(ContractError, match="does not allow filter field"):
        layer.compile(
            explore="gov_filters",
            filters=["EXISTS (SELECT 1 FROM x WHERE x.a = orders.priority)"],
        )


def test_explore_order_by_allowlist(layer):
    layer.graph.explores.pop("gov_order", None)
    layer.add_explore(Explore(
        name="gov_order",
        model="orders",
        allowed_metrics=["revenue"],
        allowed_dimensions=["status"],
        allowed_order_by=["revenue"],
        default_metrics=["revenue"],
        default_dimensions=["status"],
    ))
    layer.compile(explore="gov_order", order_by=["revenue DESC"])
    with pytest.raises(ContractError, match="does not allow ordering"):
        layer.compile(explore="gov_order", order_by=["orders.status"])


def test_explore_explicit_limit_above_cap_errors(layer):
    """An explicit limit above max_limit is an error, not a silent
    truncation (reference 'exceeds max_limit'); absent limits still
    fall back default -> max."""
    layer.graph.explores.pop("gov_limit", None)
    layer.add_explore(Explore(
        name="gov_limit",
        model="orders",
        default_metrics=["revenue"],
        default_dimensions=["status"],
        max_limit=100,
    ))
    sql = layer.compile(explore="gov_limit", limit=50)
    assert "LIMIT 50" in sql
    with pytest.raises(ContractError, match="exceeds max_limit"):
        layer.compile(explore="gov_limit", limit=101)
    # no explicit limit: capped at max_limit
    assert "LIMIT 100" in layer.compile(explore="gov_limit")


def test_explore_empty_selection_errors(layer):
    layer.graph.explores.pop("gov_empty", None)
    layer.add_explore(Explore(
        name="gov_empty", model="orders", allowed_metrics=["revenue"],
    ))
    with pytest.raises(ContractError, match="at least one metric or dimension"):
        layer.compile(explore="gov_empty")
    assert "SUM" in layer.compile(explore="gov_empty", metrics=["revenue"])


def test_explore_qualifies_relative_filter_and_order_expressions(layer, duck):
    """Bare (relative) contract expressions qualify per-field — not by
    blind prefixing — so non-leading fields and subqueries survive
    (reference qualify_expression_fields,
    tests/core/test_consumption_compiler.py:88-120)."""
    from sidemantic_spark.core.consumption import (
        expression_field_references,
        qualify_expression_fields,
    )

    known = {"status", "priority", "revenue"}
    assert qualify_expression_fields(
        ["status IN (SELECT status FROM allowed_statuses)"], "orders", known
    ) == ["orders.status IN (SELECT status FROM allowed_statuses)"]
    assert expression_field_references(
        ["status IN (SELECT status FROM allowed_statuses)"], "orders", known
    ) == {"orders.status"}
    # correlated qualified ref counts; the subquery-local alias does not
    assert expression_field_references(
        ["EXISTS (SELECT 1 FROM allowed a WHERE a.status = orders.status)"],
        "orders", known,
    ) == {"orders.status"}
    # Spark reads \' as an escaped quote, so `secret = 1` runs as code
    # and the allowlist scan must see it
    assert expression_field_references(
        ["status = 'x\\'' OR secret = 1 --'"], "orders", {"status", "secret"}
    ) == {"orders.status", "orders.secret"}

    layer.graph.explores.pop("gov_relative", None)
    layer.add_explore(Explore(
        name="gov_relative",
        model="orders",
        default_metrics=["revenue"],
        default_dimensions=["status"],
        filters=["status != 'P'"],
        default_order_by=["revenue DESC"],
    ))
    df = layer.query(explore="gov_relative")
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderstatus AS status, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        FROM orders WHERE o_orderstatus != 'P' GROUP BY 1
        """,
    )


def test_sql_path_enforces_visibility_and_cache_isolation(spark, sf_dir):
    """Hidden fields are denied through layer.sql/rewrite exactly as on
    the structured path, and the rewrite cache is isolated by the
    visibility state and every other generator flag (reference
    test_sql_and_raw_deny_hidden_fields_when_visibility_enforced +
    test_sql_rewrite_cache_isolated_by_visibility_state)."""
    from sidemantic_spark.core.security import SecurityError
    from sidemantic_spark.models.tpch import build_layer

    vlayer = build_layer(spark, sf_dir)
    met = vlayer.graph.get_model("orders").metric("revenue")
    met.public = False
    try:
        with pytest.raises(SecurityError, match="not public"):
            vlayer.rewrite("SELECT orders.revenue FROM orders")
        # enforcement off: compiles and seeds the cache
        vlayer.enforce_visibility = False
        assert vlayer.rewrite("SELECT orders.revenue FROM orders")
        # back on: the cached compile must NOT leak through
        vlayer.enforce_visibility = True
        with pytest.raises(SecurityError, match="not public"):
            vlayer.rewrite("SELECT orders.revenue FROM orders")
    finally:
        met.public = True

    # every per-request mode and generator flag in the cache keys: after
    # a flip, the same request must not return the SQL cached before it,
    # on the compile path and on the rewrite path; flipping back must
    # not return the flipped SQL either
    from sidemantic_spark.preagg.matcher import PreAggregation
    from sidemantic_spark.sql.generator import QueryCompileError

    gen = vlayer.generator
    vlayer.graph.get_model("orders").pre_aggregations = [PreAggregation(
        name="by_status", measures=["revenue"], dimensions=["status"],
    )]
    vlayer.graph._invalidate()
    routed = "SELECT orders.status, orders.revenue FROM orders"
    routed_kw = dict(metrics=["orders.revenue"], dimensions=["orders.status"])
    assert "used_preagg=" in vlayer.rewrite(routed)
    assert "used_preagg=" in vlayer.compile(**routed_kw)
    assert "used_preagg=" not in vlayer.rewrite(routed, use_preaggs=False)
    assert "used_preagg=" not in vlayer.compile(**routed_kw, use_preaggs=False)
    assert "used_preagg=" in vlayer.rewrite(routed)
    assert "used_preagg=" in vlayer.compile(**routed_kw)

    unroutable = "SELECT orders.priority, orders.revenue FROM orders"
    unroutable_kw = dict(
        metrics=["orders.revenue"], dimensions=["orders.priority"])
    assert vlayer.rewrite(unroutable)
    assert vlayer.compile(**unroutable_kw)
    with pytest.raises(QueryCompileError, match="preagg_strict"):
        vlayer.rewrite(unroutable, preagg_strict=True)
    with pytest.raises(QueryCompileError, match="preagg_strict"):
        vlayer.compile(**unroutable_kw, preagg_strict=True)

    fanout = "SELECT lineitem.returnflag, orders.revenue FROM orders"
    fanout_kw = dict(
        metrics=["orders.revenue"], dimensions=["lineitem.returnflag"])
    assert "plan=grouped-dedup" in vlayer.rewrite(fanout)
    assert "plan=grouped-dedup" in vlayer.compile(**fanout_kw)

    snapshot = "SELECT lineitem.last_qty_per_part FROM lineitem"
    assert "plan=semi-additive" in vlayer.rewrite(snapshot)
    gen.allow_non_additive_unsafe = True
    assert "plan=semi-additive" not in vlayer.rewrite(snapshot)
    gen.allow_non_additive_unsafe = False


def test_filter_allowlist_rejects_aliased_subquery_scan(layer):
    """Aliasing the model inside a filter subquery (`FROM orders o ...
    o.priority`) hides column refs from extraction — the allowlist
    fails closed on subqueries that scan semantic models, while
    lookup-table subqueries and correlated refs keep working."""
    layer.graph.explores.pop("gov_alias", None)
    layer.add_explore(Explore(
        name="gov_alias",
        model="orders",
        allowed_metrics=["revenue"],
        allowed_dimensions=["status"],
        allowed_filter_fields=["status"],
        default_metrics=["revenue"],
    ))
    with pytest.raises(ContractError, match="subqueries scanning model"):
        layer.compile(
            explore="gov_alias",
            filters=["EXISTS (SELECT 1 FROM orders o WHERE o.priority = '1-URGENT')"],
        )
    # lookup-table subquery still allowed (reference permits these)
    layer.compile(
        explore="gov_alias",
        filters=["orders.status IN (SELECT s FROM allowed_statuses)"],
    )


def test_order_allowlist_accepts_grain_variants(layer):
    layer.graph.explores.pop("gov_grain", None)
    layer.add_explore(Explore(
        name="gov_grain",
        model="orders",
        allowed_order_by=["order_date"],
        default_metrics=["revenue"],
        default_dimensions=["order_date__month"],
    ))
    # the grain variant of an allowed field is the same field
    layer.compile(explore="gov_grain", order_by=["order_date__month DESC"])
    with pytest.raises(ContractError, match="does not allow ordering"):
        layer.compile(explore="gov_grain", order_by=["revenue"])


def test_visibility_enforcement_does_not_latch(spark, sf_dir):
    """Turning layer.enforce_visibility back OFF must actually disable
    enforcement on the SQL path (the flag is assigned, not latched)."""
    from sidemantic_spark.core.security import SecurityError
    from sidemantic_spark.models.tpch import build_layer

    vlayer = build_layer(spark, sf_dir)
    met = vlayer.graph.get_model("orders").metric("revenue")
    met.public = False
    try:
        with pytest.raises(SecurityError):
            vlayer.rewrite("SELECT orders.revenue FROM orders")
        vlayer.enforce_visibility = False
        # must compile — enforcement is off again, no stale True flag
        assert vlayer.rewrite("SELECT orders.revenue FROM orders")
    finally:
        vlayer.enforce_visibility = True
        met.public = True


def test_secured_sql_nested_shapes_fail_closed(spark, sf_dir):
    """The reference's transport-parity battery (tests/server/
    test_transport_security_parity.py:189): EXISTS predicates probing
    hidden fields and scalar projection subqueries must fail closed on
    a secured layer — each is an oracle channel if allowed through."""
    import pytest as _pytest

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityPolicy
    from sidemantic_spark.models.tpch import register_tables

    register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="sec2_orders", table="orders", primary_key="o_orderkey",
        dimensions=[Dimension(name="status", sql="o_orderstatus"),
                    Dimension(name="secret_note", sql="o_comment", public=False)],
        metrics=[Metric(name="total_amount", agg="sum", sql="o_totalprice")],
        security=SecurityPolicy(row_filters=["o_orderstatus = 'F'"]),
    ))
    with _pytest.raises(Exception) as e1:
        layer.sql(
            "SELECT total_amount FROM sec2_orders WHERE EXISTS "
            "(SELECT 1 FROM sec2_orders WHERE secret_note = 'x')"
        ).collect()
    assert "secret_note" in str(e1.value)
    with _pytest.raises(Exception):
        layer.sql(
            "SELECT (SELECT 1 FROM sec2_orders LIMIT 1) AS leaked, "
            "total_amount FROM sec2_orders"
        ).collect()


def test_result_cache_singleflight_runs_compute_once(layer):
    """Reference tests/core/test_result_cache.py:121-153: concurrent
    identical cached queries run the plan ONCE; waiters share the
    leader's persisted frame."""
    import threading

    layer._result_cache.clear()
    layer._cache_hits = layer._cache_misses = 0
    hold, entered = threading.Event(), threading.Event()
    calls = {"n": 0}
    orig = layer._query_uncached

    def slow(sql, kwargs):
        calls["n"] += 1
        entered.set()
        assert hold.wait(timeout=10.0)
        return orig(sql, kwargs)

    layer._query_uncached = slow
    results = {}

    def worker(name):
        results[name] = layer.query(
            use_cache=True, metrics=["orders.revenue"],
            dimensions=["orders.status"],
        )

    try:
        t1 = threading.Thread(target=worker, args=("t1",)); t1.start()
        assert entered.wait(timeout=10.0)
        t2 = threading.Thread(target=worker, args=("t2",)); t2.start()
        import time
        time.sleep(0.2)  # let t2 register as a waiter
        hold.set()
        t1.join(timeout=15); t2.join(timeout=15)
    finally:
        layer._query_uncached = orig
        hold.set()
    assert calls["n"] == 1
    assert results["t1"] is results["t2"]
    assert not layer._inflight


def test_result_cache_singleflight_failure_propagates_without_poison(layer):
    """Reference tests/core/test_result_cache.py:156-199: a leader
    failure reaches every waiter of that generation, and the next call
    recomputes cleanly."""
    import threading
    import time

    layer._result_cache.clear()
    hold, entered = threading.Event(), threading.Event()
    calls = {"n": 0}
    orig = layer._query_uncached

    class BoomError(RuntimeError):
        pass

    def boom(sql, kwargs):
        calls["n"] += 1
        entered.set()
        assert hold.wait(timeout=10.0)
        raise BoomError("compute failed")

    layer._query_uncached = boom
    errors = {}

    def worker(name):
        try:
            layer.query(use_cache=True, metrics=["orders.revenue"],
                        dimensions=["orders.status"])
        except BaseException as exc:
            errors[name] = exc

    try:
        t1 = threading.Thread(target=worker, args=("t1",)); t1.start()
        assert entered.wait(timeout=10.0)
        t2 = threading.Thread(target=worker, args=("t2",)); t2.start()
        time.sleep(0.2)
        hold.set()
        t1.join(timeout=15); t2.join(timeout=15)
    finally:
        layer._query_uncached = orig
        hold.set()
    assert calls["n"] == 1
    assert isinstance(errors.get("t1"), BoomError)
    assert isinstance(errors.get("t2"), BoomError)
    assert not layer._inflight
    # no poisoned state: a fresh call recomputes and caches
    df = layer.query(use_cache=True, metrics=["orders.revenue"],
                     dimensions=["orders.status"])
    assert df.count() > 0


def test_visibility_blocks_bare_and_quoted_hidden_refs(spark):
    """Reference tests/core/test_security_advisor_regressions.py:153-187
    — hidden fields must not leak through BARE or QUOTED spellings in
    filters/order_by (fail-closed: the classifier's quote-opacity is
    not a security bypass); literals naming a hidden field are data."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError

    lyr = SparkSemanticLayer(spark)
    lyr.enforce_visibility = True
    lyr.add_model(Model(
        name="vg_orders", table="t", primary_key="id",
        dimensions=[Dimension(name="region"),
                    Dimension(name="margin", type="numeric", public=False)],
        metrics=[Metric(name="cnt", agg="count")],
    ))
    blocked = [
        dict(metrics=["vg_orders.cnt"], filters=["vg_orders.margin > 100"]),
        dict(metrics=["vg_orders.cnt"], filters=["margin > 100"]),
        dict(metrics=["vg_orders.cnt"], filters=['"vg_orders"."margin" > 100']),
        dict(metrics=["vg_orders.cnt"], dimensions=["vg_orders.region"],
             order_by=["vg_orders.margin"]),
        dict(metrics=["vg_orders.cnt"], dimensions=["vg_orders.region"],
             order_by=["margin"]),
    ]
    for kw in blocked:
        with pytest.raises(SecurityError, match="margin"):
            lyr.compile(**kw)
    # allowed: public fields, and literals that merely NAME the field
    lyr.compile(metrics=["vg_orders.cnt"], dimensions=["vg_orders.region"])
    lyr.compile(metrics=["vg_orders.cnt"], filters=["region = 'margin'"])


def test_visibility_blocks_non_public_segment(spark):
    """Reference test_security_advisor_regressions.py:229: a
    public=False segment referenced in a query is rejected under
    enforce_visibility; without enforcement it applies normally."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Segment
    from sidemantic_spark.core.security import SecurityError

    spark.sql(
        "SELECT 1 AS id, 'internal' AS status UNION ALL SELECT 2, 'shipped'"
    ).createOrReplaceTempView("vseg_orders")
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="vseg_orders", table="vseg_orders", primary_key="id",
        dimensions=[Dimension(name="status")],
        metrics=[Metric(name="cnt", agg="count")],
        segments=[Segment(name="internal", sql="{model}.status = 'internal'",
                          public=False)],
    ))
    # enforcement off: the hidden segment still works
    lyr.enforce_visibility = False
    rows = lyr.query(metrics=["vseg_orders.cnt"],
                     segments=["vseg_orders.internal"]).collect()
    assert rows[0][0] == 1
    lyr.enforce_visibility = True
    with pytest.raises(SecurityError, match="internal"):
        lyr.compile(metrics=["vseg_orders.cnt"],
                    segments=["vseg_orders.internal"])


def test_row_filter_boolean_control_flow_and_typed_literals():
    """Reference test_security_advisor_regressions.py:18-43,213-227:
    typed interpolation, quote-breakout neutralization, and {% if %}
    truthiness on raw values."""
    from sidemantic_spark.core.security import SecurityError, render_row_filter

    def f(t, u):
        return render_row_filter(t, u, ctx="test")

    assert f("tenant_id = {{ user.tenant_id }}", {"tenant_id": "1 OR 1=1"}) \
        == "tenant_id = '1 OR 1=1'"
    assert f("email = '{{ user.email }}'", {"email": "x' OR '1'='1"}) \
        == "email = 'x'' OR ''1''=''1'"
    assert f("n = {{ user.n }}", {"n": 42}) == "n = 42"
    assert f("fl = {{ user.fl }}", {"fl": 1.5}) == "fl = 1.5"
    assert f("b = {{ user.b }}", {"b": True}) == "b = TRUE"
    assert f("x = {{ user.x }}", {"x": None}) == "x = NULL"
    with pytest.raises(SecurityError):
        f("x = {{ user.x }}", {"x": object()})
    t = ("{% if user.is_admin %}1=1{% else %}"
         "tenant_id = {{ user.tenant_id }}{% endif %}")
    assert f(t, {"is_admin": False, "tenant_id": 7}) == "tenant_id = 7"
    assert f(t, {"is_admin": True, "tenant_id": 7}) == "1=1"
    c = ("{% if user.role == 'admin' %}1=1{% else %}"
         "region = {{ user.region }}{% endif %}")
    assert f(c, {"role": "analyst", "region": "US"}) == "region = 'US'"


def test_row_filter_subquery_and_sql_first_access_gate(spark):
    """Reference test_security_advisor_regressions.py:290-338: a
    row-filter subquery keeps inner columns unqualified; the SQL-first
    path evaluates the access gate against the caller's attributes
    (deny-by-default, allow analyst, deny guest)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError, SecurityPolicy

    spark.sql(
        "SELECT 1 AS id, 10 AS v UNION ALL SELECT 2,20 UNION ALL SELECT 3,30"
    ).createOrReplaceTempView("rsq_t")
    spark.sql("SELECT 1 AS id UNION ALL SELECT 3").createOrReplaceTempView(
        "rsq_allowed"
    )
    lyr = SparkSemanticLayer(spark)
    lyr.add_model(Model(
        name="rsq_t", table="rsq_t", primary_key="id",
        dimensions=[Dimension(name="id", type="numeric")],
        metrics=[Metric(name="tot", agg="sum", sql="v")],
        security=SecurityPolicy(
            row_filters=["id IN (SELECT id FROM rsq_allowed)"]
        ),
    ))
    assert lyr.query(metrics=["rsq_t.tot"], user={}).collect()[0][0] == 40

    spark.sql("SELECT 1 AS id, 10 AS amount").createOrReplaceTempView(
        "rsq_orders"
    )
    lyr2 = SparkSemanticLayer(spark)
    lyr2.add_model(Model(
        name="rsq_orders", table="rsq_orders", primary_key="id",
        metrics=[Metric(name="total", agg="sum", sql="amount")],
        security=SecurityPolicy(access="{{ user.role == 'analyst' }}"),
    ))
    with pytest.raises(SecurityError):
        lyr2.sql("SELECT total FROM rsq_orders").collect()
    assert lyr2.sql("SELECT total FROM rsq_orders",
                    user={"role": "analyst"}).collect()[0][0] == 10
    with pytest.raises(SecurityError):
        lyr2.sql("SELECT total FROM rsq_orders",
                 user={"role": "guest"}).collect()


def test_explore_allowlist_validation_matrix():
    """Reference tests/core/test_consumption_types.py:56-104: every
    default must satisfy its own allowlist at construction; View is an
    alias of Explore; SavedQuery rejects negative limits and unknown
    fields and defaults visibility to public."""
    from sidemantic_spark.core.consumption import (
        ContractError, Explore, SavedQuery, View,
    )

    assert View is Explore
    valid = Explore(
        name="revenue_overview", model="orders",
        allowed_dimensions=["status"], allowed_metrics=["orders.revenue"],
        allowed_filter_fields=["status"], allowed_order_by=["revenue"],
        default_dimensions=["orders.status"], default_metrics=["revenue"],
        default_filters=["status = 'paid'"],
        default_order_by=["revenue DESC"],
        default_limit=25, max_limit=100,
    )
    assert valid.default_metrics == ["revenue"]

    bad = [
        (dict(allowed_dimensions=["status"],
              default_dimensions=["created_at"]), "default_dimensions"),
        (dict(allowed_metrics=["revenue"],
              default_metrics=["order_count"]), "default_metrics"),
        (dict(allowed_filter_fields=["status"],
              default_filters=["created_at > '2026-01-01'"]),
         "default_filters"),
        (dict(allowed_order_by=["revenue"],
              default_order_by=["status ASC"]), "default_order_by"),
        (dict(default_limit=101, max_limit=100), "default_limit"),
    ]
    for kw, msg in bad:
        with pytest.raises(ContractError, match=msg):
            Explore(name="invalid", model="orders", **kw)

    q = SavedQuery(name="paid_revenue", explore="revenue_overview",
                   metrics=["revenue"], filters=["status = 'paid'"], limit=10)
    assert q.visibility == "public"
    with pytest.raises(ContractError, match="limit"):
        SavedQuery(name="negative_limit", limit=-1)
    with pytest.raises(TypeError):  # dataclass analogue of extra_forbidden
        SavedQuery(name="unknown_field", unknown=True)


def test_visibility_hidden_refs_survive_alias_and_grain_spellings(spark):
    """Review findings: an embedded `AS model` alias must not blind the
    visibility scan, and grain-suffixed bare spellings of a hidden time
    dimension are rejected too."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError

    lyr = SparkSemanticLayer(spark)
    lyr.enforce_visibility = True
    lyr.add_model(Model(
        name="vh_orders", table="t", primary_key="id",
        dimensions=[
            Dimension(name="region"),
            Dimension(name="margin", type="numeric", public=False),
            Dimension(name="created_at", type="time", public=False),
        ],
        metrics=[Metric(name="cnt", agg="count")],
    ))
    with pytest.raises(SecurityError, match="margin"):
        lyr.compile(metrics=["vh_orders.cnt"], filters=[
            "vh_orders.margin > 0 AND "
            "EXISTS (SELECT 1 FROM audit AS vh_orders)"
        ])
    with pytest.raises(SecurityError, match="created_at"):
        lyr.compile(metrics=["vh_orders.cnt"],
                    filters=["created_at__month >= DATE '2024-01-01'"])
    with pytest.raises(SecurityError, match="created_at"):
        lyr.compile(metrics=["vh_orders.cnt"],
                    filters=["vh_orders.created_at__month >= DATE '2024-01-01'"])


def test_yaml_segment_public_roundtrip(spark):
    """Review finding: `public: false` on a YAML segment must survive
    load (enforcement applies) and export."""
    from sidemantic_spark.authoring import load_yaml
    from sidemantic_spark.authoring.yaml_io import export_yaml
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.security import SecurityError

    spark.sql("SELECT 1 AS id, 'internal' AS status").createOrReplaceTempView(
        "ys_orders")
    lyr = SparkSemanticLayer(spark)
    load_yaml(lyr, """
version: 1
models:
  - name: ys_orders
    table: ys_orders
    primary_key: id
    dimensions:
      - name: status
    metrics:
      - name: cnt
        agg: count
    segments:
      - name: internal
        sql: "{model}.status = 'internal'"
        public: false
""")
    seg = lyr.graph.get_model("ys_orders").segment("internal")
    assert seg is not None and seg.public is False
    lyr.enforce_visibility = True
    with pytest.raises(SecurityError, match="internal"):
        lyr.compile(metrics=["ys_orders.cnt"], segments=["ys_orders.internal"])
    assert "public: false" in export_yaml(lyr.graph)


def test_explore_default_filter_validation_accepts_expressions():
    """Review finding: function calls, subqueries over non-semantic
    tables, and grain-suffixed spellings of allowed fields are all
    legitimate default_filters."""
    from sidemantic_spark.core.consumption import ContractError, Explore

    Explore(name="ok1", model="orders",
            allowed_filter_fields=["region"],
            default_filters=["UPPER(region) = 'EU'"])
    Explore(name="ok2", model="orders",
            allowed_filter_fields=["region"],
            default_filters=["region IN (SELECT r FROM allowed_regions)"])
    Explore(name="ok3", model="orders",
            allowed_filter_fields=["created_at"],
            default_filters=["created_at__month >= DATE '2024-01-01'"])
    with pytest.raises(ContractError, match="default_filters"):
        Explore(name="bad", model="orders",
                allowed_filter_fields=["region"],
                default_filters=["created_at > '2026-01-01'"])
    # grain variant of an allowed order field is the same field
    from sidemantic_spark.core.consumption import Explore as E2

    E2(name="ok4", model="orders", allowed_order_by=["created_at"],
       default_order_by=["created_at__month DESC"])


def test_explore_default_filter_subquery_alias_columns_pass():
    """Round-10 review #1: dotted subquery-alias columns (a.r) in a
    default filter are subquery-scope, not disallowed fields."""
    from sidemantic_spark.core.consumption import ContractError, Explore

    Explore(name="ok_alias", model="orders",
            allowed_filter_fields=["region"],
            default_filters=["region IN (SELECT a.r FROM allowed_regions a)"])
    # but the explore's own model stays binding
    with pytest.raises(ContractError, match="default_filters"):
        Explore(name="bad_own", model="orders",
                allowed_filter_fields=["region"],
                default_filters=["orders.margin > 0"])


def test_visibility_allows_nongrain_double_underscore_columns(spark):
    """Round-10 review #6: only REAL grain suffixes strip in the bare
    scan — a column literally named created_at__raw is its own name."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    lyr = SparkSemanticLayer(spark)
    lyr.enforce_visibility = True
    lyr.add_model(Model(
        name="vr_orders", table="t", primary_key="id",
        dimensions=[
            Dimension(name="created_at", type="time", public=False),
            Dimension(name="created_at__raw"),  # distinct public column
        ],
        metrics=[Metric(name="cnt", agg="count")],
    ))
    # non-grain __suffix is NOT a spelling of the hidden time dim
    lyr.compile(metrics=["vr_orders.cnt"],
                filters=["created_at__raw = 'x'"])


def test_explore_default_filters_accept_niladic_sql_keywords():
    """ADVICE r10 (medium): CURRENT_DATE / INTERVAL-unit keywords in
    default_filters are SQL, not field refs — the reference's
    sqlglot-based expression_field_references collects exp.Column only,
    so `created_at >= CURRENT_DATE - INTERVAL '7' DAY` is legal under
    allowed_filter_fields=['created_at']."""
    from sidemantic_spark.core.consumption import ContractError, Explore

    e = Explore(
        name="recent", model="orders",
        allowed_filter_fields=["created_at"],
        default_filters=[
            "orders.created_at >= CURRENT_DATE - INTERVAL '7' DAY",
            "created_at < CURRENT_TIMESTAMP",
        ],
    )
    assert e.default_filters
    # a genuinely disallowed bare field still rejects
    import pytest as _pytest
    with _pytest.raises(ContractError, match="status"):
        Explore(
            name="bad", model="orders",
            allowed_filter_fields=["created_at"],
            default_filters=["status = 'paid' AND created_at >= CURRENT_DATE"],
        )


def test_bare_filter_token_scoped_to_touched_models(spark):
    """ADVICE r10 (low): a bare token in a filter on model A must not be
    rejected just because an UNRELATED model hides a field of the same
    name — bare-token visibility checks scope to the models the query
    touches (falling back to all models only when nothing resolves)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model
    from sidemantic_spark.core.security import SecurityError

    lyr = SparkSemanticLayer(spark)
    lyr.enforce_visibility = True
    lyr.add_model(Model(
        name="bs_orders", table="t1", primary_key="id",
        dimensions=[Dimension(name="region")],
        metrics=[Metric(name="cnt", agg="count")],
    ))
    lyr.add_model(Model(
        name="bs_audit", table="t2", primary_key="id",
        dimensions=[Dimension(name="region", public=False)],
        metrics=[Metric(name="acnt", agg="count")],
    ))
    # qualified-scope query on bs_orders: bare `region` binds to
    # bs_orders.region (public) — bs_audit's hidden homonym is unrelated
    sql = lyr.compile(metrics=["bs_orders.cnt"], filters=["region = 'emea'"])
    assert "bs_orders" in sql
    # the hidden field still rejects when the query touches ITS model
    import pytest as _pytest
    with _pytest.raises(SecurityError, match="region"):
        lyr.compile(metrics=["bs_audit.acnt"], filters=["region = 'emea'"])
    # unqualified selected metric resolves scope too
    with _pytest.raises(SecurityError, match="region"):
        lyr.compile(metrics=["acnt"], filters=["region = 'emea'"])


def test_interval_unit_words_are_positional_not_global():
    """Review #6: a COLUMN named `year`/`day` still lints against the
    allowlist; only the unit word inside INTERVAL '<n>' <unit> is SQL."""
    import pytest as _pytest

    from sidemantic_spark.core.consumption import ContractError, Explore

    # interval-positioned unit: fine
    Explore(
        name="ok", model="orders", allowed_filter_fields=["created_at"],
        default_filters=["created_at >= CURRENT_DATE - INTERVAL '1' YEAR"],
    )
    # bare column named year: flagged when not allowed
    with _pytest.raises(ContractError, match="year"):
        Explore(
            name="bad", model="orders",
            allowed_filter_fields=["created_at"],
            default_filters=["year >= 2020"],
        )
