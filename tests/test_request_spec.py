"""A request's settings live in its ``QuerySpec``: the per-request modes
(``use_preaggs``, ``preagg_strict``) are per-call keywords, every sub-query a plan compiles (window inner query,
multi-fact per-fact query) inherits the request's ``user``, ``timezone``
and modes, and ``query()`` / ``sql()`` share one missing-rollup
fallback that fires only for a declared pre-aggregation's table.
"""

from __future__ import annotations

import dataclasses
import threading

import pytest
from pyspark.errors import AnalysisException

from sidemantic_spark.core.security import SecurityPolicy
from sidemantic_spark.models.tpch import build_layer
from sidemantic_spark.preagg.matcher import PreAggregation
from sidemantic_spark.sql.generator import QuerySpec, SqlGenerator

TZ = "America/New_York"
MONTH = "orders.order_date__month"


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    return build_layer(spark, sf_dir)


def _by_month(df, *cols):
    return {r["order_date__month"]: tuple(r[c] for c in cols)
            for r in df.collect()}


def _running(by_month):
    out, acc = {}, 0
    for month in sorted(by_month):
        acc += by_month[month][0] or 0
        out[month] = (acc,)
    return out


# ---------------------------------------------------------------------------
# sub-queries inherit the request's context
# ---------------------------------------------------------------------------

def test_window_inner_query_keeps_timezone(layer):
    base = _by_month(layer.query(
        metrics=["orders.revenue"], dimensions=[MONTH], timezone=TZ),
        "revenue")
    cum = _by_month(layer.query(
        metrics=["orders.cumulative_revenue"], dimensions=[MONTH],
        timezone=TZ), "cumulative_revenue")
    assert cum == _running(base)
    # the zone moves month-start orders into the previous month
    utc = _by_month(layer.query(
        metrics=["orders.revenue"], dimensions=[MONTH]), "revenue")
    assert base != utc


def test_multifact_sub_queries_keep_timezone(layer):
    got = _by_month(layer.query(
        metrics=["orders.revenue", "lineitem.qty"], dimensions=[MONTH],
        timezone=TZ), "revenue", "qty")
    rev = _by_month(layer.query(
        metrics=["orders.revenue"], dimensions=[MONTH], timezone=TZ),
        "revenue")
    qty = _by_month(layer.query(
        metrics=["lineitem.qty"], dimensions=[MONTH], timezone=TZ), "qty")
    assert got == {
        m: (rev.get(m, (None,))[0], qty.get(m, (None,))[0])
        for m in set(rev) | set(qty)
    }


@pytest.fixture
def secured(spark, sf_dir):
    lay = build_layer(spark, sf_dir)
    lay.graph.get_model("orders").security = SecurityPolicy(
        row_filters=["o_orderstatus = {{ user.status }}"])
    return lay


def test_window_and_multifact_apply_row_security_for_user(secured):
    user = {"status": "F"}
    rev = _by_month(secured.query(
        metrics=["orders.revenue"], dimensions=[MONTH], user=user),
        "revenue")
    qty = _by_month(secured.query(
        metrics=["lineitem.qty"], dimensions=[MONTH], user=user), "qty")
    everyone = _by_month(secured.query(
        metrics=["orders.revenue"], dimensions=[MONTH], user={"status": "O"}),
        "revenue")
    assert rev and rev != everyone  # the policy scopes the rows

    cum = _by_month(secured.query(
        metrics=["orders.cumulative_revenue"], dimensions=[MONTH],
        user=user), "cumulative_revenue")
    assert cum == _running(rev)

    both = _by_month(secured.query(
        metrics=["orders.revenue", "lineitem.qty"], dimensions=[MONTH],
        user=user), "revenue", "qty")
    assert both == {
        m: (rev.get(m, (None,))[0], qty.get(m, (None,))[0])
        for m in set(rev) | set(qty)
    }


# ---------------------------------------------------------------------------
# the modes are per call and part of the one cache key
# ---------------------------------------------------------------------------

def test_unknown_fanout_strategy_raises(layer):
    """A fan-out join has one plan, so the removed ``fanout_strategy``
    keyword is unknown to every compile entry point."""
    kw = dict(metrics=["orders.revenue"], dimensions=["lineitem.returnflag"],
              fanout_strategy="dedup")
    with pytest.raises(TypeError, match="fanout_strategy"):
        layer.compile(**kw)
    with pytest.raises(TypeError, match="fanout_strategy"):
        layer.explain_plan(**kw)
    with pytest.raises(TypeError, match="fanout_strategy"):
        layer.rewrite("SELECT orders.revenue FROM orders",
                      fanout_strategy="dedup")
    # semantic SQL takes the two modes only, no other spec field
    with pytest.raises(TypeError):
        layer.rewrite("SELECT orders.revenue FROM orders", timezone=TZ)


def test_explain_plan_reports_the_request_strategy(layer):
    kw = dict(metrics=["orders.revenue"], dimensions=["lineitem.returnflag"])
    plan = layer.explain_plan(**kw)
    assert plan["fanout"]["strategy"] == "auto_entity_grain_dedup"
    assert "plan=grouped-dedup" in plan["compiled_sql"]
    assert layer.explain_plan(
        metrics=["orders.revenue"], dimensions=["orders.status"],
    )["fanout"]["strategy"] is None


def test_cache_key_covers_every_spec_field(layer):
    """Changing any one QuerySpec field changes the compile-cache key,
    and the generator holds none of the per-request modes."""
    gen = layer.generator
    base = QuerySpec(metrics=["orders.revenue"])
    other = {"limit": 7, "offset": 7, "user": {"k": [1]}, "timezone": "UTC",
             "parameters": {"k": [1]}}
    keys = {gen._cache_key(base)}
    for f in dataclasses.fields(QuerySpec):
        value = getattr(base, f.name)
        new = other.get(f.name, not value if isinstance(value, bool) else ["x"])
        keys.add(gen._cache_key(dataclasses.replace(base, **{f.name: new})))
    assert len(keys) == len(dataclasses.fields(QuerySpec)) + 1
    for mode in ("use_preaggs", "preagg_strict"):
        assert not hasattr(SqlGenerator(layer.graph), mode)


# ---------------------------------------------------------------------------
# one execution path, one missing-rollup fallback
# ---------------------------------------------------------------------------

@pytest.fixture
def unbuilt(spark, sf_dir):
    """A layer whose orders rollup is declared but never materialized."""
    lay = build_layer(spark, sf_dir)
    lay.graph.get_model("orders").pre_aggregations = [PreAggregation(
        name="never_built", measures=["revenue"], dimensions=["status"])]
    assert not spark.catalog.tableExists("orders_preagg_never_built")
    return lay


def test_sql_falls_back_on_unbuilt_rollup(unbuilt):
    text = "SELECT orders.status, orders.revenue FROM orders"
    assert "used_preagg=orders_preagg_never_built" in unbuilt.rewrite(text)
    got = sorted(map(tuple, unbuilt.sql(text).collect()))
    raw = sorted(map(tuple, unbuilt.query(
        metrics=["orders.revenue"], dimensions=["orders.status"],
        use_preaggs=False).collect()))
    assert got == raw and len(got) == 3
    assert got == sorted(map(tuple, unbuilt.query(
        metrics=["orders.revenue"], dimensions=["orders.status"]).collect()))


def test_routed_query_missing_base_table_raises_without_fallback(
        spark, tmp_path, monkeypatch):
    """The join-key route reads the (built) rollup AND the dimension's
    base table; when that base table is missing, the error is not about
    a pre-aggregation, so it propagates as is."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 11, 1.0)],
        "id long, cust_id long, amount double",
    ).createOrReplaceTempView("rq_facts")
    spark.createDataFrame(
        [(10, "A"), (11, "B")], "id long, segment string",
    ).createOrReplaceTempView("rq_custs")
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="rq_facts", table="rq_facts", primary_key="id",
        dimensions=[Dimension(name="cust_id", type="numeric")],
        metrics=[Metric(name="amount", agg="sum", sql="amount")],
        relationships=[Relationship(
            name="rq_custs", type="many_to_one", foreign_key="cust_id")],
        pre_aggregations=[PreAggregation(
            name="by_cust", measures=["amount"], dimensions=["cust_id"])],
    ))
    lay.add_model(Model(
        name="rq_custs", table="rq_custs", primary_key="id",
        dimensions=[Dimension(name="segment")],
    ))
    lay.preaggs.base_path = str(tmp_path / "rollups")
    lay.preaggs.materialize("rq_facts")
    kw = dict(metrics=["rq_facts.amount"], dimensions=["rq_custs.segment"])
    sql = lay.compile(**kw)
    assert "used_preagg=rq_facts_preagg_by_cust" in sql and "rq_custs" in sql
    spark.catalog.dropTempView("rq_custs")
    # a model whose name physical_name rejects (Model does not validate
    # names) must not turn the missing-table error into a ValueError
    lay.add_model(Model(
        name="rq odd", table="rq_facts", primary_key="id",
        metrics=[Metric(name="amount", agg="sum", sql="amount")],
        pre_aggregations=[PreAggregation(name="p", measures=["amount"])],
    ))

    compiles = []
    real = lay.compile
    monkeypatch.setattr(
        lay, "compile", lambda **k: compiles.append(k) or real(**k))
    with pytest.raises(AnalysisException) as err:
        lay.query(**kw)
    assert err.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"
    assert "rq_custs" in err.value.getMessageParameters()["relationName"]
    assert len(compiles) == 1  # no fallback compile


def test_fallback_does_not_leak_across_threads(unbuilt, monkeypatch):
    """Thread A is held inside its missing-rollup fallback while another
    request compiles a routable query: that request still routes, and A
    still gets the base-table rows it fell back to."""
    spark = unbuilt.spark
    routable = dict(metrics=["orders.revenue"], dimensions=["orders.status"])
    a_in_fallback, release_a = threading.Event(), threading.Event()
    out: dict = {}

    class HoldFallback:
        def __getattr__(self, name):
            return getattr(spark, name)

        def sql(self, text, *a, **kw):
            if (threading.current_thread().name == "A"
                    and "used_preagg=" not in text):
                a_in_fallback.set()
                assert release_a.wait(30)
            return spark.sql(text, *a, **kw)

    monkeypatch.setattr(unbuilt, "spark", HoldFallback())

    def run_a():
        out["a_rows"] = sorted(map(tuple, unbuilt.query(**routable).collect()))

    a = threading.Thread(target=run_a, name="A")
    try:
        a.start()
        assert a_in_fallback.wait(30)
        # A's fallback is in flight: another request still routes
        assert "used_preagg=orders_preagg_never_built" in \
            unbuilt.compile(**routable)
        release_a.set()
        a.join(60)
    finally:
        release_a.set()
    assert not a.is_alive()
    assert len(out["a_rows"]) == 3


# ---------------------------------------------------------------------------
# refresh_incremental leaves the session conf alone
# ---------------------------------------------------------------------------

def test_incremental_refresh_uses_writer_option_not_session_conf(
        spark, tmp_path, monkeypatch):
    import datetime
    import os

    from pyspark.sql import DataFrameWriter

    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    days = [datetime.date(1997, 1, 1) + datetime.timedelta(days=i)
            for i in range(75)]
    spark.createDataFrame(
        [(d, float(i)) for i, d in enumerate(days)], "od date, amount double",
    ).createOrReplaceTempView("rq_inc_src")
    pa = PreAggregation(
        name="mo", measures=["amt"], dimensions=[], time_dimension="od",
        granularity="day", partition_granularity="month",
    )
    model = Model(
        name="rq_inc", table="rq_inc_src", primary_key="od",
        dimensions=[Dimension(name="od", type="time", sql="od")],
        metrics=[Metric(name="amt", agg="sum", sql="amount")],
        pre_aggregations=[pa],
    )
    lay = SparkSemanticLayer(spark)
    lay.add_model(model)
    lay.preaggs.base_path = str(tmp_path / "rollups")
    lay.preaggs.materialize("rq_inc")
    rollup_dir = lay.preaggs.path_for(model, pa)
    jan = os.path.join(rollup_dir, "__part=1997-01-01")
    jan_files = sorted(os.listdir(jan))

    seen = []
    parquet = DataFrameWriter.parquet

    def recording(self, *a, **kw):
        seen.append(spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode").lower())
        return parquet(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    lay.preaggs.refresh_incremental("rq_inc", "mo", "DATE '1997-03-01'")
    assert seen == ["static"]
    assert sorted(os.listdir(jan)) == jan_files  # untouched partition kept
    got = lay.query(metrics=["rq_inc.amt"]).collect()[0][0]
    assert got == sum(float(i) for i in range(75))
