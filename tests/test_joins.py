"""Join graph correctness: multi-hop, fan-out safety, multi-fact split.

Mirrors sidemantic ``tests/joins/`` + ``tests/metrics/test_symmetric_aggs.py``
semantics on the TPC-H star (lineitem >- orders >- customer >- nation >-
region).
"""

from __future__ import annotations

import pytest

from sidemantic_spark.models.tpch import build_layer
from tests.conftest import assert_df_matches_oracle


@pytest.fixture(scope="module")
def layer(spark, sf_dir):
    return build_layer(spark, sf_dir)


def test_many_to_one_join(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["customer.mktsegment"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT c.c_mktsegment AS mktsegment, SUM(o.o_totalprice) AS revenue
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        """,
    )


def test_multi_hop_join(layer, duck):
    df = layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["nation.name AS nation_name"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT n.n_name AS nation_name, SUM(o.o_totalprice) AS revenue, COUNT(*) AS order_count
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
        """,
    )


def test_three_hop_join_with_filter(layer, duck):
    df = layer.query(
        metrics=["orders.revenue"],
        dimensions=["region.name AS region_name"],
        filters=["region.name != 'EUROPE'"],
    )
    # filtered joined model -> INNER join (ref sql/generator.py:2549)
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT r.r_name AS region_name, SUM(o.o_totalprice) AS revenue
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name != 'EUROPE'
        GROUP BY 1
        """,
    )


def test_fanout_dedup_sum(layer, duck):
    """orders.revenue grouped by a lineitem dim: lineitem is the base
    (dims define the grain) and each order repeats per lineitem; SUM
    must count each order once per group."""
    df = layer.query(
        metrics=["orders.revenue", "orders.order_count"],
        dimensions=["lineitem.returnflag"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH joined AS (
            SELECT DISTINCT l.l_returnflag AS returnflag, o.o_orderkey, o.o_totalprice
            FROM lineitem l
            LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        )
        SELECT returnflag, SUM(o_totalprice) AS revenue,
               COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END) AS order_count
        FROM joined GROUP BY 1
        """,
    )
    sql = layer.compile(
        metrics=["orders.revenue"], dimensions=["lineitem.returnflag"]
    )
    # the one fan-out plan (why: the generator's _grouped_sql comment)
    assert "plan=grouped-dedup" in sql


def test_fanout_dedup_filtered_metric_with_same_dim(layer, duck):
    """Regression (round-5 ADVICE): a metric filter column that is ALSO
    selected as a dimension must not produce a duplicate column in
    __dedup — the re-attach uses a reserved __flt_ alias, so GROUP BY
    status stays unambiguous."""
    df = layer.query(
        metrics=["orders.open_revenue"],
        dimensions=["orders.status", "lineitem.returnflag"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH joined AS (
            SELECT DISTINCT o.o_orderstatus AS status,
                   l.l_returnflag AS returnflag,
                   o.o_orderkey, o.o_totalprice
            FROM orders o
            LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        )
        SELECT status, returnflag,
               SUM(CASE WHEN status = 'O'
                   THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS open_revenue
        FROM joined GROUP BY 1, 2
        """,
    )


def test_fanout_safe_aggs_passthrough(layer, duck):
    """min/max/count_distinct need no dedup under fan-out."""
    df = layer.query(
        metrics=["orders.max_order_value", "orders.customer_count"],
        dimensions=["lineitem.returnflag"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT l.l_returnflag AS returnflag,
               MAX(o.o_totalprice) AS max_order_value,
               COUNT(DISTINCT o.o_custkey) AS customer_count
        FROM lineitem l
        LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
        """,
    )


def test_fanout_stddev_refused(layer):
    from sidemantic_spark.core.model import Metric
    from sidemantic_spark.sql.generator import QueryCompileError

    orders = layer.graph.get_model("orders")
    if orders.metric("rev_stddev") is None:
        orders.add_metric(Metric(name="rev_stddev", agg="stddev", sql="o_totalprice"))
        layer.graph._invalidate()
    with pytest.raises(QueryCompileError, match="cannot be decomposed"):
        layer.compile(metrics=["orders.rev_stddev"], dimensions=["lineitem.returnflag"])


def test_multifact_split(layer, duck):
    """Metrics from two models at different grains must not cross-fan:
    one aggregated subquery per fact, joined on the dims (ref
    sql/generator.py:2586-2921; FIXTURES.md §7)."""
    df = layer.query(
        metrics=["orders.revenue", "customer.total_acctbal"],
        dimensions=["nation.name AS nation_name"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        WITH f_orders AS (
            SELECT n.n_name AS nation_name, SUM(o.o_totalprice) AS revenue
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        ),
        f_cust AS (
            SELECT n.n_name AS nation_name, SUM(c.c_acctbal) AS total_acctbal
            FROM customer c
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        )
        SELECT COALESCE(a.nation_name, b.nation_name) AS nation_name,
               a.revenue AS revenue, b.total_acctbal AS total_acctbal
        FROM f_orders a FULL OUTER JOIN f_cust b ON a.nation_name IS NOT DISTINCT FROM b.nation_name
        """,
    )


def test_lineitem_to_part_join(layer, duck):
    df = layer.query(
        metrics=["lineitem.disc_revenue"],
        dimensions=["part.brand"],
        filters=["lineitem.returnflag = 'R'"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT p.p_brand AS brand, SUM(l.l_extendedprice * (1 - l.l_discount)) AS disc_revenue
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1
        """,
    )


def test_dims_only_distinct(layer, duck):
    df = layer.query(dimensions=["orders.status", "orders.priority"])
    assert_df_matches_oracle(
        df,
        duck,
        "SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority FROM orders",
    )


def test_fanout_sum_count_avg_under_lineitem_filter(layer, duck):
    """A filter on the many side fans the orders metrics out; the
    entity-grain plan still returns each order once per group for sum,
    count and avg (ref tests/metrics/test_symmetric_aggs.py)."""
    kw = dict(
        metrics=["orders.revenue", "orders.order_count", "orders.avg_order_value"],
        dimensions=["orders.status"],
        filters=["lineitem.ship_date IS NOT NULL"],
    )
    assert "plan=grouped-dedup" in layer.compile(**kw)
    rows = {
        r["status"]: (float(r["revenue"]), r["order_count"], float(r["avg_order_value"]))
        for r in layer.query(**kw).collect()
    }
    expected = {
        s: (float(rev), cnt, float(avg))
        for s, rev, cnt, avg in duck.execute("""
            SELECT o_orderstatus,
                   SUM(o_totalprice), COUNT(*), AVG(o_totalprice)
            FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_shipdate IS NOT NULL)
            GROUP BY 1
        """).fetchall()
    }
    assert set(rows) == set(expected)
    for s in rows:
        got, exp = rows[s], expected[s]
        assert abs(got[0] - exp[0]) < 1e-3, (s, got, exp)
        assert got[1] == exp[1]
        assert abs(got[2] - exp[2]) < 1e-3


def test_dedup_pre_collapse_outer_join_misses(spark):
    """r12: the dedup plan pre-collapses DISTINCT (fk, dims) BEFORE the
    fact join when the fact is LEFT-joined on its full pk purely for
    measures. Pin the shape (no fact join inside __joined, __jk keys,
    single post-dedup fact join) and the miss semantics the old shape
    had: miss rows stay out of the count, contribute NULL to sums (an
    all-miss group is NULL/0), and a mixed group ignores its misses —
    even though misses no longer collapse to one NULL-pk row."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [(1, "A", 10), (2, "A", 10), (3, "A", 11), (6, "A", 98),
         (4, "B", 99), (5, "B", 98), (7, "C", 77)],
        "id long, flag string, order_id long",
    ).createOrReplaceTempView("dpc_items")
    spark.createDataFrame(
        [(10, 100), (11, 50)], "id long, amount long"
    ).createOrReplaceTempView("dpc_orders")
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="dp_items", table="dpc_items", primary_key="id",
        dimensions=[Dimension(name="flag")],
        relationships=[Relationship(
            name="dp_ords", type="many_to_one", foreign_key="order_id")],
    ))
    lay.add_model(Model(
        name="dp_ords", table="dpc_orders", primary_key="id",
        dimensions=[Dimension(name="amount")],
        metrics=[
            Metric(name="total", agg="sum", sql="amount"),
            Metric(name="cnt", agg="count"),
        ],
    ))
    sql = lay.compile(
        metrics=["dp_ords.total", "dp_ords.cnt"],
        dimensions=["dp_items.flag"],
    )
    assert "plan=grouped-dedup" in sql
    # pre-collapse shape: __joined scans the base alone (fk + dims, no
    # fact join), the fact attaches ONCE after the DISTINCT
    assert "__jk0" in sql
    assert sql.count("JOIN dp_ords_cte") == 1
    assert "LEFT JOIN dp_ords_cte __f ON __p.__jk0 = __f.__pk0" in sql
    rows = {
        r["flag"]: (None if r["total"] is None else int(r["total"]), r["cnt"])
        for r in lay.query(
            metrics=["dp_ords.total", "dp_ords.cnt"],
            dimensions=["dp_items.flag"],
        ).collect()
    }
    # A: orders 10 (duplicated by items 1+2) and 11, one miss (98)
    # B: two misses with DIFFERENT fks (99, 98) — must still count 0
    # C: one miss — all-miss group keeps the old shape's NULL sum
    assert rows == {"A": (150, 2), "B": (None, 0), "C": (None, 0)}

    # gates: a dim on the fact keeps the classic post-join dedup shape
    sql2 = lay.compile(
        metrics=["dp_ords.total"],
        dimensions=["dp_items.flag", "dp_ords.amount"],
    )
    assert "plan=grouped-dedup" in sql2 and "__jk0" not in sql2
    # gates: a pushed-down filter on the fact (INNER join prunes the
    # dedup input pre-DISTINCT) keeps the classic shape too
    sql3 = lay.compile(
        metrics=["dp_ords.total"],
        dimensions=["dp_items.flag"],
        filters=["dp_ords.amount > 60"],
    )
    assert "__jk0" not in sql3


def test_m2m_through_junction(layer, duck):
    """many_to_many through a junction model: orders <-> part via
    lineitem (reference core/semantic_graph.py:364-410). Fan-out is
    neutralized by PK dedup, so the count is distinct parts."""
    sql = layer.compile(
        metrics=["part.part_count"], dimensions=["orders.priority"]
    )
    assert "lineitem" in sql.lower()
    df = layer.query(metrics=["part.part_count"], dimensions=["orders.priority"])
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT o.o_orderpriority AS priority,
               COUNT(DISTINCT p.p_partkey) AS part_count
        FROM orders o
        LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1
        """,
    )


def test_cross_join_relationship(layer, duck):
    """cross relationship (reference core/semantic_graph.py:359-362)."""
    sql = layer.compile(
        metrics=["supplier.supplier_count"], dimensions=["part.brand AS brand"]
    )
    assert "CROSS JOIN" in sql
    df = layer.query(
        metrics=["supplier.supplier_count"], dimensions=["part.brand AS brand"]
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT p.p_brand AS brand,
               COUNT(DISTINCT s.s_suppkey) AS supplier_count
        FROM part p CROSS JOIN supplier s
        GROUP BY 1
        """,
    )


def test_composite_key_join_to_derived_table(layer, duck):
    """Composite-key one_to_one join to a derived-table model
    (reference sql/generator.py:2952-2962 composite keys, :302 derived
    scan)."""
    sql = layer.compile(
        metrics=["lineitem_x.qty2_total"], dimensions=["lineitem.returnflag"]
    )
    assert "l_linenumber = lineitem_x_cte.l_linenumber" in sql.replace("lineitem_cte.", "")
    assert "FROM (SELECT" in sql  # derived table inlined, not a catalog table
    df = layer.query(
        metrics=["lineitem_x.qty2_total"], dimensions=["lineitem.returnflag"]
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT l.l_returnflag AS returnflag, SUM(x.qty2) AS qty2_total
        FROM lineitem l
        LEFT JOIN (SELECT l_orderkey, l_linenumber, l_quantity * 2 AS qty2
                   FROM lineitem) x
          ON l.l_orderkey = x.l_orderkey AND l.l_linenumber = x.l_linenumber
        GROUP BY 1
        """,
    )


def test_foreign_key_queryable_as_dimension(layer, duck):
    """Reference tests/test_foreign_key_dimensions.py: a relationship's
    FK column groups without a join and without a declared dimension."""
    sql = layer.compile(
        metrics=["orders.revenue"], dimensions=["orders.o_custkey"]
    )
    assert "JOIN" not in sql.upper().replace("-- ", ""), sql
    df = layer.query(
        metrics=["orders.revenue"], dimensions=["orders.o_custkey"]
    )
    got = {r.o_custkey: float(r.revenue) for r in df.collect()}
    want = dict(
        duck.execute(
            "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            " FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_multifact_three_facts_merge_dims(spark, duck):
    """With 3+ facts, a dim value absent from the FIRST fact must still
    merge into one output row: the full-outer chain joins each fact on
    COALESCE of all prior facts' dims, not the first fact's alone."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [("x",), ("y",), ("z",), ("w",)], "sname string"
    ).createOrReplaceTempView("mf_d_t")
    for name, rows in (
        ("mf_a", [("x", 1), ("y", 2)]),
        ("mf_b", [("y", 10), ("z", 20)]),
        ("mf_c", [("z", 100), ("w", 200)]),
    ):
        spark.createDataFrame(rows, "sname string, v long") \
            .createOrReplaceTempView(f"{name}_t")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="mf_d", table="mf_d_t", primary_key="sname",
        dimensions=[Dimension(name="sname")],
    ))
    for name in ("mf_a", "mf_b", "mf_c"):
        layer.add_model(Model(
            name=name, table=f"{name}_t", primary_key="sname",
            metrics=[Metric(name=f"{name}_sum", agg="sum", sql="v")],
            relationships=[Relationship(
                name="mf_d", type="many_to_one", foreign_key="sname"
            )],
        ))
    rows = {
        (r["sname"], r["mf_a_sum"], r["mf_b_sum"], r["mf_c_sum"])
        for r in layer.query(
            metrics=["mf_a.mf_a_sum", "mf_b.mf_b_sum", "mf_c.mf_c_sum"],
            dimensions=["mf_d.sname"],
        ).collect()
    }
    assert rows == {
        ("x", 1, None, None),
        ("y", 2, 10, None),
        ("z", None, 20, 100),   # absent from mf_a: must be ONE row
        ("w", None, None, 200),
    }


# ---------------------------------------------------------------------------
# Round-5 reference-test mining: symmetric-agg guards
# (reference tests/metrics/test_symmetric_aggs.py:331-540)
# ---------------------------------------------------------------------------


def test_reciprocal_relationship_declarations_not_ambiguous(spark):
    """Declaring the same relationship on BOTH models (the reference's
    own authoring style, incl. a bare ``sql="id"`` key annotation) is
    ONE edge, not an ambiguous pair; NULL measures under fan-out stay
    NULL and avg isolates entity rows (ref
    test_fanout_isolates_typed_entity_rows_for_double_sum_avg_and_nulls)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [(1, 100.25), (2, 50.75), (3, None)], "id long, amount double"
    ).createOrReplaceTempView("recip_orders")
    spark.createDataFrame(
        [(1, 1, "paid"), (2, 1, "paid"), (3, 2, "paid"), (4, 3, "null-only")],
        "id long, order_id long, category string",
    ).createOrReplaceTempView("recip_items")
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="rc_orders", table="recip_orders", primary_key="id",
        metrics=[
            Metric(name="revenue", agg="sum", sql="amount"),
            Metric(name="aov", agg="avg", sql="amount"),
        ],
        relationships=[Relationship(
            name="rc_items", type="one_to_many", sql="id",
            foreign_key="order_id")],
    ))
    lay.add_model(Model(
        name="rc_items", table="recip_items", primary_key="id",
        dimensions=[Dimension(name="category")],
        relationships=[Relationship(
            name="rc_orders", type="many_to_one", foreign_key="order_id")],
    ))
    rows = lay.query(
        metrics=["rc_orders.revenue", "rc_orders.aov"],
        dimensions=["rc_items.category"],
        order_by=["category"],
    ).collect()
    got = [(r[0], r[1] and float(r[1]), r[2] and float(r[2])) for r in rows]
    assert got == [("null-only", None, None), ("paid", 151.0, 75.5)]
    sql = lay.compile(metrics=["rc_orders.revenue"],
                      dimensions=["rc_items.category"])
    assert "DISTINCT" in sql and "HASH(" not in sql.upper()


def test_fanout_composite_custom_join_no_delimiter_collision(spark):
    """Composite keys joined via custom {from}/{to} SQL: the reciprocal
    declarations collapse (commutative equality normalization), the
    custom join's key columns project into both CTEs, and the dedup
    carries pk columns separately — no CONCAT delimiter collisions
    (ref test_fanout_typed_composite_keys_do_not_collide_on_delimiters)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame(
        [("a|b", "c", 100.0), ("a", "b|c", 200.0)],
        "part_a string, part_b string, amount double",
    ).createOrReplaceTempView("comp_orders")
    spark.createDataFrame(
        [(1, "a|b", "c", "all"), (2, "a|b", "c", "all"), (3, "a", "b|c", "all")],
        "id long, part_a string, part_b string, category string",
    ).createOrReplaceTempView("comp_items")
    join_sql = "{from}.part_a = {to}.part_a AND {from}.part_b = {to}.part_b"
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="cp_orders", table="comp_orders",
        primary_key=["part_a", "part_b"],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
        relationships=[Relationship(
            name="cp_items", type="one_to_many", sql=join_sql)],
    ))
    lay.add_model(Model(
        name="cp_items", table="comp_items", primary_key="id",
        dimensions=[Dimension(name="category")],
        relationships=[Relationship(
            name="cp_orders", type="many_to_one", sql=join_sql)],
    ))
    rows = lay.query(metrics=["cp_orders.revenue"],
                     dimensions=["cp_items.category"]).collect()
    assert [(r[0], float(r[1])) for r in rows] == [("all", 300.0)]
    sql = lay.compile(metrics=["cp_orders.revenue"],
                      dimensions=["cp_items.category"])
    assert "CONCAT(" not in sql.upper()


def test_filter_only_sibling_fanout_deduplicates_non_base_metric(spark):
    """A filter on a sibling one_to_many model fans out the metric
    model's rows; the dedup plan must correct it (ref
    test_filter_only_sibling_fanout_is_deduplicated_for_non_base_metric)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

    spark.createDataFrame([(1, "east")], "id long, region string") \
        .createOrReplaceTempView("sib_customers")
    spark.createDataFrame(
        [(1, 1, 100), (2, 1, 50)], "id long, customer_id long, amount long"
    ).createOrReplaceTempView("sib_orders")
    spark.createDataFrame(
        [(1, 1, "open"), (2, 1, "open"), (3, 1, "closed")],
        "id long, customer_id long, kind string",
    ).createOrReplaceTempView("sib_tickets")
    lay = SparkSemanticLayer(spark)
    lay.add_model(Model(
        name="sb_cust", table="sib_customers", primary_key="id",
        dimensions=[Dimension(name="region")],
        relationships=[
            Relationship(name="sb_ord", type="one_to_many", sql="id",
                         foreign_key="customer_id"),
            Relationship(name="sb_tick", type="one_to_many", sql="id",
                         foreign_key="customer_id"),
        ],
    ))
    lay.add_model(Model(
        name="sb_ord", table="sib_orders", primary_key="id",
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
        relationships=[Relationship(
            name="sb_cust", type="many_to_one", foreign_key="customer_id")],
    ))
    lay.add_model(Model(
        name="sb_tick", table="sib_tickets", primary_key="id",
        dimensions=[Dimension(name="kind")],
        relationships=[Relationship(
            name="sb_cust", type="many_to_one", foreign_key="customer_id")],
    ))
    rows = lay.query(
        metrics=["sb_ord.revenue"],
        dimensions=["sb_cust.region"],
        filters=["sb_tick.kind = 'open'"],
    ).collect()
    assert [(r[0], int(r[1])) for r in rows] == [("east", 150)]


def test_conformed_dimension_multifact(spark):
    """Metrics from UNRELATED fact models sharing a dimension name
    compile as per-fact subqueries FULL OUTER joined null-safely on the
    conformed dimension (reference tests/test_bugfix_batch.py: NULL
    dimension values must not drop, and the join must not be
    COALESCE-equality which breaks non-string types)."""
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.core.model import Dimension, Metric, Model

    spark.createDataFrame(
        [(1, 1, 100.0), (2, 2, 200.0), (3, None, 50.0)],
        "order_id int, customer_id int, amount double",
    ).createOrReplaceTempView("cfd_orders")
    spark.createDataFrame(
        [(1, 1, 5), (2, 2, 3), (3, None, 7), (4, 99, 2)],
        "li_id int, customer_id int, qty int",
    ).createOrReplaceTempView("cfd_items")
    layer = SparkSemanticLayer(spark)
    layer.add_model(Model(
        name="cfd_o", table="cfd_orders", primary_key="order_id",
        dimensions=[Dimension(name="customer_id", type="numeric")],
        metrics=[Metric(name="revenue", agg="sum", sql="amount")],
    ))
    layer.add_model(Model(
        name="cfd_li", table="cfd_items", primary_key="li_id",
        dimensions=[Dimension(name="customer_id", type="numeric")],
        metrics=[Metric(name="total_qty", agg="sum", sql="qty")],
    ))
    sql = layer.compile(metrics=["cfd_o.revenue", "cfd_li.total_qty"],
                        dimensions=["cfd_o.customer_id"])
    # all dims conformed -> the combine is UNION ALL + one
    # re-aggregation (GROUP BY is null-safe exactly like the former
    # <=> FULL OUTER join, one hash exchange instead of two + sorts);
    # the NULL-dimension result row below pins the null-safety
    assert "UNION ALL" in sql.upper()
    assert "GROUP BY" in sql.upper()
    rows = sorted(
        [tuple(r) for r in layer.query(
            metrics=["cfd_o.revenue", "cfd_li.total_qty"],
            dimensions=["cfd_o.customer_id"],
        ).collect()],
        key=lambda x: (x[0] is None, x[0] if x[0] is not None else -1),
    )
    assert rows == [(1, 100.0, 5), (2, 200.0, 3), (99, None, 2), (None, 50.0, 7)]


def test_omitted_keys_are_not_joinable():
    """Relationships without structured keys never invent a pk=pk join
    (ref tests/test_relationships.py omitted-key + arity cases) —
    a guessed join silently returns wrong rows; refusing is correct."""
    from sidemantic_spark.core.graph import SemanticGraph
    from sidemantic_spark.core.model import Model, Relationship

    def graph_with(rel):
        g = SemanticGraph()
        g.add_model(Model(name="a", table="a", primary_key="a_id",
                          relationships=[rel]))
        g.add_model(Model(name="b", table="b", primary_key="b_id"))
        return g

    for rel in (
        Relationship(name="b", type="many_to_one"),
        Relationship(name="b", type="one_to_many"),
        Relationship(name="b", type="one_to_one"),
        # composite arity mismatch
        Relationship(name="b", type="many_to_one",
                     foreign_key=["x", "y"], primary_key="b_id"),
    ):
        g = graph_with(rel)
        with pytest.raises(Exception, match="[Nn]o join path"):
            g.find_path("a", "b")

    # explicit FK + omitted PK -> target primary key is used
    g = graph_with(Relationship(name="b", type="many_to_one", foreign_key="b_ref"))
    path = g.find_path("a", "b")
    assert [(h.fk_side, h.pk_side) for h in path] == [(("b_ref",), ("b_id",))]

    # custom SQL and cross edges need no structured keys
    g = graph_with(Relationship(name="b", type="many_to_one",
                                sql="{from}.x = {to}.y"))
    assert g.find_path("a", "b")
    g = graph_with(Relationship(name="b", type="cross"))
    assert g.find_path("a", "b")
