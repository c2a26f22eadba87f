"""Semantic-SQL planner rewrite benchmark (mirrors the reference's
scripts/benchmark_semantic_sql_planner.py, re-targeted at Spark).

For each wrapper-shaped case, executes the OPTIMIZED rewrite (wrapper
rules on) and the NAIVE rewrite (island compiled, wrapper verbatim —
``wrapper_rules_enabled = False``), asserts row equality, and reports
median-of-N speedups. The reference's floors are 1.2x for the top-N /
distinct-dims / time-rollup family and 1.05x for pushdown-style rules
on DuckDB at 200k rows; on Spark the wins come from plan shape (grain
of the shuffle, TakeOrdered vs full window, filters reaching the scan),
so they grow with data size.

Usage: python scripts/benchmark_rewriter.py [--sf-dir DIR] [--iters N]
Prints one JSON line: {"cases": {name: {"speedup": x, "opt_s": ..,
"naive_s": ..}}, "rules": {name: [...]}}

Measured at sf0.1/local[32] (median of 5): the rules that change the
SEMANTIC plan beat the reference's 1.2x floor — time_rollup ~1.25-1.3x
(month-grain shuffle instead of day-grain aggregate + re-aggregate) and
preagg_route ~1.3x (rollup scan instead of base-table aggregation; the
gap widens with base-table size). The wrapper micro-rules
(rownum_topn, distinct_dims, wrapper_pushdown) measure ~1.0x on Spark:
Catalyst already collapses projections, prunes unused aggregates, and
pushes wrapper filters through the compiled island — which is exactly
why this engine keeps only the semantic-plan rules and delegates
micro-optimization to Catalyst (see sql/rewriter.py wrapper-rules
comment, SURVEY §4).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")


CASES = {
    # row_number top-N over a row-grain island: the rule folds the
    # window+filter into plan ORDER BY + LIMIT, which Catalyst executes
    # as TakeOrderedAndProject — vs. the naive single-partition window
    # sort over every row
    "rownum_topn": """
        SELECT partkey, ship_date__day FROM (
            SELECT lineitem.partkey, lineitem.ship_date__day,
                   ROW_NUMBER() OVER (ORDER BY lineitem.ship_date__day DESC,
                                      lineitem.partkey DESC) AS rn
            FROM lineitem
        ) t WHERE rn <= 100
    """,
    # dimension-distinct: the outer discards the island's
    # count_distinct metric; the rule recompiles dims-only, skipping
    # the distinct-aggregation shuffle entirely
    "distinct_dims": """
        SELECT DISTINCT status FROM (
            SELECT orders.status, orders.priority, orders.customer_count
            FROM orders
        ) t
    """,
    # time-rollup: outer month rollup over a day-grain island — the
    # rule recompiles the semantic plan at month grain (one coarse
    # shuffle instead of day-grain aggregate + re-aggregate)
    "time_rollup": """
        SELECT DATE_TRUNC('month', order_date__day) AS m, SUM(revenue) AS revenue
        FROM (
            SELECT orders.order_date__day, orders.revenue FROM orders
        ) t GROUP BY 1
    """,
    # wrapper filter pushdown: the dim filter moves inside the semantic
    # compile and reaches the parquet scan, instead of filtering the
    # aggregated island
    "wrapper_pushdown": """
        SELECT returnflag, disc_revenue FROM (
            SELECT lineitem.returnflag, lineitem.disc_revenue FROM lineitem
        ) t WHERE returnflag = 'R'
    """,
}


def _run(spark, sql: str, iters: int) -> float:
    times = []
    for _ in range(iters):
        t0 = time.perf_counter()
        spark.sql(sql).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--cpus", default="32")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("rewriter-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(args.cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sidemantic_spark.models.tpch import build_layer

    layer = build_layer(spark, args.sf_dir)
    rw = layer._rewriter

    results: dict = {}
    rules: dict = {}
    for name, sql in CASES.items():
        rw.wrapper_rules_enabled = True
        plan = layer.explain_sql(sql)
        opt_sql, rules[name] = plan["compiled_sql"], plan["applied_rules"]
        rw.wrapper_rules_enabled = False
        naive_sql = rw.rewrite(sql)
        rw.wrapper_rules_enabled = True
        if opt_sql == naive_sql:
            print(f"# {name}: rule did not fire!", file=sys.stderr)

        # row-equality gate (the reference requires it per case)
        opt_rows = sorted(map(tuple, spark.sql(opt_sql).collect()))
        naive_rows = sorted(map(tuple, spark.sql(naive_sql).collect()))
        assert opt_rows == naive_rows, f"{name}: optimized rows differ"

        # warm both plans once, then timed runs interleaved
        _run(spark, opt_sql, 1)
        _run(spark, naive_sql, 1)
        opt_s = _run(spark, opt_sql, args.iters)
        naive_s = _run(spark, naive_sql, args.iters)
        results[name] = {
            "speedup": round(naive_s / opt_s, 3),
            "opt_s": round(opt_s, 4),
            "naive_s": round(naive_s, 4),
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)

    # the other semantic-plan rule: aggregate-aware rollup routing.
    # optimized = query served from the materialized daily rollup,
    # naive = same query compiled against the base table.
    import tempfile

    from sidemantic_spark.preagg.matcher import PreAggregation

    orders = layer.graph.get_model("orders")
    orders.pre_aggregations = [
        PreAggregation(
            name="bench_daily",
            measures=["revenue", "order_count"],
            dimensions=["status", "priority"],
            time_dimension="order_date",
            granularity="day",
        )
    ]
    layer.preaggs.base_path = tempfile.mkdtemp(prefix="rewriter_bench_preagg_")
    layer.preaggs.materialize("orders")
    kw = dict(metrics=["orders.revenue"], dimensions=["orders.status"])
    opt_sql = layer.compile(**kw)
    assert "used_preagg=" in opt_sql
    naive_sql = layer.compile(**kw, use_preaggs=False)
    opt_rows = sorted(map(tuple, spark.sql(opt_sql).collect()))
    naive_rows = sorted(map(tuple, spark.sql(naive_sql).collect()))
    assert opt_rows == naive_rows, "preagg_route: rows differ"
    _run(spark, opt_sql, 1)
    _run(spark, naive_sql, 1)
    opt_s = _run(spark, opt_sql, args.iters)
    naive_s = _run(spark, naive_sql, args.iters)
    results["preagg_route"] = {
        "speedup": round(naive_s / opt_s, 3),
        "opt_s": round(opt_s, 4),
        "naive_s": round(naive_s, 4),
    }
    rules["preagg_route"] = ["preagg_rollup_route"]
    print(f"# preagg_route: {results['preagg_route']}", file=sys.stderr)

    print(json.dumps({"cases": results, "rules": rules}))
    spark.stop()


if __name__ == "__main__":
    main()
