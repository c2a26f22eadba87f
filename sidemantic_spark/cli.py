"""Command-line interface.

Re-expression of the reference CLI surface (``sidemantic/cli.py:285``:
query, rewrite, convert, test, validate, init, info, preagg
recommend/apply) on argparse. Spark runs locally
(``local[$SPARK_GRAFT_CPUS]``, default all cores); model files load
via the authoring loaders (YAML / SQL DDL) or any import adapter with
``--format``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_spark(app: str = "sidemantic-spark"):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _load_layer(args, spark=None):
    from sidemantic_spark.core.layer import SparkSemanticLayer
    from sidemantic_spark.project import ProjectContext, ProjectResolutionError

    layer = SparkSemanticLayer(spark)
    ctx = ProjectContext.discover(config_path=getattr(args, "config", None))
    path = args.models
    if path is None:
        try:
            path = str(ctx.resolve_models())
        except ProjectResolutionError as exc:
            raise SystemExit(str(exc))
    fmt = getattr(args, "format", None) or "native"
    if fmt == "auto":
        # mixed project directory: per-file format auto-detection
        # (reference loaders.py:load_from_directory)
        import os as _os

        from sidemantic_spark.authoring import load_from_directory, load_path

        if _os.path.isdir(path):
            load_from_directory(layer, path)
        else:
            load_path(layer, path)
    elif fmt == "native":
        from sidemantic_spark.authoring import load_path

        load_path(layer, path)
    else:
        from sidemantic_spark.adapters import import_file
        from sidemantic_spark.formats import get_semantic_format

        # alias resolution: cube_js -> cube, powerbi -> tmdl, dbt ->
        # metricflow, ... (ref formats.py get_semantic_format)
        spec = get_semantic_format(fmt, operation="import")
        if spec.adapter == "sidemantic":
            from sidemantic_spark.authoring import load_path as _lp

            _lp(layer, path)
        else:
            import_file(layer, path, spec.adapter)
    # project-config defaults first (table registrations + preagg root)
    # so explicit --register bindings override config, matching the
    # CLI > config precedence resolve_models() uses for --models
    ctx.apply(layer, spark)
    for spec in getattr(args, "register", None) or []:
        name, _, uri = spec.partition("=")
        if not uri:
            raise SystemExit(f"--register expects name=path, got {spec!r}")
        model = layer.graph.models.get(name)
        if model is not None:
            model.source_uri = uri
            model.table = model.table or name
        elif spark is not None:
            spark.read.parquet(uri).createOrReplaceTempView(name)
    return layer


def _print_rows(df, fmt: str) -> None:
    if fmt == "json":
        for row in df.collect():
            print(json.dumps(row.asDict(), default=str))
    elif fmt == "csv":
        import csv

        w = csv.writer(sys.stdout)
        w.writerow(df.columns)
        for row in df.collect():
            w.writerow([row[c] for c in df.columns])
    else:
        df.show(n=1000, truncate=False)


def cmd_query(args) -> int:
    spark = _build_spark()
    layer = _load_layer(args, spark)
    df = layer.query(
        metrics=args.metrics or [],
        dimensions=args.dimensions or [],
        filters=args.filters or [],
        order_by=args.order_by or [],
        limit=args.limit,
    )
    _print_rows(df, args.output)
    return 0


def cmd_sql(args) -> int:
    spark = _build_spark()
    layer = _load_layer(args, spark)
    df = layer.sql(args.sql)
    _print_rows(df, args.output)
    return 0


def cmd_rewrite(args) -> int:
    layer = _load_layer(args)
    print(layer.rewrite(args.sql))
    return 0


def cmd_compile(args) -> int:
    layer = _load_layer(args)
    print(layer.compile(
        metrics=args.metrics or [],
        dimensions=args.dimensions or [],
        filters=args.filters or [],
        order_by=args.order_by or [],
        limit=args.limit,
    ))
    return 0


def cmd_convert(args) -> int:
    from sidemantic_spark.adapters import export_graph
    from sidemantic_spark.formats import get_semantic_format

    layer = _load_layer(args)
    spec = get_semantic_format(args.to, operation="export")
    target = "native" if spec.adapter == "sidemantic" else spec.adapter
    text = export_graph(layer.graph, target)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out}")
    else:
        print(text)
    if getattr(args, "fidelity", False):
        from sidemantic_spark.adapters.fidelity import roundtrip_fidelity

        rep = roundtrip_fidelity(layer.graph, target)
        for line in rep.summary_lines():
            print(line)
    return 0


def cmd_explain(args) -> int:
    """Structured query plan: join path, fan-out strategy (the plan
    the compiler chose), filter pushdown split, and the rollup router's
    own record of the compile — eligibility, the refusing gate, each
    candidate's accept/reject reasons, the rollup used (reference
    `explain` CLI; our layer.explain_plan)."""
    import json as _json

    layer = _load_layer(args)
    plan = layer.explain_plan(
        metrics=args.metrics or [], dimensions=args.dimensions or [],
        filters=args.filters or [],
    )
    print(_json.dumps(plan, indent=2, default=str))
    return 0


def cmd_explain_sql(args) -> int:
    """Rewrite explanation for semantic SQL: chosen plan + applied and
    rejected rewrite rules (reference `explain-sql`; layer.explain_sql)."""
    import json as _json

    layer = _load_layer(args)
    print(_json.dumps(layer.explain_sql(args.sql), indent=2, default=str))
    return 0


def cmd_validate(args) -> int:
    layer = _load_layer(args)
    result = layer.validate()
    if result["valid"]:
        print(f"OK: {len(layer.graph.models)} models valid")
        return 0
    for err in result["errors"]:
        print(f"ERROR: {err}")
    return 1


def cmd_info(args) -> int:
    layer = _load_layer(args)
    for name, model in sorted(layer.graph.models.items()):
        binding = model.table or model.source_uri or "(derived sql)"
        gov = "".join(
            f"  {k}={v}" for k, v in (
                ("owner", model.owner), ("domain", model.domain),
                ("tier", model.tier),
            ) if v
        )
        print(f"model {name}  [{binding}]  pk={model.primary_key}{gov}")
        if model.deprecation is not None:
            print(f"  DEPRECATED: {model.deprecation.notice(name)}")
        if model.freshness is not None:
            fr = model.freshness
            print(f"  freshness: {fr.watermark or fr.sql}"
                  + (f" ttl={fr.ttl_seconds}s" if fr.ttl_seconds else ""))
        for d in model.dimensions:
            extra = f" grain={d.granularity}" if d.granularity else ""
            if d.parent:
                extra += f" parent={d.parent}"
            print(f"  dim    {d.name} ({d.type}){extra}")
        for m in model.metrics:
            kind = m.type or m.agg or "expr"
            dep = "  DEPRECATED" if m.deprecation is not None else ""
            print(f"  metric {m.name} ({kind}){dep}")
        for r in model.relationships:
            print(f"  rel    -> {r.name} ({r.type})")
    for name, m in sorted(layer.graph.metrics.items()):
        print(f"graph metric {name} ({m.type or m.agg})")
    return 0


def cmd_test(args) -> int:
    from sidemantic_spark.testing import check_schema_drift, run_golden_tests

    spark = _build_spark()
    layer = _load_layer(args, spark)
    rc = 0
    if getattr(args, "drift", False):
        report = check_schema_drift(layer)
        for e in report.errors:
            print(f"DRIFT {e}")
        print(
            f"schema drift: {report.checked_models} models checked, "
            f"{len(report.errors)} errors"
        )
        if report.errors:
            rc = 1
        if args.cases is None:
            return rc
    if args.cases is None:
        print("no testcase file given (pass CASES or --drift)")
        return 2
    results = run_golden_tests(layer, args.cases)
    failed = [r for r in results if not r.passed]
    for r in results:
        status = "PASS" if r.passed else "FAIL"
        detail = "; ".join(r.failures) if r.failures else ""
        print(f"{status} {r.name}" + (f": {detail}" if detail else ""))
    print(f"{len(results) - len(failed)}/{len(results)} passed")
    return 1 if failed or rc else 0


def cmd_preagg_recommend(args) -> int:
    from sidemantic_spark.preagg.recommender import PreAggregationRecommender

    layer = _load_layer(args)
    rec = PreAggregationRecommender(layer.graph, min_query_count=args.min_queries)
    with open(args.query_log) as fh:
        rec.parse_query_log([ln.strip() for ln in fh if ln.strip()])
    recs = rec.get_recommendations(top_n=args.top)
    if not recs:
        print("no recommendations")
        return 0
    applied = []
    for r in recs:
        print(f"{r.model}: measures={r.measures} dimensions={r.dimensions} "
              f"granularity={r.granularity} score={r.benefit_score:.1f}")
        if args.apply:
            pa = rec.apply(r)
            applied.append((r.model, pa))
            print(f"  applied as {pa.name}")
    if applied:
        # the in-memory graph dies with this process: emit the YAML the
        # user must add to the model definitions (plus the materialize
        # command) so --apply is actionable, not a silent no-op
        import yaml as _yaml

        print("\n# add to your model definitions to persist:")
        for model_name, pa in applied:
            spec = {k: v for k, v in vars(pa).items() if v}
            print(_yaml.safe_dump(
                {model_name: {"pre_aggregations": [spec]}},
                sort_keys=False,
            ).rstrip())
            print(f"# then: sidemantic-spark preagg apply {model_name} "
                  f"--name {pa.name}")
    return 0


def cmd_preagg_apply(args) -> int:
    spark = _build_spark()
    layer = _load_layer(args, spark)
    layer.register_sources()
    written = layer.preaggs.materialize(args.model, args.name)
    for p in written:
        print(f"materialized {p}")
    return 0


def cmd_preagg_refresh(args) -> int:
    """Incremental refresh: rebuild only partitions >= --since (dynamic
    partition overwrite; reference core/preagg_management.py refresh
    orchestration with update_window partitions)."""
    spark = _build_spark()
    layer = _load_layer(args, spark)
    layer.register_sources()
    model = layer.graph.get_model(args.model)
    names = [args.name] if args.name else [
        pa.name for pa in model.pre_aggregations
    ]
    for name in names:
        if args.since:
            layer.preaggs.refresh_incremental(
                args.model, name, f"TIMESTAMP '{args.since}'"
            )
            print(f"refreshed {args.model}.{name} since {args.since}")
        else:
            layer.preaggs.materialize(args.model, name)
            print(f"rebuilt {args.model}.{name}")
    return 0


def _read_queries(path: str) -> list[str]:
    """One query per ``.sql`` file in a directory, or ``;``-split
    statements from a single file."""
    import os

    sqls: list[str] = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".sql"):
                with open(os.path.join(path, f)) as fh:
                    sqls.append(fh.read())
    else:
        with open(path) as fh:
            sqls = [s for s in fh.read().split(";") if s.strip()]
    return sqls


def cmd_migrate_check(args) -> int:
    """Coverage report: which corpus queries the layer can already
    answer, and what is missing (reference core/migrator.py:195)."""
    import json as _json

    from sidemantic_spark.core.migrator import Migrator

    layer = _load_layer(args)
    report = Migrator(layer).check(_read_queries(args.queries))
    if args.output == "json":
        print(_json.dumps({
            k: v for k, v in report.items() if k != "analyses"
        } | {"queries": [
            {"can_rewrite": a.can_rewrite, "rewritten": a.rewritten,
             "reasons": a.reasons} for a in report["analyses"]
        ]}, indent=2))
        return 0
    print(f"{report['rewritable']}/{report['total']} queries rewritable "
          f"({report['coverage']:.0%} coverage)")
    for a in report["analyses"]:
        status = "OK  " if a.can_rewrite else "MISS"
        first = " ".join(a.sql.split())[:60]
        print(f"  [{status}] {first}")
        if a.can_rewrite and args.verbose:
            print(f"         -> {a.rewritten}")
        for r in a.reasons:
            print(f"         ! {r}")
    if report["missing_tables"]:
        print("missing models:", ", ".join(
            f"{t} ({n} queries)" for t, n in report["missing_tables"].items()))
    return 0


def cmd_migrate_generate(args) -> int:
    """Generate model YAML for uncovered tables from the query corpus."""
    from sidemantic_spark.core.migrator import Migrator

    layer = _load_layer(args) if args.models else _load_layer_empty()
    text = Migrator(layer).generate_yaml(_read_queries(args.queries))
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out}")
    else:
        print(text)
    return 0


def _load_layer_empty():
    from sidemantic_spark.core.layer import SparkSemanticLayer

    return SparkSemanticLayer(None)


def cmd_serve(args) -> int:
    from sidemantic_spark.server import SemanticHttpServer

    spark = _build_spark("sidemantic-spark-serve")
    layer = _load_layer(args, spark)
    layer.register_sources()
    srv = SemanticHttpServer(
        layer, host=args.host, port=args.port, token=args.token,
        require_user_attrs=getattr(args, "require_user_attrs", False),
        user_header=getattr(args, "user_header", "X-Sidemantic-User"),
    )
    srv.start()
    print(f"serving on http://{args.host}:{srv.port} "
          f"(endpoints: /health /models /query /sql /compile /query.arrow)")
    try:
        import signal

        signal.pause()
    except (KeyboardInterrupt, AttributeError):
        pass
    finally:
        srv.stop()
    return 0


def cmd_pgserve(args) -> int:
    import json as _json

    from sidemantic_spark.server import PgWireServer

    spark = _build_spark("sidemantic-spark-pgserve")
    layer = _load_layer(args, spark)
    layer.register_sources()
    password = None
    if args.password_file:
        with open(args.password_file) as fh:
            password = fh.read().strip()
    user_attrs_map = None
    if args.user_attrs_file:
        with open(args.user_attrs_file) as fh:
            user_attrs_map = _json.load(fh)
    srv = PgWireServer(
        layer, host=args.host, port=args.port,
        username=args.username, password=password,
        user_attrs_map=user_attrs_map,
    ).start()
    print(f"pg wire server on {args.host}:{srv.port} "
          f"(psql -h {args.host} -p {srv.port} -d sidemantic)")
    try:
        import signal

        signal.pause()
    except (KeyboardInterrupt, AttributeError):
        pass
    finally:
        srv.stop()
    return 0


def cmd_generate_types(args) -> int:
    """TypeScript typed-client schema (reference codegen.py
    generate_client_schema_ts)."""
    from sidemantic_spark.codegen import generate_client_schema_ts

    layer = _load_layer(args)
    text = generate_client_schema_ts(layer)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out}")
    else:
        print(text)
    return 0


def cmd_generate_sql(args) -> int:
    """sqlx-style typed semantic SQL: scan TS sources for semantic-SQL
    literals, validate, and emit typed query signatures."""
    import glob as _glob
    import os

    from sidemantic_spark.codegen import generate_sql_types_ts

    spark = _build_spark("sidemantic-spark-gen")
    layer = _load_layer(args, spark)
    layer.register_sources()
    sources: dict[str, str] = {}
    for pattern in args.sources:
        paths = (
            [os.path.join(r, f) for r, _d, fs in os.walk(pattern) for f in fs
             if f.endswith((".ts", ".tsx")) and not f.endswith(".d.ts")]
            if os.path.isdir(pattern)
            else _glob.glob(pattern)
        )
        for pth in sorted(paths):
            with open(pth) as fh:
                sources[pth] = fh.read()
    text = generate_sql_types_ts(layer, sources)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out}")
    else:
        print(text)
    return 0


def cmd_demo(args) -> int:
    """Write a self-contained demo project (sample parquet + model YAML
    + example commands) — reference `demo`/quickstart surface."""
    import os

    spark = _build_spark("sidemantic-spark-demo")
    out = args.out or "sidemantic_demo"
    os.makedirs(out, exist_ok=True)
    data_path = os.path.join(out, "orders.parquet")
    spark.sql("""
        SELECT id AS order_id,
               element_at(array('new','paid','refunded'), int(id % 3) + 1) AS status,
               CAST(10 + (id * 7) % 490 AS DOUBLE) AS amount,
               timestampadd(DAY, int(id % 365), TIMESTAMP '2025-01-01') AS created_at,
               int(id % 25) AS customer_id
        FROM range(1000)
    """).coalesce(1).write.mode("overwrite").parquet(data_path)
    models = os.path.join(out, "models.yml")
    with open(models, "w") as fh:
        fh.write(f"""models:
  - name: orders
    source_uri: {os.path.abspath(data_path)}
    primary_key: order_id
    dimensions:
      - name: status
      - name: created_at
        type: time
    metrics:
      - name: order_count
        agg: count
      - name: revenue
        agg: sum
        sql: amount
      - name: aov
        type: ratio
        numerator: revenue
        denominator: order_count
""")
    print(f"demo project written to {out}/")
    print(f"  python -m sidemantic_spark query -f {models} "
          f"-m orders.revenue -d orders.status")
    print(f"  python -m sidemantic_spark sql -f {models} "
          f"\"SELECT orders.status, orders.revenue FROM orders\"")
    print(f"  python -m sidemantic_spark serve -f {models}")
    return 0


def cmd_workbench(args) -> int:
    """Interactive semantic-SQL REPL (reference workbench surface,
    plain-terminal form): each line compiles through the rewriter and
    prints rows; `\\models` lists the graph, `\\compile <sql>` shows
    generated SQL without executing."""
    spark = _build_spark("sidemantic-spark-workbench")
    layer = _load_layer(args, spark)
    layer.register_sources()
    # full-screen TUI when textual is installed (ref workbench/app.py);
    # plain REPL otherwise
    try:
        from sidemantic_spark.workbench import run_workbench

        run_workbench(layer)
        return 0
    except ModuleNotFoundError:
        pass
    print("sidemantic-spark workbench — semantic SQL; \\models, \\compile <sql>, \\q")
    while True:
        try:
            line = input("sql> ").strip()
        except EOFError:
            break
        if not line:
            continue
        if line in ("\\q", "exit", "quit"):
            break
        try:
            if line == "\\models":
                for name, model in layer.graph.models.items():
                    mets = ", ".join(m.name for m in model.metrics[:8])
                    print(f"  {name}: {mets}")
                continue
            if line.startswith("\\compile "):
                print(layer.rewrite(line[len("\\compile "):]))
                continue
            _print_rows(layer.sql(line).limit(50), "table")
        except Exception as exc:
            print(f"error: {type(exc).__name__}: {exc}")
    return 0


def cmd_lsp(args) -> int:
    """Language server over stdio (reference lsp/server.py): diagnostics,
    completions, hover, document symbols for model YAML files."""
    from sidemantic_spark.server.lsp import LspServer

    LspServer().serve_stdio()
    return 0


def cmd_schema(args) -> int:
    """Export the YAML authoring JSON Schema (reference schema.py
    export_schema) for the yaml-language-server $schema directive."""
    from sidemantic_spark.authoring.schema import export_schema

    p = export_schema(args.out)
    print(f"JSON Schema exported to: {p}")
    print("Add this to the top of your YAML files:")
    print(f"# yaml-language-server: $schema=./{p.name}")
    return 0


def cmd_mcp(args) -> int:
    import json as _json

    from sidemantic_spark.server import McpServer

    spark = _build_spark("sidemantic-spark-mcp")
    layer = _load_layer(args, spark)
    layer.register_sources()
    user_attrs = None
    if getattr(args, "user_attributes", None):
        user_attrs = _json.loads(args.user_attributes)
        if not isinstance(user_attrs, dict):
            raise SystemExit("--user-attributes must be a JSON object")
    McpServer(layer, user_attributes=user_attrs).serve_stdio()
    return 0


def cmd_dashboard(args) -> int:
    """Dashboard spec tooling (reference `sidemantic dashboard`):
    validate a sidemantic.dashboard.v1 spec, emit TS authoring types,
    or render a self-contained Vega-Lite HTML page."""
    from sidemantic_spark.dashboard import (
        generate_dashboard_typescript,
        load_dashboard,
        render_dashboard_html,
    )

    if args.action == "types":
        layer = _load_layer(args)
        print(generate_dashboard_typescript(layer))
        return 0
    if not args.spec:
        raise SystemExit(f"dashboard {args.action} requires --spec <file>")
    doc = load_dashboard(args.spec)
    if args.action == "validate":
        layer = _load_layer(args)
        errors = doc.validate(layer)
        for e in errors:
            print(f"ERROR: {e}")
        print("OK" if not errors else f"{len(errors)} error(s)")
        return 1 if errors else 0
    if args.action == "html":
        spark = _build_spark("sidemantic-spark-dashboard")
        layer = _load_layer(args, spark)
        layer.register_sources()
        html = render_dashboard_html(layer, doc)
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(html)
            print(f"wrote {args.out}")
        else:
            print(html)
        return 0
    raise SystemExit(f"unknown dashboard action {args.action!r}")


def cmd_manpage(args) -> int:
    """Deterministic roff man page generated from the live argparse
    command tree (reference ``manpage.py`` generates the same from its
    Click tree) — `sidemantic-spark manpage > sidemantic-spark.1`."""
    parser = build_parser()
    print(render_manpage(parser))
    return 0


def render_manpage(parser) -> str:
    import argparse as _ap

    def roff(text: str) -> str:
        out = text.replace("\\", r"\e").replace("-", r"\-")
        if out.startswith((".", "'")):
            out = r"\&" + out
        return out

    lines = [
        '.TH "SIDEMANTIC-SPARK" "1" "" "" "sidemantic-spark manual"',
        ".SH NAME",
        r"sidemantic\-spark \- PySpark\-native semantic layer",
        ".SH SYNOPSIS",
        r".B sidemantic\-spark",
        r"\fICOMMAND\fR [\fIOPTIONS\fR]",
        ".SH DESCRIPTION",
        roff(parser.description or ""),
        ".SH COMMANDS",
    ]
    sub_actions = [
        a for a in parser._actions if isinstance(a, _ap._SubParsersAction)
    ]
    for sub in sub_actions:
        helps = {c.dest: c.help for c in sub._choices_actions}
        for name, sp in sorted(sub.choices.items()):
            lines.append(".TP")
            lines.append(f"\\fB{roff(name)}\\fR")
            lines.append(roff(helps.get(name) or sp.description or ""))
            opts = [
                a for a in sp._actions
                if a.option_strings and a.dest != "help"
            ]
            if opts:
                lines.append(".RS")
                for a in opts:
                    flag = ", ".join(a.option_strings)
                    lines.append(".TP")
                    lines.append(f"\\fB{roff(flag)}\\fR")
                    lines.append(roff(a.help or ""))
                lines.append(".RE")
    lines += [
        ".SH SEE ALSO",
        r"The project README and SURVEY.md for the full operator inventory.",
    ]
    return "\n".join(lines) + "\n"


def cmd_crossfilter(args) -> int:
    """Interactive crossfilter (reference `viz.py` crossfilter
    sessions): write a standalone HTML page, or serve it live with the
    /crossfilter endpoints backed by the cached interaction rollup."""
    from sidemantic_spark.crossfilter import CrossfilterDashboard, CrossfilterSession

    spark = _build_spark("sidemantic-spark-crossfilter")
    layer = _load_layer(args, spark)
    layer.register_sources()
    session = CrossfilterSession(
        layer,
        metrics=args.metrics or [],
        dimensions=args.dimensions or [],
        base_filters=args.filters or None,
        limit=args.limit,
    )
    dash = CrossfilterDashboard({"default": session})
    if args.serve:
        from sidemantic_spark.server.http_api import SemanticHttpServer

        srv = SemanticHttpServer(
            layer, host=args.host, port=args.port, crossfilter=dash
        ).start()
        print(f"crossfilter at http://{args.host}:{srv.port}/crossfilter")
        try:
            import time as _time

            while True:
                _time.sleep(3600)
        except KeyboardInterrupt:
            srv.stop()
        return 0
    html = dash.to_html(title=args.title or "Crossfilter")
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(html)
        print(f"wrote {args.out}")
    else:
        print(html)
    return 0


def cmd_init(args) -> int:
    """Introspect data files -> generate model YAML (reference
    ``bootstrap.py``, ``init --from data/*.csv``)."""
    import yaml as _yaml

    spark = _build_spark()
    models = []
    for path in args.data:
        name = os.path.splitext(os.path.basename(path))[0]
        fmt = "csv" if path.endswith(".csv") else ("json" if path.endswith(".json") else "parquet")
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        df = reader.load(path)
        dims = []
        pk = None
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if t in ("date", "timestamp", "timestamp_ntz"):
                dtype = "time"
            elif t in ("boolean",):
                dtype = "boolean"
            elif t.startswith(("int", "bigint", "double", "float", "decimal", "long", "smallint")):
                dtype = "numeric"
            else:
                dtype = "categorical"
            dims.append({"name": f.name, "type": dtype})
            if pk is None and (f.name == "id" or f.name.endswith("_id") or f.name.endswith("key")):
                pk = f.name
        models.append({
            "name": name,
            "source_uri": os.path.abspath(path),
            "source_format": fmt,
            "primary_key": pk or dims[0]["name"],
            "dimensions": dims,
            "metrics": [{"name": "count", "agg": "count"}],
        })
    text = _yaml.safe_dump({"models": models}, sort_keys=False)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out}")
    else:
        print(text)
    return 0


def _add_models_arg(p, required: bool = True):
    # `required` is vestigial since project discovery made --models
    # optional everywhere: a missing path now errors through
    # ProjectContext.resolve_models with a message that names both
    # escape hatches (flag or project config)
    del required
    p.add_argument(
        "-f", "--models",
        help="model definitions path (file or dir); optional inside a "
        "project with a sidemantic-spark.yml config",
    )
    p.add_argument("--config", help="explicit project config file")
    p.add_argument("--format", default="native",
                   help="input format: native, auto (per-file detection over a mixed directory), or any import adapter name")
    p.add_argument("--register", action="append",
                   help="bind data: model_name=/path/to/data.parquet (repeatable)")


def _add_query_args(p):
    p.add_argument("-m", "--metrics", action="append", default=None)
    p.add_argument("-d", "--dimensions", action="append", default=None)
    p.add_argument("-w", "--filters", action="append", default=None)
    p.add_argument("--order-by", action="append", default=None)
    p.add_argument("--limit", type=int, default=None)


def build_parser() -> "argparse.ArgumentParser":
    parser = argparse.ArgumentParser(prog="sidemantic-spark",
                                     description="PySpark-native semantic layer")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("query", help="run a structured semantic query")
    _add_models_arg(p)
    _add_query_args(p)
    p.add_argument("-o", "--output", choices=["table", "json", "csv"], default="table")
    p.set_defaults(func=cmd_query)

    p = sub.add_parser("sql", help="run semantic SQL")
    _add_models_arg(p)
    p.add_argument("sql")
    p.add_argument("-o", "--output", choices=["table", "json", "csv"], default="table")
    p.set_defaults(func=cmd_sql)

    p = sub.add_parser("rewrite", help="print rewritten SQL without executing")
    _add_models_arg(p)
    p.add_argument("sql")
    p.set_defaults(func=cmd_rewrite)

    p = sub.add_parser("compile", help="print compiled SQL for a structured query")
    _add_models_arg(p)
    _add_query_args(p)
    p.set_defaults(func=cmd_compile)

    p = sub.add_parser("convert", help="convert between semantic-model formats")
    _add_models_arg(p)
    p.add_argument("--to", default="native",
                   help="output format: native or any of the 17 exporters")
    p.add_argument("--out", default=None)
    p.add_argument("--fidelity", action="store_true",
                   help="report constructs the target format drops/approximates")
    p.set_defaults(func=cmd_convert)

    p = sub.add_parser("validate", help="validate model definitions")
    _add_models_arg(p)
    p.set_defaults(func=cmd_validate)

    p = sub.add_parser("info", help="describe the semantic graph")
    _add_models_arg(p)
    p.set_defaults(func=cmd_info)

    p = sub.add_parser("test", help="run golden YAML testcases")
    _add_models_arg(p)
    p.add_argument("cases", nargs="?", default=None, help="testcase YAML path")
    p.add_argument("--drift", action="store_true",
                   help="check models against the live catalog schema")
    p.set_defaults(func=cmd_test)

    p = sub.add_parser("serve", help="run the HTTP/Arrow API server")
    _add_models_arg(p)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8088)
    p.add_argument("--token", default=None, help="bearer token (default: no auth)")
    p.add_argument(
        "--require-user-attrs", action="store_true",
        help="reject data requests lacking the trusted user header",
    )
    p.add_argument(
        "--user-header", default="X-Sidemantic-User",
        help="trusted header carrying per-request user attributes (JSON)",
    )
    p.set_defaults(func=cmd_serve)

    p = sub.add_parser(
        "dashboard", help="validate/types/render semantic dashboard specs"
    )
    p.add_argument("action", choices=["validate", "types", "html"])
    p.add_argument("--spec", help="dashboard YAML/JSON (validate/html)")
    p.add_argument("--out", help="output file for html")
    _add_models_arg(p)
    p.set_defaults(func=cmd_dashboard)

    p = sub.add_parser(
        "crossfilter",
        help="interactive crossfilter HTML / live server for one semantic query",
    )
    _add_models_arg(p)
    _add_query_args(p)
    p.add_argument("--title", default=None)
    p.add_argument("--out", default=None, help="write standalone HTML here")
    p.add_argument("--serve", action="store_true", help="serve live instead")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8090)
    p.set_defaults(func=cmd_crossfilter)

    p = sub.add_parser("pgserve", help="run the PostgreSQL wire-protocol server")
    _add_models_arg(p)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=5433)
    p.add_argument("--username", default=None)
    p.add_argument("--password-file", default=None)
    p.add_argument("--user-attrs-file", default=None,
                   help="JSON map of username -> security user attributes")
    p.set_defaults(func=cmd_pgserve)

    p = sub.add_parser("mcp", help="run the MCP stdio server")
    _add_models_arg(p)
    p.add_argument(
        "--user-attributes",
        help="static security user namespace as a JSON object, e.g. "
        '\'{"tenant_id": 1}\'; default none (secured models deny)',
    )
    p.set_defaults(func=cmd_mcp)

    p = sub.add_parser("lsp", help="run the language server (stdio)")
    p.set_defaults(func=cmd_lsp)

    p = sub.add_parser(
        "schema",
        help="export the YAML authoring JSON Schema for editor completion",
    )
    p.add_argument("--out", default="sidemantic-spark-schema.json")
    p.set_defaults(func=cmd_schema)

    p = sub.add_parser("demo", help="write a runnable demo project")
    p.add_argument("--out", default=None)
    p.set_defaults(func=cmd_demo)

    p = sub.add_parser("workbench", help="interactive semantic-SQL REPL")
    _add_models_arg(p)
    p.set_defaults(func=cmd_workbench)

    gen = sub.add_parser("generate", help="TypeScript codegen")
    gensub = gen.add_subparsers(dest="generate_command", required=True)

    p = gensub.add_parser("types", help="typed-client schema module")
    _add_models_arg(p)
    p.add_argument("--out", default=None)
    p.set_defaults(func=cmd_generate_types)

    p = gensub.add_parser("sql", help="typed semantic-SQL signatures from TS sources")
    _add_models_arg(p)
    p.add_argument("sources", nargs="+", help="TS files/dirs/globs")
    p.add_argument("--out", default=None)
    p.set_defaults(func=cmd_generate_sql)

    p = sub.add_parser("init", help="introspect data files and generate model YAML")
    p.add_argument("data", nargs="+", help="parquet/csv/json files")
    p.add_argument("--out", default=None)
    p.set_defaults(func=cmd_init)

    p = sub.add_parser("explain", help="structured plan for a semantic query")
    _add_models_arg(p)
    _add_query_args(p)
    p.set_defaults(func=cmd_explain)

    p = sub.add_parser("explain-sql", help="rewrite explanation for semantic SQL")
    _add_models_arg(p)
    p.add_argument("sql")
    p.set_defaults(func=cmd_explain_sql)

    mg = sub.add_parser("migrate", help="SQL-corpus migration analysis")
    mgsub = mg.add_subparsers(dest="migrate_command", required=True)

    p = mgsub.add_parser("check", help="coverage report over a query corpus")
    _add_models_arg(p)
    p.add_argument("queries", help=".sql directory or ;-separated file")
    p.add_argument("-o", "--output", default="text", choices=["text", "json"])
    p.add_argument("-v", "--verbose", action="store_true")
    p.set_defaults(func=cmd_migrate_check)

    p = mgsub.add_parser("generate", help="generate models for uncovered tables")
    _add_models_arg(p, required=False)
    p.add_argument("queries", help=".sql directory or ;-separated file")
    p.add_argument("--out", default=None)
    p.set_defaults(func=cmd_migrate_generate)

    pa = sub.add_parser("preagg", help="pre-aggregation management")
    pasub = pa.add_subparsers(dest="preagg_command", required=True)

    p = pasub.add_parser("recommend", help="recommend rollups from a query log")
    _add_models_arg(p)
    p.add_argument("query_log", help="file with one compiled query per line")
    p.add_argument("--min-queries", type=int, default=10)
    p.add_argument("--top", type=int, default=None)
    p.add_argument("--apply", action="store_true")
    p.set_defaults(func=cmd_preagg_recommend)

    p = pasub.add_parser("apply", help="materialize rollups for a model")
    _add_models_arg(p)
    p.add_argument("model")
    p.add_argument("--name", default=None)
    p.set_defaults(func=cmd_preagg_apply)

    p = pasub.add_parser(
        "refresh", help="refresh rollups (incremental with --since)"
    )
    _add_models_arg(p)
    p.add_argument("model")
    p.add_argument("--name", default=None)
    p.add_argument("--since", default=None,
                   help="rebuild partitions >= this timestamp (e.g. 2026-01-01)")
    p.set_defaults(func=cmd_preagg_refresh)

    p = sub.add_parser("manpage", help="emit a roff man page for this CLI")
    p.set_defaults(func=cmd_manpage)

    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
