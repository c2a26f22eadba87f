"""Golden-query test runner (reference ``sidemantic/testing.py:1-60``,
CLI ``sidemantic test`` ``cli.py:719``).

YAML testcases::

    tests:
      - name: revenue_by_status
        query:
          metrics: [orders.revenue]
          dimensions: [orders.status]
          order_by: [orders.status]
        expect:
          rows:
            - {status: F, revenue: 100.5}
          row_count: 3
          columns: [status, revenue]
          tolerance: 1e-6

``expect.value`` asserts a single-cell result. All comparisons run on
collected driver-side rows — golden suites are tiny by design; scale
testing belongs to the benchmark harness.
"""

from __future__ import annotations

import datetime
import decimal
import re
from dataclasses import dataclass, field

import yaml

from sidemantic_spark.sql.fragments import LITERALS, segments


@dataclass
class TestResult:
    name: str
    passed: bool
    failures: list[str] = field(default_factory=list)


def run_golden_tests(layer, path_or_text: str) -> list[TestResult]:
    """Run every testcase; returns per-case results (no raising) so the
    caller can report all failures at once."""
    if "\n" in path_or_text or path_or_text.strip().startswith("tests:"):
        text = path_or_text
    else:
        with open(path_or_text) as fh:
            text = fh.read()
    doc = yaml.safe_load(text)
    cases = doc.get("tests") or []
    results: list[TestResult] = []
    for case in cases:
        results.append(_run_case(layer, case))
    return results


def _run_case(layer, case: dict) -> TestResult:
    name = case.get("name", "<unnamed>")
    expect = case.get("expect") or {}
    tol = float(expect.get("tolerance", 1e-9))
    failures: list[str] = []
    try:
        q = dict(case.get("query") or {})
        df = layer.query(**q)
        columns = list(df.columns)
        rows = [r.asDict() for r in df.collect()]
    except Exception as exc:
        if expect.get("error_contains"):
            token = expect["error_contains"]
            if token not in str(exc):
                failures.append(f"error {exc!r} does not contain {token!r}")
            return TestResult(name, not failures, failures)
        return TestResult(name, False, [f"query failed: {exc}"])

    if expect.get("error_contains"):
        failures.append("expected an error but query succeeded")
    if "row_count" in expect and len(rows) != expect["row_count"]:
        failures.append(f"row_count {len(rows)} != {expect['row_count']}")
    if "columns" in expect:
        # schema columns, not the first row's keys: a correct
        # zero-row result must still pass the columns check
        if sorted(columns) != sorted(expect["columns"]):
            failures.append(f"columns {columns} != {expect['columns']}")
    if "value" in expect:
        if not rows or len(rows[0]) == 0:
            failures.append("no value returned")
        else:
            got = next(iter(rows[0].values()))
            if not _value_eq(got, expect["value"], tol):
                failures.append(f"value {got!r} != {expect['value']!r}")
    if "rows" in expect:
        want = expect["rows"]
        if len(want) != len(rows):
            failures.append(f"{len(rows)} rows, expected {len(want)}")
        else:
            for i, (w, g) in enumerate(zip(want, rows)):
                for col, wv in w.items():
                    if col not in g:
                        failures.append(f"row {i}: missing column {col!r}")
                    elif not _value_eq(g[col], wv, tol):
                        failures.append(f"row {i} col {col}: {g[col]!r} != {wv!r}")
    return TestResult(name, not failures, failures)


def _value_eq(got, want, tol: float) -> bool:
    if isinstance(got, decimal.Decimal):
        got = float(got)
    if isinstance(got, (datetime.date, datetime.datetime)):
        got = str(got)
        want = str(want)
    if isinstance(got, float) or isinstance(want, float):
        try:
            return abs(float(got) - float(want)) <= tol * max(1.0, abs(float(want)))
        except (TypeError, ValueError):
            return False
    return got == want


_IDENT_ONLY_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_COL_TOKEN_RE = re.compile(r"\b[A-Za-z_][A-Za-z0-9_]*\b")
_SQL_WORDS = {
    "select", "from", "where", "and", "or", "not", "case", "when", "then",
    "else", "end", "as", "cast", "sum", "count", "avg", "min", "max",
    "distinct", "null", "true", "false", "coalesce", "nullif", "in", "is",
    "like", "between", "interval", "double", "decimal", "int", "bigint",
    "string", "varchar", "date", "timestamp", "boolean", "over", "partition",
    "by", "order", "concat", "abs", "round", "floor", "ceil", "lower",
    "upper", "if",
}


def _referenced_columns(expression: str) -> set[str]:
    """Best-effort bare column references in a SQL expression fragment
    (reference ``sidemantic/testing.py:205``): a bare identifier IS the
    column; otherwise unqualified word tokens minus SQL keywords and
    function names (a token followed by '(')."""
    expr = expression.strip()
    if _IDENT_ONLY_RE.match(expr):
        return {expr}
    out: set[str] = set()
    for seg, literal in segments(expr, LITERALS):
        if literal:
            continue
        for m in _COL_TOKEN_RE.finditer(seg):
            tok = m.group(0)
            end = m.end()
            rest = seg[end:end + 1]
            prev = seg[m.start() - 1] if m.start() > 0 else ""
            if prev == ".":
                continue  # qualified: table checked separately
            if rest == "(" or seg[end:].lstrip()[:1] == "(":
                continue  # function call
            if tok.lower() in _SQL_WORDS or tok.isdigit():
                continue
            out.add(tok)
    return out


@dataclass
class DriftReport:
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    checked_models: int = 0

    @property
    def ok(self) -> bool:
        return not self.errors


def check_schema_drift(layer) -> "DriftReport":
    """Compare loaded models against the LIVE Spark catalog (reference
    ``sidemantic/testing.py:228``): dropped/renamed tables and columns
    that static validation cannot see.  Every table/SQL-backed model is
    probed with a zero-row analysis (no data read — Catalyst resolves
    the schema) and declared pk/dimension/metric/relationship columns
    are checked against the live column list."""
    report = DriftReport()
    layer.register_sources()
    for model_name, model in sorted(layer.graph.models.items()):
        if model.table:
            probe = f"SELECT * FROM {model.table} LIMIT 0"
        elif model.sql:
            probe = f"SELECT * FROM ({model.sql}) AS _probe LIMIT 0"
        elif model.source_uri:
            probe = f"SELECT * FROM {model.name} LIMIT 0"
        else:
            continue
        try:
            live = {f.name.lower() for f in layer.spark.sql(probe).schema.fields}
        except Exception as exc:
            source = model.table or model.source_uri or "inline sql"
            report.errors.append(
                f"Model '{model_name}': cannot read {source}: "
                f"{str(exc).splitlines()[0][:160]}"
            )
            continue
        report.checked_models += 1

        def check(kind: str, label: str, expression: str | None,
                  columns=live, name=model_name) -> None:
            for column in (_referenced_columns(expression) if expression else set()):
                if column.lower() not in columns:
                    report.errors.append(
                        f"Model '{name}': {kind} '{label}' references "
                        f"missing column '{column}'"
                    )

        if model.primary_key:
            for column in model.pk_list():
                if column.lower() not in live:
                    report.errors.append(
                        f"Model '{model_name}': primary key column "
                        f"'{column}' not found in database"
                    )
        for dimension in model.dimensions:
            if dimension.window:
                continue  # window expressions reference output columns
            check("dimension", dimension.name, dimension.sql or dimension.name)
        for metric in model.metrics:
            if metric.sql and metric.is_simple:
                check("metric", metric.name, metric.sql)
        for relationship in model.relationships:
            for column in relationship.fk_list():
                if relationship.type in ("one_to_many", "one_to_one"):
                    continue  # FK lives on the RELATED model
                if column.lower() not in live:
                    report.errors.append(
                        f"Model '{model_name}': relationship "
                        f"'{relationship.name}' foreign key '{column}' "
                        "not found in database"
                    )
    return report
