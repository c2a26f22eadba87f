"""SQL-corpus migration analyzer (reference ``core/migrator.py:195``).

Takes raw warehouse SQL queries and determines, against a semantic
layer:

- which queries the layer can already answer (``can_rewrite``), with
  the equivalent semantic-SQL rewrite,
- which tables have no model and which aggregates/columns have no
  metric/dimension (the coverage gaps), and
- for uncovered tables, generated model definitions (``generate``)
  bootstrapped from how the corpus actually queries them.

The reference parses with sqlglot; this environment has none, so the
analyzer uses the same regex/recursive approach as our semantic-SQL
rewriter — deliberately scoped to the warehouse-SQL shapes a metrics
migration actually encounters (aggregate GROUP BY queries over one or
two equi-joined tables, WHERE conjunctions, ORDER/LIMIT). Anything it
cannot classify is reported as not-rewritable with a reason, never
silently mis-migrated.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sidemantic_spark.core.graph import SemanticGraphError
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship
from sidemantic_spark.sql.fragments import (
    LITERALS,
    close_paren,
    segments,
    split_items,
    strip_comments,
)

_AGG_RE = re.compile(
    r"\b(SUM|COUNT|AVG|MIN|MAX|MEDIAN|STDDEV|VARIANCE)\s*\(\s*"
    r"(DISTINCT\s+)?([^()]*?|\*)\s*\)(?:\s+AS\s+(\w+))?",
    re.I,
)
_FROM_RE = re.compile(r"\bFROM\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?", re.I)
_JOIN_RE = re.compile(
    r"\bJOIN\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+([^()]+?)(?=\bJOIN\b|\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b|$)",
    re.I | re.S,
)
_GROUP_RE = re.compile(r"\bGROUP\s+BY\s+(.+?)(?:\bHAVING\b|\bORDER\b|\bLIMIT\b|$)", re.I | re.S)
_WHERE_RE = re.compile(r"\bWHERE\s+(.+?)(?:\bGROUP\b|\bORDER\b|\bLIMIT\b|$)", re.I | re.S)
_SELECT_RE = re.compile(r"\bSELECT\s+(.+?)\bFROM\b", re.I | re.S)
_LIMIT_RE = re.compile(r"\bLIMIT\s+(\d+)", re.I)
_ORDER_RE = re.compile(r"\bORDER\s+BY\s+(.+?)(?:\bLIMIT\b|$)", re.I | re.S)

_AGG_NAME = {
    "sum": "sum", "count": "count", "avg": "avg", "min": "min",
    "max": "max", "median": "median", "stddev": "stddev",
    "variance": "variance",
}

# EXTRACT(unit FROM col) would otherwise let _FROM_RE read `col` as a
# table (reference tests/test_migrator_edge_cases.py:34) — normalize to
# DATE_PART before any clause scanning
_EXTRACT_RE = re.compile(r"\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+([\w.]+)\s*\)", re.I)
# additional comma-separated FROM tables (implicit joins)
_FROM_MORE_RE = re.compile(r"\s*,\s*([\w.]+)(?:\s+(?:AS\s+)?(\w+))?", re.I)
_UNION_RE = re.compile(r"\bUNION(?:\s+ALL)?\b", re.I)
_DATEPART_RE = re.compile(r"\bDATE_(?:PART|TRUNC)\s*\(\s*'(\w+)'\s*,\s*([\w.]+)\s*\)", re.I)

# finer grains sort lower (finest-observed-grain rule)
_GRAIN_ORDER = {"second": 0, "minute": 1, "hour": 2, "day": 3, "week": 4,
                "month": 5, "quarter": 6, "year": 7}

_SQL_WORDS = {
    "from", "where", "group", "order", "over", "as", "on", "and", "or",
    "union", "having", "limit", "join", "when", "then", "else", "end",
    "case", "desc", "asc", "by", "distinct", "not", "in", "is", "null",
    "between", "like", "all",
}
_FN_WORDS = {
    "coalesce", "upper", "lower", "substring", "substr", "trim", "ltrim",
    "rtrim", "cast", "date_trunc", "date_part", "extract", "concat",
    "round", "abs", "nullif", "length", "replace", "left", "right",
    "ifnull", "greatest", "least", "decimal", "integer", "varchar",
    "double", "bigint", "date", "timestamp", "float", "numeric",
}


def _normalize_extract(text: str) -> str:
    return _EXTRACT_RE.sub(
        lambda m: f"DATE_PART('{m.group(1).lower()}', {m.group(2)})", text
    )


def _first_column(expr: str) -> str | None:
    """The first plain column reference inside an expression — the
    dimension a GROUP BY item like COALESCE(region, 'x') or
    UPPER(status) is really about."""
    for seg, literal in segments(expr, LITERALS):
        if literal:
            continue
        for m in re.finditer(r"[A-Za-z_][\w.]*", seg):
            tok = m.group(0)
            low = tok.lower()
            if low in _SQL_WORDS or low in _FN_WORDS:
                continue
            if seg[m.end():].lstrip().startswith("("):
                continue  # function call
            return tok.rsplit(".", 1)[-1]
    return None


def _balanced_end(text: str, open_i: int) -> int:
    """Index just past the ')' matching the '(' at ``open_i``."""
    end = close_paren(text, open_i)
    return len(text) if end is None else end + 1


_AGG_START_RE = re.compile(
    r"\b(SUM|COUNT|AVG|MIN|MAX|MEDIAN|STDDEV|VARIANCE)\s*\(", re.I
)


def _agg_calls(body: str) -> list[dict]:
    """Aggregate calls in a SELECT body, paren-balanced (nested CAST /
    CASE / math survive), with DISTINCT flag, optional OVER clause, and
    alias. Each entry: {fn, distinct, inner, over, alias, start, end}."""
    out: list[dict] = []
    for m in _AGG_START_RE.finditer(body):
        open_i = m.end() - 1
        end = _balanced_end(body, open_i)
        inner = body[open_i + 1:end - 1].strip()
        distinct = bool(re.match(r"DISTINCT\s", inner, re.I))
        if distinct:
            inner = inner[8:].strip()
        pos = end
        over = None
        om = re.match(r"\s*OVER\s*\(", body[pos:], re.I)
        if om:
            o_open = pos + om.end() - 1
            o_end = _balanced_end(body, o_open)
            over = body[o_open + 1:o_end - 1]
            pos = o_end
        alias = None
        am = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", body[pos:], re.I)
        if am and am.group(1).lower() not in _SQL_WORDS:
            alias = am.group(1)
        out.append({
            "fn": m.group(1).lower(), "distinct": distinct, "inner": inner,
            "over": over, "alias": alias, "start": m.start(), "end": pos,
        })
    return out


@dataclass
class QueryAnalysis:
    """Per-query coverage verdict (reference ``core/migrator.py:60``
    QueryAnalysis)."""

    sql: str
    tables: list[str] = field(default_factory=list)
    matched_models: dict[str, str] = field(default_factory=dict)  # table -> model
    missing_tables: list[str] = field(default_factory=list)
    matched_metrics: list[str] = field(default_factory=list)  # model.metric
    missing_metrics: list[tuple[str, str, str | None]] = field(default_factory=list)
    matched_dimensions: list[str] = field(default_factory=list)
    missing_dimensions: list[tuple[str, str]] = field(default_factory=list)
    can_rewrite: bool = False
    rewritten: str | None = None
    reasons: list[str] = field(default_factory=list)


class Migrator:
    """Coverage analyzer + model generator over a SQL query corpus."""

    def __init__(self, layer) -> None:
        self.layer = layer
        self.table_to_model: dict[str, str] = {}
        for name, model in layer.graph.models.items():
            if model.table:
                self.table_to_model[model.table.lower()] = name
                # schema-qualified tables also match on the bare name
                if "." in model.table:
                    self.table_to_model[model.table.rsplit(".", 1)[-1].lower()] = name
            self.table_to_model[name.lower()] = name

    # -- analysis -----------------------------------------------------

    def analyze(self, sql: str) -> QueryAnalysis:
        qa = QueryAnalysis(sql=sql.strip())
        text = _normalize_extract(strip_comments(sql))
        if re.search(r"\b(UNION|INTERSECT|EXCEPT|WITH)\b", text, re.I):
            qa.reasons.append("set operations / CTEs: migrate branches separately")
            return qa
        fm = _FROM_RE.search(text)
        if not fm:
            qa.reasons.append("no FROM clause found")
            return qa
        alias_to_table: dict[str, str] = {}
        base_table = fm.group(1)
        alias_to_table[(fm.group(2) or base_table.rsplit(".", 1)[-1]).lower()] = base_table
        qa.tables.append(base_table)
        for jm in _JOIN_RE.finditer(text):
            qa.tables.append(jm.group(1))
            alias_to_table[(jm.group(2) or jm.group(1).rsplit(".", 1)[-1]).lower()] = jm.group(1)

        for t in qa.tables:
            model = self.table_to_model.get(t.lower()) or self.table_to_model.get(
                t.rsplit(".", 1)[-1].lower()
            )
            if model:
                qa.matched_models[t] = model
            else:
                qa.missing_tables.append(t)
        if qa.missing_tables:
            qa.reasons.append(
                f"no model for table(s): {', '.join(qa.missing_tables)}"
            )

        def resolve_col(ref: str) -> tuple[str | None, str]:
            """alias-qualified or bare column -> (model, column)."""
            ref = ref.strip().strip("`\"")
            if "." in ref:
                alias, col = ref.rsplit(".", 1)
                table = alias_to_table.get(alias.lower(), alias)
                return qa.matched_models.get(table), col
            # bare column: attribute to the single matched model, else first
            models = list(dict.fromkeys(qa.matched_models.values()))
            for mname in models:
                model = self.layer.graph.models[mname]
                if _model_has_column(model, ref):
                    return mname, ref
            return (models[0] if models else None), ref

        select_m = _SELECT_RE.search(text)
        select_body = select_m.group(1) if select_m else ""
        sel_metrics: list[str] = []
        for call in _agg_calls(select_body):
            if call["over"] is not None:
                # a window over an aggregate cannot rewrite to a plain
                # metric reference — dropping the OVER would silently
                # change results
                qa.reasons.append(
                    "window function over aggregate: model it as a "
                    "cumulative metric (see migrate generate)"
                )
                continue
            fn, distinct, inner, alias = (
                call["fn"], call["distinct"], call["inner"], call["alias"],
            )
            agg = "count_distinct" if (fn == "count" and distinct) else _AGG_NAME[fn]
            col = None if inner in ("*", "") else inner
            mname, bare = resolve_col(col) if col else (None, None)
            if col is None:
                models = list(dict.fromkeys(qa.matched_models.values()))
                mname = models[0] if models else None
            if mname is None:
                qa.missing_metrics.append(("?", agg, col))
                continue
            metric = self._find_metric(mname, agg, bare)
            if metric:
                qa.matched_metrics.append(f"{mname}.{metric}")
                sel_metrics.append(f"{mname}.{metric}")
            else:
                qa.missing_metrics.append((mname, agg, bare))

        sel_dims: list[str] = []
        select_items = split_items(select_body)
        gm = _GROUP_RE.search(text)
        if gm:
            for ref in split_items(gm.group(1)):
                if re.fullmatch(r"\d+", ref):
                    # ordinal: resolve to the Nth select item's expression
                    idx = int(ref) - 1
                    if 0 <= idx < len(select_items):
                        ref = re.sub(
                            r"\s+AS\s+\w+\s*$", "", select_items[idx],
                            flags=re.I,
                        ).strip()
                    else:
                        qa.reasons.append("positional GROUP BY out of range")
                        continue
                if not re.fullmatch(r"[\w.]+", ref):
                    # expression GROUP BY: rewriting it to the bare
                    # column would change semantics — report the gap
                    # (generate() extracts the underlying column as a
                    # bootstrap dimension instead)
                    col0 = _first_column(ref) or ref
                    qa.missing_dimensions.append(("?", col0))
                    continue
                mname, col = resolve_col(ref)
                if mname is None:
                    qa.missing_dimensions.append(("?", col))
                    continue
                dim = self._find_dimension(mname, col)
                if dim:
                    qa.matched_dimensions.append(f"{mname}.{dim}")
                    sel_dims.append(f"{mname}.{dim}")
                else:
                    qa.missing_dimensions.append((mname, col))

        if qa.missing_metrics:
            qa.reasons.append(
                "no metric for: " + ", ".join(
                    f"{m}.{a}({c or '*'})" for m, a, c in qa.missing_metrics
                )
            )
        if qa.missing_dimensions:
            qa.reasons.append(
                "no dimension for: " + ", ".join(
                    f"{m}.{c}" for m, c in qa.missing_dimensions
                )
            )
        # joins must be representable by declared relationship paths
        if not qa.missing_tables and len(set(qa.matched_models.values())) > 1:
            models = list(dict.fromkeys(qa.matched_models.values()))
            for other in models[1:]:
                try:
                    self.layer.graph.find_path(models[0], other)
                except SemanticGraphError as exc:
                    qa.reasons.append(f"no join path {models[0]} -> {other}: {exc}")

        where_sql = None
        wm = _WHERE_RE.search(text)
        if wm and not qa.missing_tables:
            cond = " ".join(wm.group(1).split())
            where_sql, unresolved = self._qualify_filter(cond, qa, alias_to_table)
            if unresolved:
                qa.missing_dimensions.extend(
                    (m or "?", c) for m, c in unresolved
                )
                qa.reasons.append(
                    "filter columns without dimensions: "
                    + ", ".join(c for _m, c in unresolved)
                )

        qa.can_rewrite = not qa.reasons and bool(sel_metrics or sel_dims)
        if not qa.can_rewrite:
            if not qa.reasons:
                qa.reasons.append("no aggregates or group-by columns recognized")
            return qa

        parts = [f"SELECT {', '.join(sel_dims + sel_metrics)}"]
        parts.append(f"FROM {next(iter(qa.matched_models.values()))}")
        if where_sql:
            parts.append(f"WHERE {where_sql}")
        om = _ORDER_RE.search(text)
        if om:
            parts.append(f"ORDER BY {' '.join(om.group(1).split()).rstrip(',')}")
        lm = _LIMIT_RE.search(text)
        if lm:
            parts.append(f"LIMIT {lm.group(1)}")
        qa.rewritten = " ".join(parts)
        return qa

    def _find_metric(self, model_name: str, agg: str, col: str | None) -> str | None:
        model = self.layer.graph.models[model_name]
        for m in model.metrics:
            if not m.is_simple or m.agg != agg:
                continue
            msql = (m.sql or "").lower()
            if col is None and m.sql is None:
                return m.name
            if col is not None and (
                msql == col.lower()
                # decimal-exactness casts still cover the raw column
                or re.fullmatch(
                    rf"cast\s*\(\s*{re.escape(col.lower())}\s+as\s+[\w(), ]+\)", msql
                )
            ):
                return m.name
        return None

    def _find_dimension(self, model_name: str, col: str) -> str | None:
        model = self.layer.graph.models[model_name]
        for d in model.dimensions:
            if d.name.lower() == col.lower() or (d.sql or "").lower() == col.lower():
                return d.name
        return None

    _FILTER_KEYWORDS = {
        "and", "or", "not", "in", "is", "null", "like", "between",
        "true", "false", "case", "when", "then", "else", "end",
        "interval", "date", "timestamp", "current_date", "current_timestamp",
    }

    def _qualify_filter(
        self, cond: str, qa: QueryAnalysis, alias_to_table: dict
    ) -> tuple[str, list[tuple[str | None, str]]]:
        """Rewrite physical column refs in a WHERE conjunction to
        model.dimension refs. String literals, numbers, keywords and
        function calls pass through; a column no dimension covers is
        returned as unresolved (the query then cannot be auto-migrated
        — never emit SQL that silently references a raw column)."""
        unresolved: list[tuple[str | None, str]] = []

        def repl(m: re.Match) -> str:
            ref = m.group(0)
            if ref[0] in "'\"" or ref.rstrip().endswith("("):
                return ref
            if ref.lower() in self._FILTER_KEYWORDS:
                return ref
            if "." in ref:
                alias, col = ref.rsplit(".", 1)
                mname = qa.matched_models.get(alias_to_table.get(alias.lower(), alias))
            else:
                mname, col = None, ref
                for cand in dict.fromkeys(qa.matched_models.values()):
                    if self._find_dimension(cand, col):
                        mname = cand
                        break
                if mname is None:
                    mname = next(iter(qa.matched_models.values()), None)
            dim = self._find_dimension(mname, col) if mname else None
            if dim:
                return f"{mname}.{dim}"
            unresolved.append((mname, col))
            return ref

        out = re.sub(
            r"'[^']*'|\"[^\"]*\"|[a-zA-Z_]\w*\s*\(|[a-zA-Z_]\w*(?:\.\w+)?",
            repl, cond,
        )
        return out, unresolved

    def check(self, sqls: list[str]) -> dict:
        """Corpus coverage report (``migrate check``)."""
        analyses = [self.analyze(s) for s in sqls if s.strip()]
        rewritable = [a for a in analyses if a.can_rewrite]
        missing_tables: dict[str, int] = {}
        missing_metrics: dict[str, int] = {}
        for a in analyses:
            for t in a.missing_tables:
                missing_tables[t] = missing_tables.get(t, 0) + 1
            for mname, agg, col in a.missing_metrics:
                key = f"{mname}.{agg}({col or '*'})"
                missing_metrics[key] = missing_metrics.get(key, 0) + 1
        return {
            "total": len(analyses),
            "rewritable": len(rewritable),
            "coverage": round(len(rewritable) / len(analyses), 4) if analyses else 1.0,
            "missing_tables": missing_tables,
            "missing_metrics": missing_metrics,
            "analyses": analyses,
        }

    # -- generation ---------------------------------------------------

    def generate(self, sqls: list[str]) -> dict[str, Model]:
        """Bootstrap Model definitions for uncovered tables from how the
        corpus queries them (``migrate generate``; edge-case contract
        mirrors reference ``tests/test_migrator_edge_cases.py``):

        - aggregate calls -> metrics (paren-balanced, so CASE/CAST/math
          inside the call survive);
        - GROUP BY items -> dimensions: ordinals resolve through the
          select list, expressions (COALESCE/UPPER/SUBSTRING/...)
          contribute their underlying column, DATE_PART/DATE_TRUNC
          (and EXTRACT, pre-normalized) mark the column as a time
          dimension;
        - SELECT DISTINCT with no aggregates -> dimensions;
        - ``AGG(col) OVER (...)`` -> a base simple metric plus a
          cumulative metric (ROWS BETWEEN n PRECEDING -> window,
          PARTITION BY DATE_TRUNC('g', ...) -> grain_to_date); rank
          window functions are ignored;
        - UNION branches analyze independently;
        - implicit comma joins propose both models, with the
          fk = pk equality in WHERE becoming a relationship.
        """
        proposed: dict[str, Model] = {}
        for sql in sqls:
            if not sql.strip():
                continue
            for branch in _UNION_RE.split(strip_comments(sql)):
                self._generate_branch(_normalize_extract(branch), proposed)
        return proposed

    def _generate_branch(self, text: str, proposed: dict[str, Model]) -> None:
        fm = _FROM_RE.search(text)
        if not fm:
            return
        tables: list[tuple[str, str]] = []  # (table, alias)
        tables.append((fm.group(1), (fm.group(2) or fm.group(1).rsplit(".", 1)[-1])))
        # implicit comma joins: FROM a x, b y
        pos = fm.end()
        while True:
            cm = _FROM_MORE_RE.match(text, pos)
            if not cm or cm.group(1).lower() in _SQL_WORDS:
                break
            tables.append((cm.group(1), cm.group(2) or cm.group(1).rsplit(".", 1)[-1]))
            pos = cm.end()
        for jm in _JOIN_RE.finditer(text):
            tables.append((jm.group(1), jm.group(2) or jm.group(1).rsplit(".", 1)[-1]))

        select_m = _SELECT_RE.search(text)
        body = select_m.group(1) if select_m else ""
        calls = _agg_calls(body)
        alias_of = {a.lower(): t.rsplit(".", 1)[-1] for t, a in tables}

        def model_for(col_ref: str | None) -> Model | None:
            """Pick the proposed model a column belongs to (alias-
            qualified refs decide; bare columns go to the first)."""
            if col_ref and "." in col_ref:
                tname = alias_of.get(col_ref.rsplit(".", 1)[0].lower())
                if tname and tname in proposed:
                    return proposed[tname]
            for t, _a in tables:
                name = t.rsplit(".", 1)[-1]
                if name in proposed:
                    return proposed[name]
            return None

        for table, _alias in tables:
            if self.table_to_model.get(table.lower()):
                continue
            name = table.rsplit(".", 1)[-1]
            if name not in proposed:
                proposed[name] = Model(
                    name=name, table=table, primary_key="id",
                    dimensions=[], metrics=[],
                )
        if not proposed:
            return

        # -- metrics (per select ITEM: an item that is exactly one
        # aggregate keeps its alias as the metric name; an item
        # combining aggregates with arithmetic becomes base metrics +
        # a DERIVED metric referencing them — ref tests
        # test_migrator_generation.py:668-734) -------------------------
        def _strip_quals(expr: str) -> str:
            for _t, a in tables:
                expr = re.sub(rf"\b{re.escape(a)}\.", "", expr)
            return expr

        def _base_metric(call: dict, model: Model) -> str:
            """Register the canonical base metric for an agg call;
            returns its name."""
            fn, inner = call["fn"], call["inner"]
            agg = ("count_distinct" if (fn == "count" and call["distinct"])
                   else _AGG_NAME[fn])
            col = None if inner in ("*", "") else inner
            base_col = _first_column(inner) if col else None
            name = re.sub(
                r"\W+", "_",
                (f"{agg}_{base_col}" if base_col else "row_count"),
            ).lower()
            if model.metric(name) is None:
                model.add_metric(Metric(
                    name=name, agg=agg,
                    sql=_strip_quals(col) if col else None,
                ))
            return name

        for item in split_items(body):
            item_calls = _agg_calls(item)
            if not item_calls:
                continue
            alias_m = re.search(r"\s+AS\s+(\w+)\s*$", item, re.I)
            item_alias = alias_m.group(1) if alias_m else None
            item_expr = item[:alias_m.start()] if alias_m else item
            first = item_calls[0]
            model = model_for(
                first["inner"]
                if re.fullmatch(r"[\w.]+", first["inner"] or "")
                else None
            )
            if model is None:
                continue
            if re.search(
                r"\b(?:RANK|DENSE_RANK|ROW_NUMBER|NTILE|LAG|LEAD|"
                r"PERCENT_RANK|CUME_DIST|FIRST_VALUE|LAST_VALUE)\s*\(",
                item, re.I,
            ):
                # rank-family window functions are row-ordering artifacts,
                # not metrics (ref test :780); keep any inner base aggs
                for c in item_calls:
                    if c["over"] is None:
                        _base_metric(c, model)
                continue
            windows = [c for c in item_calls if c["over"] is not None]
            if windows:
                call = windows[0]
                if _AGG_START_RE.search(call["inner"]):
                    # percent-of-total SUM(SUM(x)) OVER(): register the
                    # inner base aggregates only
                    for c in item_calls:
                        if c["over"] is None:
                            _base_metric(c, model)
                    continue
                base_name = _base_metric(call, model)
                window = None
                grain_to_date = None
                wm = re.search(r"ROWS\s+BETWEEN\s+(\d+)\s+PRECEDING",
                               call["over"], re.I)
                if wm:
                    window = f"{wm.group(1)} days"
                gm_ = re.search(
                    r"PARTITION\s+BY\s+DATE_TRUNC\s*\(\s*'(\w+)'",
                    call["over"], re.I,
                )
                if gm_:
                    grain_to_date = gm_.group(1).lower()
                cname = re.sub(
                    r"\W+", "_", item_alias or f"cumulative_{base_name}"
                ).lower()
                if model.metric(cname) is None:
                    model.add_metric(Metric(
                        name=cname, type="cumulative",
                        sql=f"{model.name}.{base_name}",
                        window=window, grain_to_date=grain_to_date,
                    ))
                continue
            sole_call = (
                len(item_calls) == 1
                and re.fullmatch(r"\s*", item[:first["start"]])
                and re.fullmatch(r"\s*(?:AS\s+\w+)?\s*",
                                 item[first["end"]:], re.I)
            )
            if sole_call:
                # the item IS one aggregate call: alias names the metric
                fn, inner = first["fn"], first["inner"]
                agg = ("count_distinct"
                       if (fn == "count" and first["distinct"])
                       else _AGG_NAME[fn])
                col = None if inner in ("*", "") else inner
                base_col = _first_column(inner) if col else None
                mname = re.sub(
                    r"\W+", "_",
                    item_alias or (f"{agg}_{base_col}" if base_col
                                   else "row_count"),
                ).lower()
                if model.metric(mname) is None:
                    model.add_metric(Metric(
                        name=mname, agg=agg,
                        sql=_strip_quals(col) if col else None,
                    ))
                continue
            # composite item: base metrics + a derived metric whose sql
            # references them by name (executable by this engine, where
            # the reference stores the raw SQL text)
            base_names: list[tuple[dict, str]] = [
                (c, _base_metric(c, model)) for c in item_calls
            ]
            if item_alias:
                derived = item_expr
                # replace call text right-to-left so spans stay valid
                for c, bname in sorted(
                    base_names, key=lambda t: -t[0]["start"]
                ):
                    derived = (
                        derived[:c["start"]] + bname + derived[c["end"]:]
                    )
                dname = re.sub(r"\W+", "_", item_alias).lower()
                if model.metric(dname) is None:
                    model.add_metric(Metric(
                        name=dname, type="derived",
                        sql=_strip_quals(derived).strip(),
                    ))

        # -- dimensions --------------------------------------------------
        select_items = split_items(body)

        def add_dim(expr: str) -> None:
            expr = re.sub(r"\s+AS\s+\w+\s*$", "", expr.strip(), flags=re.I)
            if _AGG_START_RE.search(expr):
                return
            dp = _DATEPART_RE.search(expr)
            is_time = bool(dp)
            grain = dp.group(1).lower() if dp else None
            col = _first_column(expr) if not re.fullmatch(r"[\w.]+", expr) else expr.rsplit(".", 1)[-1]
            if not col or not re.fullmatch(r"\w+", col):
                return
            model = model_for(expr if "." in expr else None)
            if model is None:
                return
            existing = next((d for d in model.dimensions if d.name == col), None)
            if existing is None:
                if model.dimension(col) is not None:
                    return  # synthesized pk/fk dimension: queryable already
                model.add_dimension(Dimension(
                    name=col, type="time" if is_time else "categorical",
                    granularity=grain,
                ))
            elif is_time:
                # a time column is emitted once, at the FINEST grain
                # observed across the corpus (ref test :399-424)
                existing.type = "time"
                if grain and (
                    existing.granularity is None
                    or _GRAIN_ORDER.get(grain, 9)
                    < _GRAIN_ORDER.get(existing.granularity, 9)
                ):
                    existing.granularity = grain

        gm = _GROUP_RE.search(text)
        if gm:
            for ref in split_items(gm.group(1)):
                if re.fullmatch(r"\d+", ref):
                    idx = int(ref) - 1
                    if 0 <= idx < len(select_items):
                        add_dim(select_items[idx])
                    continue
                add_dim(ref)
        elif re.match(r"\s*SELECT\s+DISTINCT\b", text, re.I) and not calls:
            for item in select_items:
                add_dim(re.sub(r"^\s*DISTINCT\s+", "", item, flags=re.I))

        # -- join relationships (explicit JOIN ON + implicit WHERE) ------
        if len(tables) > 1:
            wm = _WHERE_RE.search(text)
            cond_text = " ".join(
                [wm.group(1) if wm else ""]
                + [jm.group(3) or "" for jm in _JOIN_RE.finditer(text)]
            )
            for eq in re.finditer(
                r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)", cond_text
            ):
                la, lc, ra, rc = eq.groups()
                lt, rt = alias_of.get(la.lower()), alias_of.get(ra.lower())
                if not lt or not rt or lt == rt:
                    continue

                def _keyish(c: str) -> bool:
                    c = c.lower()
                    return c == "id" or c.endswith("_id") or c.endswith("key")

                # a non-key equality (a.status = b.status) is a filter,
                # not a join edge (ref test :1367)
                if not (_keyish(lc) or _keyish(rc)):
                    continue
                # fk side = the column that is not the bare pk name
                if rc.lower() == "id" or rc.lower().endswith("key"):
                    fk_model, fk, target, pk = lt, lc, rt, rc
                else:
                    fk_model, fk, target, pk = rt, rc, lt, lc
                owner = proposed.get(fk_model)
                if owner is not None and all(
                    r.name != target for r in owner.relationships
                ):
                    owner.relationships.append(Relationship(
                        name=target, type="many_to_one",
                        foreign_key=fk, primary_key=pk,
                    ))

    def generate_yaml(self, sqls: list[str]) -> str:
        """Generated models as native YAML (the ``--output`` payload)."""
        from sidemantic_spark.authoring.yaml_io import export_yaml
        from sidemantic_spark.core.graph import SemanticGraph

        graph = SemanticGraph()
        for model in self.generate(sqls).values():
            graph.add_model(model)
        return export_yaml(graph)


def _model_has_column(model: Model, col: str) -> bool:
    low = col.lower()
    if any(d.name.lower() == low or (d.sql or "").lower() == low for d in model.dimensions):
        return True
    if any((m.sql or "").lower() == low for m in model.metrics):
        return True
    return low in [c.lower() for c in model.pk_list()]
