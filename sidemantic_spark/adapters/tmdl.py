"""Power BI TMDL (Tabular Model Definition Language) importer.

Re-expression of the reference's TMDL adapter
(``adapters/tmdl.py``, ``adapters/tmdl_parser.py``): an indentation-
structured format with ``table`` / ``column`` / ``measure`` blocks in
``definition/tables/*.tmdl`` plus ``definition/relationships.tmdl``.
DAX measures map when they are single-aggregate shapes
(``SUM('T'[col])`` etc.); other DAX is imported as an opaque disabled
metric (description notes the original expression) — the reference
needs its Rust DAX parser for more.

Cardinality mapping follows ``adapters/tmdl.py:1406-1413``: an omitted
toCardinality defaults to "many".
"""

from __future__ import annotations

import os
import re

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# TMDL dataType / DAX function -> ours (any case); exports use the first listed
_TYPE_MAP = {
    "dateTime": "time",
    "date": "time",
    "boolean": "boolean",
    "double": "numeric",
    "int64": "numeric",
    "decimal": "numeric",
    "string": "categorical",
}
_TYPE_BY_LOWER = {k.lower(): v for k, v in _TYPE_MAP.items()}

_DAX_AGG_MAP = {
    "SUM": "sum", "COUNT": "count", "AVERAGE": "avg", "MIN": "min",
    "MAX": "max", "DISTINCTCOUNT": "count_distinct", "COUNTROWS": "count",
    "MEDIAN": "median",
}
_DAX_AGG_RE = re.compile(
    rf"^\s*({'|'.join(_DAX_AGG_MAP)})\s*\(\s*"
    r"(?:'([^']+)'|(\w+))?\s*(?:\[([^\]]+)\])?\s*\)\s*$",
    re.I,
)
# X-iterators over a row expression: SUMX('T', 'T'[a] * 'T'[b])
_DAX_X_MAP = {
    "SUMX": "sum", "AVERAGEX": "avg", "MINX": "min", "MAXX": "max",
    "COUNTX": "count", "MEDIANX": "median",
}
_DAX_X_RE = re.compile(
    rf"^\s*({'|'.join(_DAX_X_MAP)})\s*\(\s*(?:'([^']+)'|(\w+))\s*,\s*(.+)\)\s*$",
    re.I | re.S,
)
_DAX_DIVIDE_RE = re.compile(
    r"^\s*DIVIDE\s*\(", re.I
)
_DAX_CALC_RE = re.compile(r"^\s*CALCULATE\s*\(", re.I)
_BARE_MEASURE_RE = re.compile(r"^\s*\[([^\]]+)\]\s*$")

_REF_RE = re.compile(r"(?:'([^']+)'|(\w+))\[([^\]]+)\]")


def _split_dax_args(body: str) -> list[str]:
    """Split top-level commas, respecting parens/brackets/quotes."""
    out, buf, depth = [], [], 0
    in_s = in_d = False
    for ch in body:
        if in_s:
            buf.append(ch)
            if ch == "'":
                in_s = False
            continue
        if in_d:
            buf.append(ch)
            if ch == '"':
                in_d = False
            continue
        if ch == "'":
            in_s = True
        elif ch == '"':
            in_d = True
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def _call_body(dax: str) -> str | None:
    """Inner text of the outermost call: ``F( ... )`` -> ``...``."""
    open_idx = dax.find("(")
    if open_idx < 0:
        return None
    depth = 0
    for i in range(open_idx, len(dax)):
        if dax[i] == "(":
            depth += 1
        elif dax[i] == ")":
            depth -= 1
            if depth == 0:
                if dax[i + 1 :].strip():
                    return None  # trailing text: not a single call
                return dax[open_idx + 1 : i]
    return None


def _dax_cols_to_sql(expr: str) -> str:
    """``'T'[col]`` / ``T[col]`` refs -> bare sanitized column names;
    DAX double-quote string literals -> SQL single-quote."""
    out = _REF_RE.sub(lambda m: _sanitize(m.group(3)), expr)
    out = re.sub(r'"([^"]*)"', lambda m: "'" + m.group(1).replace("'", "''") + "'", out)
    # DAX operators with direct SQL equivalents
    out = re.sub(r"\s*&&\s*", " AND ", out)
    out = re.sub(r"\s*\|\|\s*", " OR ", out)
    out = re.sub(r"(?<![<>])=(?!=)", "=", out)
    return out.strip()


def _sanitize(name: str) -> str:
    return re.sub(r"\W+", "_", name.strip()).strip("_").lower()


def _unquote(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    return tok


class TmdlAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        """Accept a definition directory, its parent, or one .tmdl file."""
        if os.path.isdir(path):
            droot = path
            if os.path.isdir(os.path.join(path, "definition")):
                droot = os.path.join(path, "definition")
            tdir = os.path.join(droot, "tables")
            files = []
            if os.path.isdir(tdir):
                files = [os.path.join(tdir, f) for f in sorted(os.listdir(tdir)) if f.endswith(".tmdl")]
            for f in files:
                self._parse_tables(layer, open(f).read())
            rel_file = os.path.join(droot, "relationships.tmdl")
            if os.path.exists(rel_file):
                self._parse_relationships(layer, open(rel_file).read())
        else:
            with open(path) as fh:
                self.parse_text(layer, fh.read())

    def parse_text(self, layer, text: str) -> None:
        self._parse_tables(layer, text)
        if "relationship " in text:
            self._parse_relationships(layer, text)

    # -- tables ------------------------------------------------------

    def _parse_tables(self, layer, text: str) -> None:
        lines = text.splitlines()
        i, n = 0, len(lines)
        while i < n:
            line = lines[i]
            m = re.match(r"^table\s+(.+?)\s*$", line)
            if not m:
                i += 1
                continue
            tname = _unquote(m.group(1))
            dims: list[Dimension] = []
            mets: list[Metric] = []
            pk = None
            i += 1
            while i < n and (not lines[i].strip() or lines[i][:1] in (" ", "\t", "#", "/")):
                s = lines[i].strip()
                cm = re.match(r"^column\s+(.+?)\s*$", s)
                mm = re.match(r"^measure\s+(.+?)\s*=\s*(.*)$", s)
                if cm:
                    cname = _unquote(cm.group(1))
                    props, i = self._props(lines, i + 1)
                    dtype = _TYPE_BY_LOWER.get((props.get("datatype") or "string").lower(), "categorical")
                    src = props.get("sourcecolumn") or cname
                    dname = _sanitize(cname)
                    dims.append(Dimension(
                        name=dname, type=dtype,
                        sql=None if src == dname else src,
                        label=cname if cname != dname else None,
                    ))
                    if "iskey" in props:
                        pk = dname
                    continue
                if mm:
                    mname, expr = _unquote(mm.group(1)), mm.group(2).strip()
                    if expr == "```" or not expr:  # backtick / multiline DAX block
                        expr, i = self._multiline(lines, i + 1,
                                                  fenced=(expr == "```"))
                    else:
                        _props_ignored, i = self._props(lines, i + 1)
                    mets.append(self._dax_measure(mname, expr, _sanitize(tname)))
                    continue
                i += 1
            layer.add_model(Model(
                name=_sanitize(tname),
                table=tname if re.match(r"^\w+$", tname) else f"`{tname}`",
                primary_key=pk or "id",
                dimensions=dims,
                metrics=[m for m in mets if m is not None],
            ))

    def _props(self, lines: list[str], i: int) -> tuple[dict, int]:
        """Collect `key: value` / bare-flag props at deeper indent."""
        props: dict[str, str] = {}
        while i < len(lines):
            s = lines[i].strip()
            if not s or s.startswith("#") or s.startswith("///"):
                i += 1
                continue
            if re.match(r"^(table|column|measure|partition|hierarchy|relationship)\b", s) or not lines[i][:1].isspace():
                break
            kv = re.match(r"^(\w+)\s*:\s*(.*)$", s)
            # TMDL property names are case-insensitive (the reference's
            # tokenizer lowercases before lookup) — normalize here
            if kv:
                props[kv.group(1).lower()] = kv.group(2).strip().strip('"')
            elif re.match(r"^\w+$", s):
                props[s.lower()] = "true"
            i += 1
        return props, i

    def _multiline(self, lines: list[str], i: int, fenced: bool = True) -> tuple[str, int]:
        """Collect a multiline DAX expression. Fenced blocks read to the
        closing ```; UNFENCED continuations (``measure X =`` with the
        DAX indented on following lines) stop at the first property line
        (``formatString: ...``) or declaration — reading to a fence that
        never comes would swallow every following measure."""
        out = []
        while i < len(lines):
            s = lines[i].strip()
            if fenced:
                if s == "```":
                    i += 1
                    break
            else:
                if re.match(r"^(table|column|measure|partition|hierarchy"
                            r"|relationship|kpi|annotation)\b", s) or \
                        re.match(r"^\w+\s*:", s) and not out:
                    break
                if out and re.match(r"^(formatString|lineageTag|displayFolder"
                                    r"|description|isHidden|dataCategory"
                                    r"|annotation|changedProperty)\b", s):
                    break
            out.append(s)
            i += 1
        return " ".join(x for x in out if x), i

    def _dax_measure(self, name: str, dax: str, table: str) -> Metric | None:
        """Translate a DAX measure and tag it with the construct shape it
        came from, so fidelity reports attribute export regressions to a
        named DAX construct (round-5 verdict task)."""
        m = self._dax_measure_inner(name, dax, table)
        if m is None:
            return None
        if m.meta is None:
            d = dax.strip()
            if (m.description or "").startswith("unparsed DAX"):
                tag = "dax:opaque"
            elif re.match(r"^\s*TOTAL(YTD|QTD|MTD)", d, re.I):
                tag = "dax:total_to_date"
            elif re.match(r"^\s*VAR\b", d, re.I):
                tag = "dax:var_return"
            elif _DAX_CALC_RE.match(d):
                tag = "dax:calculate"
            elif _DAX_DIVIDE_RE.match(d):
                tag = "dax:divide"
            elif m.type == "derived":
                tag = "dax:measure_formula"
            else:
                tag = "dax:aggregate"
            m.meta = {"construct": tag}
        return m

    def _dax_measure_inner(self, name: str, dax: str, table: str) -> Metric | None:
        """Translate the common DAX measure shapes (the reference covers
        these via its DAX parser's agg-extraction, adapters/tmdl.py
        ``_extract_dax_agg``; the long tail imports opaque):

        - ``SUM('T'[col])`` family -> simple aggregate
        - ``SUMX('T', <row expr>)`` family -> aggregate over the expr
        - ``CALCULATE(<agg>, <predicate>...)`` -> filtered metric
        - ``DIVIDE(a, b[, alt])`` -> ratio of measures, or a
          complete-SQL safe divide when the args are inline aggregates
        - arithmetic over ``[measure]`` refs -> derived metric
        """
        mname = _sanitize(name)
        label = name if name != mname else None
        dax = dax.strip()
        # single VAR x = <expr> RETURN <body>: inline the var so simple
        # shapes like `VAR ly = [Sales (LY)] RETURN DIVIDE([Sales]-ly, ly)`
        # translate as measure formulas instead of importing opaque
        vm = re.match(r"^\s*VAR\s+(\w+)\s*=\s*(.+?)\s+RETURN\s+(.+)$",
                      dax, re.I | re.S)
        if vm and not re.search(r"\bVAR\b", vm.group(3), re.I):
            var_name, var_expr, body = vm.groups()
            if "(" not in var_expr or _BARE_MEASURE_RE.match(var_expr.strip()):
                dax = re.sub(rf"\b{re.escape(var_name)}\b",
                             f"({var_expr.strip()})", body.strip())
        simple = self._dax_simple_agg(dax)
        if simple is not None:
            agg, sql = simple
            return Metric(name=mname, agg=agg, sql=sql, label=label)
        # time intelligence: TOTALYTD/TOTALQTD/TOTALMTD(base, 'Date'[col])
        # -> native grain-to-date cumulative metrics
        tm = re.match(r"^\s*TOTAL(YTD|QTD|MTD)\s*\(", dax, re.I)
        if tm:
            body = _call_body(dax)
            args = _split_dax_args(body or "")
            # only the plain 2-arg form (base, date column) translates;
            # extra args (filter predicates, year_end_date) would be
            # silently dropped — those keep the opaque import instead
            if len(args) == 2:
                grain = {"ytd": "year", "qtd": "quarter",
                         "mtd": "month"}[tm.group(1).lower()]
                first = args[0].strip()
                bm = _BARE_MEASURE_RE.match(first)
                if bm:
                    return Metric(name=mname, type="cumulative", label=label,
                                  grain_to_date=grain,
                                  base_metric=_sanitize(bm.group(1)))
                inner = self._dax_simple_agg(first)
                if inner is not None:
                    return Metric(name=mname, type="cumulative", label=label,
                                  grain_to_date=grain,
                                  agg=inner[0], sql=inner[1])
        if _DAX_CALC_RE.match(dax):
            body = _call_body(dax)
            if body is not None:
                args = _split_dax_args(body)
                inner = self._dax_simple_agg(args[0]) if args else None
                # CALCULATE(base, DATESYTD/QTD/MTD(...)) -> grain-to-date
                # cumulative over the base
                if len(args) == 2:
                    dm = re.match(r"^\s*DATES(YTD|QTD|MTD)\s*\(", args[1], re.I)
                    if dm:
                        grain = {"ytd": "year", "qtd": "quarter",
                                 "mtd": "month"}[dm.group(1).lower()]
                        bm = _BARE_MEASURE_RE.match(args[0].strip())
                        if bm:
                            return Metric(name=mname, type="cumulative",
                                          label=label, grain_to_date=grain,
                                          base_metric=_sanitize(bm.group(1)))
                        if inner is not None:
                            return Metric(name=mname, type="cumulative",
                                          label=label, grain_to_date=grain,
                                          agg=inner[0], sql=inner[1])
                # CALCULATE(base, <time shift>) -> native prior-period
                # comparison: SAMEPERIODLASTYEAR / PREVIOUSx / DATEADD
                # return the prior VALUE (calculation="prior")
                if len(args) == 2:
                    shift = _dax_time_shift(args[1])
                    if shift is not None:
                        comparison, offset = shift
                        bm = _BARE_MEASURE_RE.match(args[0].strip())
                        kwargs = dict(name=mname, type="time_comparison",
                                      label=label, calculation="prior",
                                      comparison_type=comparison,
                                      time_offset=offset)
                        if bm:
                            return Metric(base_metric=_sanitize(bm.group(1)),
                                          **kwargs)
                        if inner is not None:
                            return Metric(agg=inner[0], sql=inner[1], **kwargs)
                filters = [_dax_cols_to_sql(a) for a in args[1:]]
                # predicates only (no FILTER()/ALL() table functions)
                if inner is not None and all(
                    re.search(r"[<>=]|\bIN\b", f, re.I) and "(" not in f
                    for f in filters
                ):
                    agg, sql = inner
                    # qualify the leading column so the generator
                    # projects it into this model's CTE
                    return Metric(
                        name=mname, agg=agg, sql=sql, label=label,
                        filters=[
                            re.sub(r"^(\w+)\b(?!\.)", rf"{table}.\1", f)
                            for f in filters
                        ],
                    )
        if _DAX_DIVIDE_RE.match(dax):
            body = _call_body(dax)
            if body is not None:
                args = _split_dax_args(body)
                if len(args) in (2, 3):
                    num, den = args[0], args[1]
                    nm, dm = _BARE_MEASURE_RE.match(num), _BARE_MEASURE_RE.match(den)
                    if nm and dm:
                        return Metric(
                            name=mname, type="ratio", label=label,
                            numerator=_sanitize(nm.group(1)),
                            denominator=_sanitize(dm.group(1)),
                        )
                    na = self._dax_simple_agg(num)
                    da = self._dax_simple_agg(den)
                    if na is not None and da is not None:
                        n_sql = Metric(name="n", agg=na[0], sql=na[1]).agg_sql(na[1] or "1")
                        d_sql = Metric(name="d", agg=da[0], sql=da[1]).agg_sql(da[1] or "1")
                        return Metric(
                            name=mname, label=label, sql_is_complete=True,
                            sql=f"CAST({n_sql} AS DOUBLE) / NULLIF({d_sql}, 0)",
                        )
                    # both args pure measure-ref arithmetic (the shape a
                    # VAR/RETURN growth formula inlines to):
                    # DIVIDE([a]-[b], [b]) -> derived safe-divide formula
                    nf, df_ = _measure_formula(num), _measure_formula(den)
                    if nf is not None and df_ is not None:
                        return Metric(
                            name=mname, type="derived", label=label,
                            expr=(f"CAST(({nf}) AS DOUBLE)"
                                  f" / NULLIF(CAST(({df_}) AS DOUBLE), 0)"),
                        )
        # pure measure-ref arithmetic: [a] - [b], ([a]-[b])/[b], ...
        if "[" in dax and not _REF_RE.search(dax):
            refs = re.findall(r"\[([^\]]+)\]", dax)
            if refs and re.fullmatch(r"[\s\[\]\w.+\-*/()]+", dax):
                expr = re.sub(r"\[([^\]]+)\]", lambda m: _sanitize(m.group(1)), dax)
                return Metric(name=mname, type="derived", expr=expr, label=label)
        # complex DAX: import as hidden metric so the name is preserved
        return Metric(
            name=mname, agg="count", public=False,
            description=f"unparsed DAX: {dax[:200]}",
        )

    def _dax_simple_agg(self, dax: str) -> tuple[str, str | None] | None:
        """``SUM('T'[col])`` / ``SUMX('T', expr)`` -> (agg, value_sql)."""
        m = _DAX_AGG_RE.match(dax)
        if m:
            agg = _DAX_AGG_MAP[m.group(1).upper()]
            col = m.group(4)
            return agg, (_sanitize(col) if col else None)
        m = _DAX_X_RE.match(dax)
        if m:
            agg = _DAX_X_MAP[m.group(1).upper()]
            return agg, _dax_cols_to_sql(m.group(4).strip())
        return None

    # -- relationships -----------------------------------------------

    def _parse_relationships(self, layer, text: str) -> None:
        for block in re.split(r"^relationship\s+", text, flags=re.M)[1:]:
            lines = block.splitlines()
            frm = to = None
            from_card, to_card = "many", None
            active = True
            for s in (ln.strip() for ln in lines[1:]):
                fm = re.match(r"^fromColumn:\s*(.*)$", s)
                tm = re.match(r"^toColumn:\s*(.*)$", s)
                fc = re.match(r"^fromCardinality:\s*(\w+)$", s)
                tc = re.match(r"^toCardinality:\s*(\w+)$", s)
                ia = re.match(r"^isActive:\s*(\w+)$", s)
                if fm:
                    frm = _REF_RE.match(fm.group(1).strip())
                elif tm:
                    to = _REF_RE.match(tm.group(1).strip())
                elif fc:
                    from_card = fc.group(1).lower()
                elif tc:
                    to_card = tc.group(1).lower()
                elif ia:
                    # role-playing date keys: preserved but excluded from
                    # join pathing (ref adapters/tmdl.py isActive handling)
                    active = ia.group(1).lower() != "false"
            if not frm or not to:
                continue
            from_table = _sanitize(frm.group(1) or frm.group(2))
            from_col = _sanitize(frm.group(3))
            to_table = _sanitize(to.group(1) or to.group(2))
            to_col = _sanitize(to.group(3))
            # TMDL defaults an omitted toCardinality to "many"
            # (ref adapters/tmdl.py:1412-1413)
            if to_card is None:
                to_card = "many"
                if from_card == "many":
                    to_card = "one"  # many->one is the overwhelming default shape
            if from_card == "many" and to_card == "one":
                rtype = "many_to_one"
            elif from_card == "one" and to_card == "one":
                rtype = "one_to_one"
            else:
                rtype = "one_to_many"
            try:
                model = layer.graph.get_model(from_table)
            except Exception:
                continue
            model.relationships.append(Relationship(
                name=to_table, type=rtype, foreign_key=from_col, primary_key=to_col,
                active=active,
            ))
            layer.graph._invalidate()


# ----------------------------------------------------------------------
# export (reference adapters/tmdl.py export contract)
# ----------------------------------------------------------------------

_TYPE_OUT = inverse(_TYPE_MAP)
_DAX_OUT = inverse(_DAX_AGG_MAP)


def export_tmdl(graph) -> str:
    """Graph -> TMDL text (tables + relationships). Simple bare-column
    aggs render as single-call DAX; expression measures have no DAX
    single-call form and are skipped."""
    blocks: list[str] = []
    for model in graph.models.values():
        lines = [f"table {model.name}"]
        pk = set(model.pk_list())
        covered = set()
        for d in model.dimensions:
            lines.append(f"\tcolumn {d.name}")
            lines.append(f"\t\tdataType: {_TYPE_OUT.get(d.type, 'string')}")
            if d.sql and d.sql != d.name:
                lines.append(f"\t\tsourceColumn: {d.sql}")
                covered.add(d.sql)
            if d.name in pk or (d.sql in pk if d.sql else False):
                lines.append("\t\tisKey")
            covered.add(d.name)
        for c in sorted(pk - covered):
            if not re.match(r"^\w+$", c):
                continue
            lines.append(f"\tcolumn {c}")
            lines.append("\t\tdataType: int64")
            lines.append("\t\tisKey")
        for m in model.metrics:
            if not m.is_simple:
                continue
            if m.agg == "count" and not m.sql:
                dax = f"COUNTROWS({model.name})"
            elif m.agg in _DAX_OUT and m.sql and re.fullmatch(r"\w+", m.sql):
                dax = f"{_DAX_OUT[m.agg]}('{model.name}'[{m.sql}])"
            else:
                continue
            lines.append(f"\tmeasure {m.name} = {dax}")
        blocks.append("\n".join(lines))
    from sidemantic_spark.adapters.base import m2o_edges

    # inactive edges keyed in m2o_edges' owner/target orientation so the
    # isActive: false marker survives the roundtrip
    inactive: set = set()
    for model in graph.models.values():
        for rel in model.relationships:
            if rel.active or rel.type == "cross" or rel.through or rel.sql:
                continue
            fks = rel.fk_list()
            if rel.type == "one_to_many":
                inactive.add((rel.name, model.name, tuple(fks)))
            else:
                inactive.add((model.name, rel.name, tuple(fks)))

    rel_lines: list[str] = []
    for owner, tgt, fks, pks, rtype, _jt in m2o_edges(graph):
        if len(fks) != 1:
            continue
        rel_lines.append(f"relationship {owner}_{tgt}")
        rel_lines.append(f"\tfromColumn: {owner}[{fks[0]}]")
        rel_lines.append(f"\ttoColumn: {tgt}[{pks[0]}]")
        rel_lines.append(
            "\tfromCardinality: one" if rtype == "one_to_one"
            else "\tfromCardinality: many"
        )
        rel_lines.append("\ttoCardinality: one")
        if (owner, tgt, tuple(fks)) in inactive:
            rel_lines.append("\tisActive: false")
    if rel_lines:
        blocks.append("\n".join(rel_lines))
    return "\n\n".join(blocks) + "\n"


_PREVIOUS_MAP = {"previousyear": "yoy", "previousquarter": "qoq",
                 "previousmonth": "mom", "previousday": "dod"}
_DATEADD_UNIT_MAP = {"year": "yoy", "quarter": "qoq", "month": "mom",
                     "day": "dod"}


def _dax_time_shift(arg: str) -> tuple[str, str | None] | None:
    """DAX time-shift table functions -> (comparison_type, time_offset).

    ``SAMEPERIODLASTYEAR('D'[c])`` -> yoy; ``PREVIOUSMONTH('D'[c])`` ->
    mom; ``DATEADD('D'[c], -1, YEAR)`` -> yoy, ``DATEADD(..., -13,
    WEEK)`` -> custom "13 week" offset. Returns None for anything else.
    """
    s = arg.strip()
    if re.match(r"^SAMEPERIODLASTYEAR\s*\(", s, re.I):
        return "yoy", None
    pm = re.match(r"^(PREVIOUSYEAR|PREVIOUSQUARTER|PREVIOUSMONTH|PREVIOUSDAY)\s*\(", s, re.I)
    if pm:
        return _PREVIOUS_MAP[pm.group(1).lower()], None
    dm = re.match(
        r"^DATEADD\s*\(.+?,\s*(-?\d+)\s*,\s*(YEAR|QUARTER|MONTH|WEEK|DAY)\s*\)\s*$",
        s, re.I | re.S,
    )
    if dm:
        n = abs(int(dm.group(1)))
        unit = dm.group(2).lower()
        if int(dm.group(1)) >= 0:
            return None  # forward shifts have no comparison equivalent
        if n == 1 and unit in _DATEADD_UNIT_MAP:
            return _DATEADD_UNIT_MAP[unit], None
        return "prior_period", f"{n} {unit}"
    return None


def _measure_formula(expr: str) -> str | None:
    """Sanitized formula when ``expr`` is pure measure-ref arithmetic
    (``[a] - [b]``, parens, numbers); None otherwise."""
    expr = expr.strip()
    if "[" not in expr or _REF_RE.search(expr):
        return None
    if not re.fullmatch(r"[\s\[\]\w.+\-*/()]+", expr):
        return None
    return re.sub(r"\[([^\]]+)\]", lambda m: _sanitize(m.group(1)), expr)
