"""Yardstick semantic-view SQL importer.

Re-expression of the reference's Yardstick adapter
(``adapters/yardstick.py:108``): ``.sql`` files with
``CREATE VIEW name AS SELECT ... FROM table`` where select items
marked ``AS MEASURE name`` become metrics (aggregate auto-extraction)
and the rest become dimensions; the first dimension is the primary
key. Formula measures over other measures become derived metrics.
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import BaseAdapter
from sidemantic_spark.core.model import Dimension, Metric, Model
from sidemantic_spark.sql.fragments import (
    close_paren,
    split_items,
    split_top,
    strip_comments,
)

_VIEW_HEAD_RE = re.compile(
    r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(?=WITH\b|SELECT\b)",
    re.I,
)


def _scan_view(text: str, start: int):
    """Scan one CREATE VIEW statement from a _VIEW_HEAD_RE match end:
    returns (select_list, from_target, where, cte_prefix, end_index).
    The FROM target may be an identifier or a balanced parenthesized
    derived table (``FROM (VALUES ...) AS t(...)``); trailing GROUP BY
    (over any expressions) is redundant with the measure model and
    dropped (ref corpus measures.test GROUP BY / inline-VALUES views).
    A leading WITH clause (CTE inside the view, ref corpus
    distinct_count_cte_v) is captured as ``cte_prefix`` so the model
    source becomes a CTE-prefixed derived table."""
    cte_prefix = None
    wm = re.match(r"WITH\b", text[start:], re.I)
    if wm:
        i = start + wm.end()
        while True:
            m2 = re.match(r"\s*(\w+)\s+AS\s*\(", text[i:], re.I)
            if not m2:
                break
            # past the paren closing the CTE body
            j = close_paren(text, i + m2.end() - 1)
            i = len(text) if j is None else j + 1
            cm = re.match(r"\s*,", text[i:])
            if not cm:
                break
            i += cm.end()
        sm = re.match(r"\s*SELECT\s+", text[i:], re.I)
        if not sm:
            return None
        cte_prefix = text[start:i].strip()
        start = i + sm.end()
    else:
        sm = re.match(r"SELECT\s+", text[start:], re.I)
        if not sm:
            return None
        start = start + sm.end()
    # statement body runs to the first top-level ';' (or EOF)
    body = split_top(text[start:], ";", 1)[0]
    end = start + len(body) + 1
    parts = split_top(body, "FROM", 1)
    if len(parts) < 2:
        return None
    select_list = parts[0].strip()
    rest = parts[1].strip()
    if rest.startswith("("):
        j = close_paren(rest)
        j = len(rest) if j is None else j + 1
        # optional `AS alias(cols)` after the derived table
        am = re.match(r"\s*(?:AS\s+)?\w+\s*(\([^)]*\))?", rest[j:], re.I)
        k = j + (am.end() if am else 0)
        from_target = rest[:k].strip()
        rest = rest[k:].strip()
    else:
        tm = re.match(r"([\w.]+)", rest)
        from_target = tm.group(1)
        rest = rest[tm.end():].strip()
        if rest.startswith("(") and from_target.lower() == "generate_series":
            # table-function source (ref corpus measures.test
            # `FROM generate_series(1, 5) AS t(x)`): DuckDB's inclusive
            # series maps to Spark's sequence() exploded in a derived
            # table, so the existing derived-table path takes over.
            j = close_paren(rest)
            j = len(rest) if j is None else j + 1
            args = rest[1:j - 1]
            tail2 = rest[j:].strip()
            col = "generate_series"
            am2 = re.match(r"(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\)", tail2, re.I)
            if am2:
                col = am2.group(2)
                tail2 = tail2[am2.end():].strip()
            from_target = f"(SELECT explode(sequence({args})) AS {col})"
            rest = tail2
    where = None
    if re.match(r"WHERE\b", rest, re.I):
        # trim every trailing clause at the top level: a lazy regex
        # only trimmed GROUP BY, so `WHERE x ORDER BY y` stored
        # `x ORDER BY y` as the row filter, and a 'GROUP BY' substring
        # inside a string literal truncated it.
        tail = rest[len("WHERE"):]
        for kw in ("GROUP BY", "ORDER BY", "HAVING", "QUALIFY", "LIMIT", "OFFSET"):
            tail = split_top(tail, kw, 1)[0]
        where = tail.strip() or None
    return select_list, from_target, where, cte_prefix, end
_MEASURE_RE = re.compile(r"^(.*?)\s+AS\s+MEASURE\s+(?:\"([^\"]+)\"|(\w+))\s*$", re.I | re.S)


def _spark_fn_spellings(expr: str) -> str:
    """DuckDB-dialect aggregate spellings -> Spark SQL equivalents
    (Yardstick sources are DuckDB SQL; ref corpus measures.test
    ordered-set family)."""
    # QUANTILE_CONT(col, f) -> percentile(col, f) (interpolated)
    expr = re.sub(
        r"\bQUANTILE_CONT\s*\(\s*([\w.]+)\s*,\s*([\d.]+)\s*\)",
        r"percentile(\1, \2)", expr, flags=re.I)
    # QUANTILE_DISC(col, f) -> percentile_disc(f) WITHIN GROUP
    expr = re.sub(
        r"\bQUANTILE_DISC\s*\(\s*([\w.]+)\s*,\s*([\d.]+)\s*\)",
        r"percentile_disc(\2) WITHIN GROUP (ORDER BY \1)", expr, flags=re.I)
    # length-less VARCHAR/TEXT in postfix casts -> STRING (Spark parses
    # `::` natively but has no bare VARCHAR type)
    expr = re.sub(r"(::\s*)(?:VARCHAR|TEXT)\b(?!\s*\()", r"\1STRING",
                  expr, flags=re.I)
    return expr
_ALIAS_RE = re.compile(r"^(.*?)\s+AS\s+(?:\"([^\"]+)\"|(\w+))\s*$", re.I | re.S)


class YardstickAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        import os

        if os.path.isdir(path):
            for f in sorted(os.listdir(path)):
                if f.endswith(".sql"):
                    self.parse_file(layer, os.path.join(path, f))
            return
        with open(path) as fh:
            self.parse_text(layer, fh.read())

    def parse(self, layer, data) -> None:
        raise NotImplementedError("Yardstick models are SQL text, use parse_file/parse_text")

    def parse_text(self, layer, text: str) -> None:
        text = strip_comments(text)
        for m in _VIEW_HEAD_RE.finditer(text):
            scanned = _scan_view(text, m.end())
            if scanned is None:
                continue
            select_list, table, where, cte_prefix, _end = scanned
            name = m.group(1)
            dims: list[Dimension] = []
            mets: list[Metric] = []
            measure_names: set[str] = set()
            items = split_items(select_list)
            for item in items:
                mm = _MEASURE_RE.match(item)
                if mm:
                    measure_names.add((mm.group(2) or mm.group(3)).replace(" ", "_"))
            for item in items:
                if item.strip() == "*":
                    # `SELECT *, SUM(x) AS MEASURE m` (ref corpus paper
                    # family): expand the star to the source table's
                    # columns as dimensions via the session catalog;
                    # derived/unreadable sources skip gracefully.
                    try:
                        session = getattr(layer, "spark", None)
                        src = f"({table})" if table.startswith("(") else table
                        for col in session.sql(
                            f"SELECT * FROM {src} WHERE 1=0"
                        ).columns:
                            if not any(d.name == col for d in dims):
                                dims.append(Dimension(name=col))
                    except Exception:
                        pass
                    continue
                mm = _MEASURE_RE.match(item)
                if mm:
                    expr = _spark_fn_spellings(mm.group(1).strip())
                    mname = (mm.group(2) or mm.group(3)).replace(" ", "_")
                    refs = set(re.findall(r"\b\w+\b", expr))
                    if not re.search(r"\w+\s*\(", expr) and refs & measure_names:
                        mets.append(Metric(name=mname, type="derived", expr=expr))
                    else:
                        mets.append(Metric(name=mname, sql=expr))
                    continue
                am = _ALIAS_RE.match(item)
                if am and not re.search(r"\(", am.group(1)):
                    dname = (am.group(2) or am.group(3)).replace(" ", "_")
                    expr = am.group(1).strip()
                    dims.append(Dimension(name=dname, sql=None if expr == dname else expr))
                elif re.match(r"^[\w.]+$", item):
                    dims.append(Dimension(name=item.split(".")[-1],
                                          sql=item if "." in item else None))
                else:
                    am2 = _ALIAS_RE.match(item)
                    if am2:
                        dname = (am2.group(2) or am2.group(3)).replace(" ", "_")
                        dims.append(Dimension(name=dname, sql=am2.group(1).strip()))
            derived = table.startswith("(")
            model_sql = f"SELECT * FROM {table}" if derived else None
            if cte_prefix:
                # CTE inside the view body: the model source is the
                # CTE-prefixed detail query (Spark supports WITH inside
                # a FROM subquery)
                model_sql = f"{cte_prefix}\nSELECT * FROM {table}"
                derived = True
            try:
                if name in layer.graph.models and re.search(
                    r"OR\s+REPLACE", m.group(0), re.I
                ):
                    del layer.graph.models[name]
                    layer.graph._invalidate()
                layer.add_model(Model(
                    name=name,
                    table=None if derived else table,
                    sql=model_sql,
                    measure_view=True,
                    primary_key=dims[0].name if dims else "id",
                    dimensions=dims, metrics=mets,
                    row_filters=[where.strip()] if where else [],
                ))
            except Exception:
                pass
