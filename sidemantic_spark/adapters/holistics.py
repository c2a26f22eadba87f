"""Holistics AML importer.

Re-expression of the reference's Holistics adapter
(``adapters/holistics.py`` + ``holistics_grammar``): AML blocks
``Model name { ... }`` with ``dimension`` / ``measure`` sub-blocks
(``definition: @sql {{ ... }};;`` expressions, ``#SOURCE`` = own
table), ``Relationship name { from: r(a.col) to: r(b.col) }``
declarations, and ``Dataset`` files grouping models + inline
relationship configs.
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

_MODEL_RE = re.compile(r"^Model\s+(\w+)\s*\{", re.M)
_REL_RE = re.compile(r"^\s*(?:Relationship\s+(\w+)\s*\{|rel:\s*Relationship\s*\{)", re.M)
_FIELD_BLOCK_RE = re.compile(r"^(\s*)(dimension|measure)\s+(\w+)\s*\{", re.M)
_PROP_RE = re.compile(r"^\s*(\w+)\s*:\s*(.+?)\s*$", re.M)
_SQL_DEF_RE = re.compile(r"@sql\s*(.*?);;", re.S)
_R_REF_RE = re.compile(r"r\(\s*(\w+)\.(\w+)\s*\)")
_REL_EXPR_RE = re.compile(r"rel\(\s*rel_expr:\s*(\w+)\.(\w+)\s*([-=<>!]+)\s*(\w+)\.(\w+)\s*,\s*active:\s*(\w+)\s*\)")

# Holistics aggregation_type / type -> ours; exports use the first listed
_AGG_MAP = {
    "count": "count",
    "count_distinct": "count_distinct",
    "sum": "sum",
    "avg": "avg",
    "average": "avg",
    "min": "min",
    "max": "max",
    "median": "median",
    "stddev": "stddev",
    "stdev": "stddev",
    "var": "variance",
    "variance": "variance",
}

_TYPE_MAP = {
    "number": "numeric",
    "text": "categorical",
    "truefalse": "boolean",
    "datetime": "time",
    "date": "time",
}


def _block(text: str, open_idx: int) -> tuple[str, int]:
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "{":
            depth += 1
        elif text[i] == "}":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i], i
    return text[open_idx + 1 :], len(text)


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] in "'\"" and v[-1] == v[0]:
        return v[1:-1]
    return v


def _clean_sql(defn: str) -> str:
    """``{{ #SOURCE.col }}`` -> ``col``; ``{{ other }}`` -> ``other``."""
    out = re.sub(r"\{\{\s*#SOURCE\.(\w+)\s*\}\}", r"\1", defn)
    out = re.sub(r"\{\{\s*([\w.]+)\s*\}\}", r"\1", out)
    return out.strip()


class HolisticsAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        """Parse one .aml file — or a PROJECT DIRECTORY: all .aml files
        are parsed in two passes so `.extend()` and Dataset/metric-store
        references resolve regardless of file order (a partial defined
        in extensions.aml may extend a model defined in a
        later-sorting orders.model.aml)."""
        import os as _os

        if _os.path.isdir(path):
            files = []
            for root, dirs, fs in sorted(_os.walk(path)):
                dirs.sort()
                files += [
                    _os.path.join(root, f) for f in sorted(fs)
                    if f.endswith(".aml")
                ]
            texts = []
            for p in files:
                with open(p) as fh:
                    texts.append(fh.read())
            for _pass in (1, 2):
                for text in texts:
                    self.parse_text(layer, text)
            return
        with open(path) as fh:
            self.parse_text(layer, fh.read())

    def parse(self, layer, data) -> None:
        raise NotImplementedError("Holistics AML is text, use parse_file/parse_text")

    def parse_text(self, layer, text: str) -> None:
        # PartialModel / PartialDataset bodies, usable by .extend() in
        # this or any later file parsed by the same adapter instance
        self._partials = getattr(self, "_partials", {})
        for m in re.finditer(r"^Partial(?:Model|Dataset)\s+(\w+)\s*\{", text, re.M):
            body, _ = _block(text, text.index("{", m.start()))
            self._partials[m.group(1)] = body
        for m in _MODEL_RE.finditer(text):
            body, _ = _block(text, text.index("{", m.start()))
            model = self._parse_model(m.group(1), body)
            try:
                layer.add_model(model)
            except Exception:
                pass
        # Model X = Y.extend(partial_name | { inline }) — copy the base
        # and surgically merge the partial's per-field props (a partial
        # block carrying only `label` must keep the base's sql/type)
        for m in re.finditer(r"^Model\s+(\w+)\s*=\s*(\w+)\.extend\(", text, re.M):
            new_name, base_name = m.group(1), m.group(2)
            rest = text[m.end():]
            im = re.match(r"\s*(\w+)\s*\)", rest)
            if im:
                pbody = self._partials.get(im.group(1))
            else:
                bm = re.match(r"\s*\{", rest)
                if not bm:
                    continue
                pbody, _ = _block(text, m.end() + bm.end() - 1)
            base = layer.graph.models.get(base_name)
            if base is None or pbody is None:
                continue
            try:
                layer.add_model(self._extend_model(base, new_name, pbody))
            except Exception:
                pass
        # top-level Metric blocks: graph-level reusable metrics bound
        # to the model their AQL references
        for m in re.finditer(r"^Metric\s+(\w+)\s*\{", text, re.M):
            body, _ = _block(text, text.index("{", m.start()))
            self._apply_aql_metric(layer, m.group(1), body)
        # Dataset X = Y.extend(PartialDataset): attach the partial's
        # metric blocks (the docs.holistics.io metric-store pattern)
        for m in re.finditer(r"^Dataset\s+\w+\s*=\s*\w+\.extend\(\s*(\w+)\s*\)", text, re.M):
            pbody = self._partials.get(m.group(1))
            if not pbody:
                continue
            for mm in re.finditer(r"^\s*metric\s+(\w+)\s*\{", pbody, re.M):
                mbody, _ = _block(pbody, pbody.index("{", mm.start()))
                self._apply_aql_metric(layer, mm.group(1), mbody)
        # standalone + dataset-inline Relationship blocks
        for m in re.finditer(r"Relationship\s*(?:\w+\s*)?\{", text):
            body, _ = _block(text, text.index("{", m.start()))
            self._parse_relationship(layer, body)
        for m in _REL_EXPR_RE.finditer(text):
            # rel(rel_expr: a.x - b.y, active: true) — '-' means equality
            # on the two columns in Holistics AML shorthand
            if m.group(6) != "true":
                continue
            frm_model, frm_col, op, to_model, to_col = m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
            if op not in ("-", "="):
                continue  # inequality rel_exprs are display-only
            self._add_rel(layer, frm_model, frm_col, to_model, to_col, "many_to_one")

    def _parse_fields(self, body: str):
        """Yield (kind, name, props, sql) per dimension/measure block."""
        pos = 0
        while True:
            fb = _FIELD_BLOCK_RE.search(body, pos)
            if not fb:
                break
            kind, fname = fb.group(2), fb.group(3)
            fbody, end = _block(body, body.index("{", fb.start()))
            pos = end + 1
            props = {p.group(1): p.group(2) for p in _PROP_RE.finditer(fbody)}
            sql = None
            sm = _SQL_DEF_RE.search(fbody)
            if sm:
                sql = _clean_sql(sm.group(1))
            yield kind, fname, props, sql

    def _extend_model(self, base: Model, name: str, partial_body: str) -> Model:
        """Copy ``base`` as ``name`` and merge the partial's per-field
        props: present props override, absent ones inherit (a partial
        dimension carrying only `label` keeps the base's sql/type);
        unseen fields append."""
        import dataclasses

        child = dataclasses.replace(
            base,
            name=name,
            dimensions=[dataclasses.replace(d) for d in base.dimensions],
            metrics=[dataclasses.replace(m) for m in base.metrics],
            relationships=[dataclasses.replace(r) for r in base.relationships],
        )
        dims = {d.name: d for d in child.dimensions}
        mets = {m.name: m for m in child.metrics}
        for kind, fname, props, sql in self._parse_fields(partial_body):
            if kind == "dimension":
                d = dims.get(fname)
                if d is None:
                    d = Dimension(name=fname, type="categorical")
                    child.dimensions.append(d)
                    dims[fname] = d
                if "type" in props:
                    d.type = _TYPE_MAP.get(
                        _unquote(props["type"]).lower(), "categorical"
                    )
                if "label" in props:
                    d.label = _unquote(props["label"])
                if sql is not None and sql != fname:
                    d.sql = sql
            else:
                mm = mets.get(fname)
                agg = _AGG_MAP.get(_unquote(props.get("aggregation_type", "")).lower())
                if mm is None:
                    mm = (Metric(name=fname, agg=agg, sql=sql) if agg
                          else Metric(name=fname, type="derived", expr=sql))
                    child.metrics.append(mm)
                    mets[fname] = mm
                else:
                    if agg:
                        mm.agg = agg
                    if sql is not None:
                        if mm.is_simple:
                            mm.sql = sql
                        else:
                            mm.expr = sql
                    if "label" in props:
                        mm.label = _unquote(props["label"])
        child.reindex()
        return child

    # AQL metric translation (docs.holistics.io metric store):
    #   sum(model.col)                          -> model-level aggregate
    #   model | where(cond) | agg(model.col)    -> filtered aggregate
    #   agg(model.col) | of_all(x)              -> share-of-total via a
    #       hidden base aggregate + all() window-total derived metric
    #   other pipes (relative_period, ...)      -> opaque hidden metric
    _AQL_RE = re.compile(
        r"^\s*(?:(\w+)\s*\|\s*)?(?:where\(([^)]*)\)\s*\|\s*)?"
        r"(sum|count|count_distinct|avg|min|max|median)\(\s*(\w+)\.(\w+)\s*\)\s*(.*)$",
        re.S,
    )

    def _apply_aql_metric(self, layer, name: str, body: str) -> None:
        sm = re.search(r"@aql\s*(.*?);;", body, re.S)
        if not sm:
            return
        aql = sm.group(1).strip()
        lm = re.search(r"label\s*:\s*(.+)", body)
        label = _unquote(lm.group(1)) if lm else None
        m = self._AQL_RE.match(aql)
        model = layer.graph.models.get(m.group(4)) if m else None
        if model is None:
            # regex miss (nested parens in where(), expression-valued
            # aggregate args, unknown lead model): fall back to the
            # opaque import so the metric NAME survives on the first
            # model the AQL references instead of silently vanishing
            cand_names = re.findall(r"\b(\w+)\s*[.|]", aql)
            host = next(
                (layer.graph.models[c] for c in cand_names
                 if c in layer.graph.models),
                None,
            )
            if host is None or host.metric(name) is not None:
                return
            host.metrics.append(Metric(
                name=name, agg="count", public=False, label=label,
                description=f"unparsed AQL: {aql[:200]}",
                meta={"construct": "aql:opaque"},
            ))
            host.reindex()
            layer.graph._invalidate()
            return
        if model.metric(name) is not None:
            return
        agg, col, tail = m.group(3), m.group(5), (m.group(6) or "").strip()
        filters = [_unquote(m.group(2))] if m.group(2) else []
        if not tail:
            model.metrics.append(Metric(
                name=name, agg=agg,
                sql=None if agg == "count" and col in model.pk_list() else col,
                filters=filters, label=label,
                meta={"construct": "aql:aggregate"},
            ))
        elif re.match(r"^\|\s*of_all\(", tail):
            base = f"__aql_{name}_base"
            model.metrics.append(Metric(
                name=base, agg=agg, sql=col, filters=filters, public=False,
            ))
            model.metrics.append(Metric(
                name=name, type="derived", label=label,
                expr=f"CAST({base} AS DOUBLE) / CAST(all({base}) AS DOUBLE)",
                meta={"construct": "aql:of_all"},
            ))
        elif re.match(r"^\|\s*running_total\(", tail):
            # cumulative over the query's time dimension
            model.metrics.append(Metric(
                name=name, type="cumulative", agg=agg, sql=col,
                filters=filters, label=label,
                meta={"construct": "aql:running_total"},
            ))
        elif re.match(r"^\|\s*period_to_date\(", tail):
            gm = re.search(r"period_to_date\(\s*'(\w+)'", tail)
            grain = gm.group(1).lower() if gm else "year"
            model.metrics.append(Metric(
                name=name, type="cumulative", agg=agg, sql=col,
                grain_to_date=grain if grain in
                ("day", "week", "month", "quarter", "year") else "year",
                filters=filters, label=label,
                meta={"construct": "aql:period_to_date"},
            ))
        elif re.match(r"^\|\s*relative_period\(", tail):
            # prior-period VALUE shifted by the declared interval
            rm_ = re.search(
                r"relative_period\([^)]*?(-?\d+)\s*,?\s*'?"
                r"(year|quarter|month|week|day)s?'?", tail, re.I)
            comparison, offset = "prior_period", None
            if rm_:
                n, unit = int(rm_.group(1)), rm_.group(2).lower()
                std = {"year": "yoy", "quarter": "qoq", "month": "mom",
                       "day": "dod", "week": "wow"}
                if abs(n) == 1 and unit in std:
                    comparison = std[unit]
                else:
                    offset = f"{abs(n)} {unit}"
            model.metrics.append(Metric(
                name=name, type="time_comparison", agg=agg, sql=col,
                comparison_type=comparison, time_offset=offset,
                calculation="prior", filters=filters, label=label,
                meta={"construct": "aql:relative_period"},
            ))
        else:
            # AQL long tail (exclude, keep_grains, group, ...):
            # import opaque so the name survives with its definition
            model.metrics.append(Metric(
                name=name, agg="count", public=False, label=label,
                description=f"unparsed AQL: {aql[:200]}",
                meta={"construct": "aql:opaque"},
            ))
        model.reindex()
        layer.graph._invalidate()

    def _parse_model(self, name: str, body: str) -> Model:
        dims: list[Dimension] = []
        mets: list[Metric] = []
        table = None
        tm = re.search(r"table_name\s*:\s*(.+)", body)
        if tm:
            table = _unquote(tm.group(1))
        pk = "id"
        for kind, fname, props, sql in self._parse_fields(body):
            if kind == "dimension":
                if _unquote(props.get("primary_key", "")) in ("true", "True"):
                    pk = fname
                dims.append(Dimension(
                    name=fname,
                    type=_TYPE_MAP.get(_unquote(props.get("type", "text")).lower(), "categorical"),
                    sql=None if sql in (None, fname) else sql,
                    label=_unquote(props["label"]) if "label" in props else None,
                ))
            else:
                agg = _AGG_MAP.get(_unquote(props.get("aggregation_type", "")).lower())
                if agg:
                    mets.append(Metric(
                        name=fname, agg=agg,
                        sql=None if agg == "count" and sql in (None, pk) else sql,
                    ))
                else:  # custom aggregation: formula over other fields
                    mets.append(Metric(name=fname, type="derived", expr=sql))
        return Model(name=name, table=table, primary_key=pk,
                     dimensions=dims, metrics=mets)

    def _parse_relationship(self, layer, body: str) -> None:
        t = re.search(r"type\s*:\s*(.+)", body)
        rtype = _unquote(t.group(1)) if t else "many_to_one"
        refs = _R_REF_RE.findall(body)
        if len(refs) != 2:
            return
        (fm, fc), (tm_, tc) = refs
        self._add_rel(layer, fm, fc, tm_, tc, rtype)

    def _add_rel(self, layer, from_model: str, from_col: str,
                 to_model: str, to_col: str, rtype: str) -> None:
        try:
            model = layer.graph.get_model(from_model)
        except Exception:
            return
        if any(r.name == to_model and r.fk_list() == [from_col] for r in model.relationships):
            return
        model.relationships.append(Relationship(
            name=to_model, type=rtype if rtype in
            ("many_to_one", "one_to_one", "one_to_many", "many_to_many", "cross")
            else "many_to_one",
            foreign_key=from_col, primary_key=to_col,
        ))
        layer.graph._invalidate()


# ----------------------------------------------------------------------
# export (reference adapters/holistics.py export contract)
# ----------------------------------------------------------------------

_TYPE_OUT = inverse(_TYPE_MAP)
_AGG_OUT = inverse(_AGG_MAP)


def _defn(sql: str) -> str:
    """Render a dimension/measure SQL body: bare columns use the
    ``{{ #SOURCE.col }}`` ref syntax, expressions pass through raw."""
    if re.fullmatch(r"\w+", sql):
        return f"@sql {{{{ #SOURCE.{sql} }}}};;"
    return f"@sql {sql};;"


def export_holistics(graph) -> str:
    """Graph -> Holistics AML text (Model blocks + Relationship
    declarations)."""
    from sidemantic_spark.adapters.base import m2o_edges

    blocks: list[str] = []
    for model in graph.models.values():
        lines = [f"Model {model.name} {{"]
        lines.append(f"  table_name: '{model.table or model.name}'")
        pk = set(model.pk_list())
        covered = set()
        for d in model.dimensions:
            lines.append(f"  dimension {d.name} {{")
            lines.append(f"    type: '{_TYPE_OUT.get(d.type, 'text')}'")
            if d.name in pk or (d.sql in pk if d.sql else False):
                lines.append("    primary_key: true")
            if d.label:
                lines.append(f"    label: '{d.label}'")
            if d.sql and d.sql != d.name:
                lines.append(f"    definition: {_defn(d.sql)}")
                covered.add(d.sql)
            lines.append("  }")
            covered.add(d.name)
        for c in sorted(pk - covered):
            if not re.fullmatch(r"\w+", c):
                continue
            lines.append(f"  dimension {c} {{")
            lines.append("    type: 'number'")
            lines.append("    primary_key: true")
            lines.append("  }")
        for m in model.metrics:
            if m.is_simple and m.agg in _AGG_OUT:
                lines.append(f"  measure {m.name} {{")
                lines.append(f"    aggregation_type: '{_AGG_OUT[m.agg]}'")
                if m.sql:
                    lines.append(f"    definition: {_defn(m.sql)}")
                lines.append("  }")
            elif m.type == "derived" and m.expr:
                lines.append(f"  measure {m.name} {{")
                lines.append(f"    definition: @sql {m.expr};;")
                lines.append("  }")
        lines.append("}")
        blocks.append("\n".join(lines))
    for owner, tgt, fks, pks, rtype, _jt in m2o_edges(graph):
        if len(fks) != 1:
            continue
        blocks.append(
            f"Relationship {owner}_{tgt} {{\n"
            f"  type: '{rtype}'\n"
            f"  from: r({owner}.{fks[0]})\n"
            f"  to: r({tgt}.{pks[0]})\n"
            f"}}"
        )
    return "\n\n".join(blocks) + "\n"
