"""Hex semantic-model importer.

Maps Hex's typed semantic YAML (reference ``adapters/hex.py``; public
docs learn.hex.tech/docs/explore-data/semantic-models) onto our graph:

- ``type: model`` doc (or untyped doc with dimensions/measures) ->
  Model (``base_sql_table`` -> table, ``base_sql_query`` -> derived SQL)
- ``dimensions`` -> Dimension (number/string/boolean/date/datetime/
  timestamp[_tz] mapped to our 4 types; ``expr_sql``/``expr_calc`` ->
  dimension SQL; ``unique: true`` on the conventional ``id`` dim ->
  primary key; ``visibility: internal`` -> non-public)
- ``measures`` -> Metric (``func``+``of`` -> simple agg; ``func_sql``
  -> opaque complete-SQL measure; ``count_if`` -> filtered count;
  ``filters`` naming boolean dimensions -> per-metric filters)
- ``relations`` -> Relationship (``join_sql`` of the shape
  ``fk = ${other}.pk``; anything richer kept as custom join SQL)
- ``type: view`` docs are consumption contracts (curated metric/dim
  lists over a model) -> Explore
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import AdapterError, BaseAdapter, inverse
from sidemantic_spark.core.consumption import Explore
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# Hex dimension type / measure func -> ours; exports use the first listed
_DIM_TYPES = {
    "number": "numeric",
    "string": "categorical",
    "boolean": "boolean",
    "timestamp": "time",
    "date": "time",
    "datetime": "time",
    "timestamp_tz": "time",
    "timestamp_ntz": "time",
}

_FUNCS = {
    "count": "count",
    "sum": "sum",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count_distinct": "count_distinct",
    "median": "median",
    "stddev": "stddev",
    "stddev_pop": "stddev_pop",
    "variance": "variance",
    "variance_pop": "variance_pop",
}


class HexAdapter(BaseAdapter):
    def parse(self, layer, data: dict) -> None:
        if not isinstance(data, dict):
            return
        dtype = data.get("type")
        if dtype == "view":
            self._parse_view(layer, data)
            return
        if dtype not in (None, "model"):
            return
        if not (data.get("dimensions") or data.get("measures")):
            return
        layer.add_model(self._parse_model(data))

    def _parse_model(self, data: dict) -> Model:
        name = data.get("id") or data.get("name")
        if not name:
            raise AdapterError("hex model missing id")

        pk: list[str] = []
        dims: list[Dimension] = []
        for d in data.get("dimensions") or []:
            did = d.get("id")
            if not did:
                continue
            sql = d.get("expr_sql") or d.get("expr_calc")
            htype = d.get("type", "string")
            dtype = _DIM_TYPES.get(htype, "categorical")
            dims.append(
                Dimension(
                    name=did,
                    type=dtype,
                    sql=sql,
                    granularity=("day" if htype == "date" else "hour")
                    if dtype == "time" else None,
                    description=d.get("description"),
                    label=d.get("name"),
                    public=d.get("visibility") not in ("internal", "private"),
                )
            )
            if d.get("unique"):
                pk.append(sql or did)

        metrics: list[Metric] = []
        for m in data.get("measures") or []:
            mid = m.get("id")
            if not mid:
                continue
            # filters: dimension-name refs or inline dimension objects
            # carrying their own expr (ref adapters/hex.py:316-327)
            filters = []
            for f in m.get("filters") or []:
                if isinstance(f, str):
                    filters.append(f"{name}.{f}")
                elif isinstance(f, dict):
                    fexpr = f.get("expr_sql") or f.get("expr_calc")
                    if fexpr:
                        filters.append(fexpr)
            # semi-additive: object form {over: [{dimension, pick}],
            # groupings: [...]}; legacy string shorthands ignored.  The
            # full object rides in meta so pick:min snapshots round-trip
            # (ref adapters/hex.py:363-409)
            semi = m.get("semi_additive")
            nad = None
            nad_window = "max"
            nad_groupings: list[str] = []
            if isinstance(semi, dict):
                for entry in semi.get("over") or []:
                    if isinstance(entry, dict) and entry.get("dimension") is not None:
                        dim_ref = entry["dimension"]
                        if isinstance(dim_ref, dict):
                            dim_ref = dim_ref.get("id")
                        if isinstance(dim_ref, str):
                            nad = dim_ref
                            if entry.get("pick") in ("min", "max"):
                                nad_window = entry["pick"]
                            break
                    elif isinstance(entry, str):
                        nad = entry
                        break
                nad_groupings = [g for g in semi.get("groupings") or []
                                 if isinstance(g, str)]
            common = dict(
                description=m.get("description"),
                label=m.get("name"),
                public=m.get("visibility") not in ("internal", "private"),
                non_additive_dimension=nad,
                non_additive_window=nad_window,
                non_additive_window_groupings=nad_groupings,
                meta={"hex_semi_additive": semi} if isinstance(semi, dict) else None,
            )
            func = m.get("func")
            if m.get("func_sql"):
                metrics.append(
                    Metric(name=mid, sql=m["func_sql"], sql_is_complete=True,
                           filters=filters, **common)
                )
            elif m.get("func_calc"):
                metrics.append(
                    Metric(name=mid, type="derived", expr=m["func_calc"],
                           filters=filters, **common)
                )
            elif func == "count_if":
                cond = m.get("of")
                metrics.append(
                    Metric(
                        name=mid,
                        agg="count",
                        filters=filters + ([f"{name}.{cond}"] if cond else []),
                        **common,
                    )
                )
            elif func in _FUNCS:
                metrics.append(
                    Metric(name=mid, agg=_FUNCS[func], sql=m.get("of"),
                           filters=filters, **common)
                )
            # unknown funcs are skipped rather than mis-aggregated

        rels: list[Relationship] = []
        for rl in data.get("relations") or []:
            rid = rl.get("id")
            # `target` names the related semantic model when it differs
            # from the relation id (ref adapters/hex.py:423); join_sql
            # still references the relation by ${id}
            target = rl.get("target") or rid
            rtype = rl.get("type", "many_to_one")
            join_sql = rl.get("join_sql") or ""
            m = re.fullmatch(
                r"\s*(\w+)\s*=\s*\$\{" + re.escape(rid or "") + r"\}\.(\w+)\s*",
                join_sql,
            )
            if m:
                rels.append(
                    Relationship(
                        name=target,
                        type=rtype,
                        foreign_key=m.group(1),
                        primary_key=m.group(2),
                    )
                )
            elif join_sql:
                custom = join_sql
                custom = re.sub(r"\$\{" + re.escape(rid or "") + r"\}", "{to}", custom)
                custom = re.sub(r"(?<![\w.{])(\w+)(\s*=)", r"{from}.\1\2", custom, count=1)
                rels.append(Relationship(name=target, type=rtype, sql=custom))

        derived_sql = data.get("base_sql_query")
        return Model(
            name=name,
            table=data.get("base_sql_table"),
            sql=derived_sql.strip() if isinstance(derived_sql, str) else None,
            primary_key=(pk[0] if len(pk) == 1 else pk) if pk else "id",
            dimensions=dims,
            metrics=metrics,
            relationships=rels,
            description=data.get("description"),
        )

    def _parse_view(self, layer, data: dict) -> None:
        base = data.get("base") or data.get("model")
        if not base:
            return
        dims: list[str] = []
        mets: list[str] = []
        for c in data.get("contents") or []:
            dims += [f"{base}.{d}" for d in c.get("dimensions") or []]
            mets += [f"{base}.{m}" for m in c.get("measures") or []]
        name = data.get("id") or data.get("name") or f"{base}_view"
        layer.graph.explores[name] = Explore(
            name=name,
            model=base,
            label=data.get("name"),
            description=data.get("description"),
            allowed_dimensions=dims or None,
            allowed_metrics=mets or None,
        )


# ----------------------------------------------------------------------
# export (reference adapters/hex.py export contract)
# ----------------------------------------------------------------------

_DIM_TYPES_OUT = inverse(_DIM_TYPES)
_FUNCS_OUT = inverse(_FUNCS)


def export_hex(graph) -> list[dict]:
    """Graph -> Hex semantic-model docs (one ``type: model`` per model,
    one ``type: view`` per explore). Measures keep func/of; complete-SQL
    measures round-trip through ``func_sql``."""
    from collections import defaultdict

    from sidemantic_spark.adapters.base import m2o_edges

    edges_by_owner: dict[str, list] = defaultdict(list)
    for owner, tgt, fks, pks, rtype, _jt in m2o_edges(graph):
        edges_by_owner[owner].append((tgt, fks, pks, rtype))
    docs = []
    for model in graph.models.values():
        doc: dict = {"type": "model", "id": model.name}
        if model.sql:
            doc["base_sql_query"] = model.sql
        else:
            doc["base_sql_table"] = model.table or model.name
        pk = set(model.pk_list())
        dims = []
        dim_names = set()
        for d in model.dimensions:
            out: dict = {"id": d.name,
                         "type": _DIM_TYPES_OUT.get(d.type, "string")}
            if d.sql and d.sql != d.name:
                out["expr_sql"] = d.sql
            if d.name in pk or (d.sql in pk if d.sql else False):
                out["unique"] = True
            if d.label:
                out["name"] = d.label
            if d.description:
                out["description"] = d.description
            if not d.public:
                out["visibility"] = "internal"
            dims.append(out)
            dim_names.add(d.name)
        # pk columns that aren't declared dimensions still need a unique
        # field so the import recovers the primary key
        for col in sorted(pk - dim_names - {c for d in model.dimensions if d.sql for c in [d.sql]}):
            dims.append({"id": col, "type": "number", "unique": True,
                         "visibility": "internal"})
        if dims:
            doc["dimensions"] = dims
        measures = []
        for m in model.metrics:
            out = {"id": m.name}
            if m.description:
                out["description"] = m.description
            if not m.public:
                out["visibility"] = "internal"
            if m.sql_is_complete and m.sql:
                out["func_sql"] = m.sql
            elif m.is_simple and m.agg in _FUNCS_OUT:
                out["func"] = _FUNCS_OUT[m.agg]
                if m.sql:
                    out["of"] = m.sql
            else:
                continue
            # only bare own-dimension refs fit hex's filter list syntax
            prefix = f"{model.name}."
            flt = [f[len(prefix):] for f in m.filters
                   if f.startswith(prefix) and f[len(prefix):] in dim_names]
            if len(flt) == len(m.filters) and flt:
                out["filters"] = flt
            elif m.filters:
                continue  # SQL filters would be silently dropped: skip
            measures.append(out)
        if measures:
            doc["measures"] = measures
        relations = []
        for r in model.relationships:
            if r.sql and not r.through and r.type != "cross":
                relations.append({
                    "id": r.name, "type": r.type,
                    "join_sql": r.sql.replace("{from}.", "").replace(
                        "{to}", "${" + r.name + "}"),
                })
        for tgt, fks, pks, rtype in edges_by_owner.get(model.name, []):
            if len(fks) != 1:
                continue  # hex join_sql regex is single-column
            relations.append({
                "id": tgt, "type": rtype,
                "join_sql": f"{fks[0]} = ${{{tgt}}}.{pks[0]}",
            })
        if relations:
            doc["relations"] = relations
        if model.description:
            doc["description"] = model.description
        docs.append(doc)
    for explore in graph.explores.values():
        doc = {"type": "view", "id": explore.name, "base": explore.model}
        contents: dict = {}
        if explore.allowed_dimensions:
            contents["dimensions"] = [
                x.split(".", 1)[-1] for x in explore.allowed_dimensions
            ]
        if explore.allowed_metrics:
            contents["measures"] = [
                x.split(".", 1)[-1] for x in explore.allowed_metrics
            ]
        if contents:
            doc["contents"] = [contents]
        if explore.label:
            doc["name"] = explore.label
        if explore.description:
            doc["description"] = explore.description
        docs.append(doc)
    return docs
