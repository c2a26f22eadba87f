"""GoodData declarative LDM / analytics importer.

Re-expression of the reference's GoodData adapter
(``adapters/gooddata.py:21``; cloud LDM ``:122``, legacy project model
``:505``):

- cloud datasets -> models: attributes -> dimensions (sourceColumn /
  dataType from the defaultView label when the attribute carries a
  ``labels`` array, ref ``:254-299``), facts -> metrics (declared
  ``aggregation`` else sum for numeric), ``aggregatedFacts`` ->
  metrics with their source-fact operation (ref ``:338-386``), grain ->
  primary key (a grain column missing from the attributes is
  synthesized), references -> relationships (flat ``sourceColumns`` or
  the newer ``sources`` array, composite keys, ``multivalue`` ->
  many_to_many), ``sql`` datasets -> derived models
- ``dateInstances`` / ``dateDatasets`` -> date models with the declared
  granularity list (ref ``:436-503``)
- legacy ``projectModel``: anchor/attributes/facts with the label map
  supplying source columns, ``dateDimensions``, references
- analytics ``metrics`` with simple MAQL (``SELECT <AGG>({fact/x})``
  or arithmetic over ``{metric/y}`` refs) attach to their owning model
  or become graph-level derived metrics
"""

from __future__ import annotations

import json
import re
import warnings

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# MAQL aggregate -> ours (any case; MAQL COUNT counts distinct values)
_MAQL_AGGS = {"SUM": "sum", "COUNT": "count_distinct", "AVG": "avg",
              "MIN": "min", "MAX": "max", "MEDIAN": "median"}
_MAQL_AGG_RE = re.compile(
    rf"^\s*SELECT\s+({'|'.join(_MAQL_AGGS)})\s*\(\s*\{{(?:fact|label|attribute)/([\w.]+)\}}\s*"
    r"(?:,\s*\{(?:label|attribute)/[\w.]+\}\s*)?\)\s*$",
    re.I,
)
_MAQL_METRIC_REF_RE = re.compile(r"\{metric/([\w.]+)\}")
_GRANULARITIES = ("second", "minute", "hour", "day", "week", "month",
                  "quarter", "year")
_FACT_AGGS = {"sum": "sum", "avg": "avg", "average": "avg", "count": "count",
              "count_distinct": "count_distinct",
              "count distinct": "count_distinct",
              "min": "min", "max": "max", "median": "median"}


def _ident(obj, keys=("id", "identifier", "name")) -> str | None:
    if isinstance(obj, str):
        return obj
    if isinstance(obj, dict):
        for k in keys:
            v = obj.get(k)
            if isinstance(v, str) and v:
                return v
            if isinstance(v, dict):
                inner = _ident(v, keys)
                if inner:
                    return inner
    return None


def _first(obj: dict, *keys):
    for k in keys:
        if obj.get(k) is not None:
            return obj[k]
    return None


# GoodData dataType -> ours (any case); exports use the first listed
_DATA_TYPES = {
    "BOOLEAN": "boolean", "BOOL": "boolean",
    "NUMERIC": "numeric", "INT": "numeric", "INTEGER": "numeric",
    "BIGINT": "numeric", "SMALLINT": "numeric", "TINYINT": "numeric",
    "DECIMAL": "numeric", "FLOAT": "numeric", "DOUBLE": "numeric",
    "REAL": "numeric",
    "DATE": "time", "DATETIME": "time", "TIMESTAMP": "time",
    "TIMESTAMP_TZ": "time", "TIMESTAMP WITH TIME ZONE": "time",
    "TIME": "time",
}


def _dim_type(data_type) -> tuple[str, str | None]:
    """GoodData dataType -> (semantic type, granularity)."""
    dt = str(data_type or "").upper()
    dtype = _DATA_TYPES.get(dt, "categorical")
    if dtype != "time":
        return dtype, None
    return dtype, "day" if dt == "DATE" else "hour"


def _table_path(value) -> str | None:
    """dataSourceTableId/tablePath -> physical name (last path element)."""
    if isinstance(value, str):
        return value
    if isinstance(value, dict):
        path = value.get("path")
        if isinstance(path, list) and path:
            return path[-1]
        return _ident(value)
    if isinstance(value, list) and value:
        return value[-1]
    return None


class GoodDataAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        with open(path) as fh:
            data = json.load(fh)
        self.parse(layer, data)

    def parse(self, layer, data: dict) -> None:
        if "ldm" in data:
            self._parse_cloud_ldm(layer, data["ldm"])
        if "analytics" in data:
            self._parse_analytics(layer, data["analytics"])
        if "projectModel" in data:
            self._parse_legacy(layer, data["projectModel"])
        # SDK declarative bundles nest under declarativeModel/declarativeAnalytics
        dm = data.get("declarativeModel") or {}
        if "ldm" in dm:
            self._parse_cloud_ldm(layer, dm["ldm"])
        da = data.get("declarativeAnalytics") or {}
        if "analytics" in da:
            self._parse_analytics(layer, da["analytics"])

    # -- cloud LDM ---------------------------------------------------

    def _parse_cloud_ldm(self, layer, ldm: dict) -> None:
        for ds in ldm.get("datasets") or ldm.get("data_sets") or ldm.get("dataSets") or []:
            if isinstance(ds.get("dataset"), dict):
                ds = ds["dataset"]
            model = self._parse_dataset(ds)
            if model is not None:
                try:
                    layer.add_model(model)
                except Exception:
                    pass
        for dd in (ldm.get("dateInstances") or ldm.get("date_instances")
                   or ldm.get("dateDatasets") or []):
            model = self._parse_date_instance(dd)
            if model is not None:
                try:
                    layer.add_model(model)
                except Exception:
                    pass

    def _parse_date_instance(self, dd: dict) -> Model | None:
        if isinstance(dd.get("dateInstance"), dict):
            dd = dd["dateInstance"]
        if isinstance(dd.get("dateDimension"), dict):
            dd = dd["dateDimension"]
        name = _ident(dd)
        if not name:
            return None
        grans = [str(g).lower() for g in (dd.get("granularities")
                                          or dd.get("granularity") or []) if g]
        grans = [g for g in grans if g in _GRANULARITIES]
        primary = "day" if ("day" in grans or not grans) else grans[0]
        dim_name = "date" if primary == "day" else primary
        table = _table_path(_first(dd, "dataSourceTableId", "tablePath", "table_path", "table"))
        return Model(
            name=name, table=table or name, primary_key=dim_name,
            dimensions=[Dimension(
                name=dim_name, type="time", granularity=primary,
                supported_granularities=grans,
                label=dd.get("title"),
            )],
            description=dd.get("description") or dd.get("title"),
        )

    def _parse_dataset(self, ds: dict) -> Model | None:
        name = _ident(ds)
        if not name:
            return None
        dims: list[Dimension] = []
        mets: list[Metric] = []

        attributes = list(ds.get("attributes") or [])
        facts = list(ds.get("facts") or [])
        # unified ``fields`` arrays tag each entry with its type
        for f in ds.get("fields") or []:
            ftype = str((f or {}).get("type") or "").lower()
            if ftype == "attribute":
                attributes.append(f)
            elif ftype == "fact":
                facts.append(f)

        for attr in attributes:
            dim = self._parse_attribute(attr)
            if dim is not None:
                dims.append(dim)
        for fact in facts:
            met = self._parse_fact(fact)
            if met is not None:
                # facts are additive numeric columns; expose both the raw
                # column (as a hidden numeric dimension for filters) and
                # the aggregate metric
                dims.append(Dimension(name=f"{met.name}__raw", type="numeric",
                                      sql=met.sql, public=False))
                mets.append(met)
        for agg_fact in ds.get("aggregatedFacts") or ds.get("aggregated_facts") or []:
            met = self._parse_aggregated_fact(agg_fact)
            if met is not None:
                mets.append(met)

        rels: list[Relationship] = []
        for ref in ds.get("references") or []:
            rel = self._parse_reference(ref)
            if rel is not None:
                rels.append(rel)

        grain = (ds.get("grain") or ds.get("primary_key")
                 or ds.get("primaryKey") or [])
        if isinstance(grain, (str, dict)):
            grain = [grain]
        grain_ids = [g if isinstance(g, str) else _ident(g) for g in grain]
        grain_ids = [g for g in grain_ids if isinstance(g, str) and g]
        pk = grain_ids[0] if grain_ids else "id"
        if grain_ids and not any(d.name == pk for d in dims):
            dims.append(Dimension(name=pk, type="categorical"))

        # SQL-backed datasets: {"dataSourceId": ..., "statement": ...} or str
        raw_sql = ds.get("sql")
        sql = raw_sql.get("statement") if isinstance(raw_sql, dict) else raw_sql
        table = None if sql else (
            _table_path(_first(ds, "dataSourceTableId", "tablePath", "table_path", "table"))
            or name)
        return Model(
            name=name, table=table, sql=sql,
            primary_key=grain_ids if len(grain_ids) > 1 else pk,
            dimensions=dims, metrics=mets, relationships=rels,
            description=ds.get("description") or ds.get("title"),
        )

    def _parse_attribute(self, attr: dict) -> Dimension | None:
        if isinstance(attr.get("attribute"), dict):
            attr = attr["attribute"]
        aid = _ident(attr)
        if not aid:
            return None
        # the defaultView label supplies the source column when present
        labels = attr.get("labels") or []
        default_view = _ident(attr.get("defaultView") or attr.get("default_view"))
        label_def = None
        for lb in labels:
            if isinstance(lb, dict) and isinstance(lb.get("label"), dict):
                lb = lb["label"]
            if not isinstance(lb, dict):
                continue
            if label_def is None:
                label_def = lb
            if default_view and _ident(lb) == default_view:
                label_def = lb
                break
        src = ((label_def or {}).get("sourceColumn")
               or attr.get("sourceColumn") or aid)
        dt = ((label_def or {}).get("sourceColumnDataType")
              or (label_def or {}).get("dataType")
              or attr.get("sourceColumnDataType") or attr.get("dataType"))
        dtype, gran = _dim_type(dt)
        meta = None
        if attr.get("tags"):
            meta = {"gooddata": {"tags": attr["tags"]}}
        return Dimension(
            name=aid, type=dtype, granularity=gran,
            sql=None if src == aid else src,
            label=attr.get("title") or (label_def or {}).get("title"),
            description=attr.get("description"),
            meta=meta,
        )

    def _parse_fact(self, fact: dict) -> Metric | None:
        if isinstance(fact.get("fact"), dict):
            fact = fact["fact"]
        fid = _ident(fact)
        if not fid:
            return None
        src = fact.get("sourceColumn") or fid
        declared = fact.get("aggregation") or fact.get("agg")
        agg = _FACT_AGGS.get(str(declared).lower()) if declared else "sum"
        if agg is None:
            warnings.warn(f"GoodData fact {fid!r}: unknown aggregation "
                          f"{declared!r}, skipped", stacklevel=2)
            return None
        return Metric(name=fid, agg=agg, sql=src,
                      label=fact.get("title"),
                      description=fact.get("description"))

    def _parse_aggregated_fact(self, agg_def: dict) -> Metric | None:
        """Aggregate-awareness facts: pre-aggregated columns carrying the
        source fact + SUM/MIN/MAX operation (ref ``:338-386``)."""
        if isinstance(agg_def.get("aggregatedFact"), dict):
            agg_def = agg_def["aggregatedFact"]
        aid = _ident(agg_def)
        if not aid:
            return None
        src = agg_def.get("sourceColumn") or aid
        ref = agg_def.get("sourceFactReference") or agg_def.get("source_fact_reference") or {}
        operation = ref.get("operation") if isinstance(ref, dict) else None
        agg = _FACT_AGGS.get(str(operation).lower()) if operation else "sum"
        if agg is None:
            warnings.warn(f"GoodData aggregated fact {aid!r}: unknown "
                          f"operation {operation!r}, skipped", stacklevel=2)
            return None
        source_fact = None
        if isinstance(ref, dict):
            source_fact = _ident(ref.get("reference"))
        return Metric(
            name=aid, agg=agg, sql=src,
            label=agg_def.get("title"), description=agg_def.get("description"),
            meta={"gooddata": {"aggregated_fact": True,
                               "operation": operation,
                               "source_fact": source_fact}},
        )

    def _parse_reference(self, ref) -> Relationship | None:
        if isinstance(ref, str):
            return Relationship(name=ref, type="many_to_one")
        ident = _ident(_first(ref, "identifier", "dataset", "reference"))
        if not ident:
            return None
        # newer exports: sources array of {column, target}; older: flat
        # sourceColumns
        sources = ref.get("sources")
        if isinstance(sources, list) and sources:
            cols = [s.get("column") for s in sources
                    if isinstance(s, dict) and s.get("column")]
        else:
            cols = ref.get("sourceColumns") or ref.get("source_columns") or []
            if isinstance(cols, str):
                cols = [cols]
        multivalue = _first(ref, "multivalue", "multiValue") is True
        fk = (cols[0] if len(cols) == 1 else list(cols)) if cols else None
        return Relationship(
            name=ident,
            type="many_to_many" if multivalue else "many_to_one",
            foreign_key=fk,
        )

    # -- analytics metrics (MAQL subset) -----------------------------

    def _parse_analytics(self, layer, analytics: dict) -> None:
        for met in analytics.get("metrics") or []:
            mid = met.get("id")
            content = met.get("content") or {}
            maql = content.get("maql") or ""
            title = content.get("title") or met.get("title")
            if not mid or not maql:
                continue
            m = _MAQL_AGG_RE.match(maql)
            if m:
                agg = _MAQL_AGGS[m.group(1).upper()]
                ref = m.group(2)
                owner = self._owner_of(layer, ref)
                if owner:
                    target = layer.graph.models[owner]
                    if target.metric(mid) is None and not any(d.name == mid for d in target.dimensions):
                        target.add_metric(Metric(name=mid, agg=agg, sql=self._column_of(target, ref), label=title))
                continue
            # pure arithmetic over metric refs -> graph-level derived metric
            stripped = re.sub(r"^\s*SELECT\s+", "", maql, flags=re.I)
            stripped = re.sub(r"\s+BY\s+.*$", "", stripped, flags=re.I)
            if _MAQL_METRIC_REF_RE.search(stripped):
                body = _MAQL_METRIC_REF_RE.sub(lambda mm: mm.group(1), stripped)
                if re.match(r"^[\w\s+\-*/().,]+$", body):
                    layer.graph.add_metric(Metric(name=mid, type="derived", expr=body, label=title))

    def _owner_of(self, layer, field_id: str) -> str | None:
        for name, model in layer.graph.models.items():
            if model.metric(field_id) is not None or any(
                d.name == field_id for d in model.dimensions
            ):
                return name
        return None

    def _column_of(self, model, field_id: str) -> str:
        d = model.dimension(field_id)
        if d is not None:
            return d.sql or field_id
        m = model.metric(field_id)
        if m is not None and m.sql:
            return m.sql
        return field_id

    # -- legacy project model ---------------------------------------

    def _parse_legacy(self, layer, pm: dict) -> None:
        for dd in pm.get("dateDimensions") or pm.get("date_dimensions") or []:
            if isinstance(dd.get("dateDimension"), dict):
                dd = dd["dateDimension"]
            name = _legacy_name(dd.get("name") or dd.get("title") or "")
            if not name:
                continue
            try:
                layer.add_model(Model(
                    name=name, table=name, primary_key="date",
                    dimensions=[Dimension(name="date", type="time",
                                          granularity="day",
                                          label=dd.get("title"))],
                ))
            except Exception:
                pass
        for ds in pm.get("datasets") or pm.get("data_sets") or pm.get("dataSets") or []:
            if isinstance(ds.get("dataset"), dict):
                ds = ds["dataset"]
            name = ds.get("identifier") or ds.get("title")
            if not name:
                continue
            name = _legacy_name(name)
            label_map = {}
            for lb in ds.get("labels") or []:
                if isinstance(lb.get("label"), dict):
                    lb = lb["label"]
                lid = lb.get("identifier")
                if lid:
                    label_map[lid] = lb
            dims: list[Dimension] = []
            mets: list[Metric] = []
            rels: list[Relationship] = []
            pk = "id"
            anchor = ds.get("anchor") or {}
            if isinstance(anchor.get("attribute"), dict):
                a = anchor["attribute"]
                pk = _legacy_name(a.get("identifier") or "id")
                dims.append(Dimension(name=pk, sql=_legacy_col(a, label_map)))
            for attr in ds.get("attributes") or []:
                if isinstance(attr.get("attribute"), dict):
                    attr = attr["attribute"]
                aid = _legacy_name(attr.get("identifier") or "")
                if aid:
                    dims.append(Dimension(name=aid,
                                          sql=_legacy_col(attr, label_map),
                                          label=attr.get("title")))
            for fact in ds.get("facts") or []:
                if isinstance(fact.get("fact"), dict):
                    fact = fact["fact"]
                fid = _legacy_name(fact.get("identifier") or "")
                if fid:
                    mets.append(Metric(name=fid, agg="sum",
                                       sql=_legacy_col(fact, label_map),
                                       label=fact.get("title")))
            for ref in ds.get("references") or []:
                tgt = _legacy_name(ref if isinstance(ref, str) else _ident(ref) or "")
                if tgt:
                    rels.append(Relationship(name=tgt, type="many_to_one",
                                             foreign_key=f"{tgt}_id"))
            try:
                layer.add_model(Model(name=name, table=name, primary_key=pk,
                                      dimensions=dims, metrics=mets,
                                      relationships=rels))
            except Exception:
                pass


def _legacy_name(ident: str) -> str:
    """``attr.orders.status`` -> ``status``; ``dataset.orders`` -> ``orders``."""
    return ident.split(".")[-1] if ident else ident


def _legacy_col(obj: dict, label_map: dict | None = None) -> str | None:
    cols = obj.get("sourceColumn")
    if isinstance(cols, str):
        return cols
    # legacy attributes reference labels by identifier (resolved via the
    # dataset's label map) or carry them inline; the first label's source
    # column backs the attribute (ref adapters/gooddata.py:586-600)
    for lid in obj.get("labels") or []:
        if isinstance(lid, dict):
            inline = lid.get("label") if isinstance(lid.get("label"), dict) else lid
            if isinstance(inline.get("sourceColumn"), str):
                return inline["sourceColumn"]
            lid = _ident(inline)
        lb = (label_map or {}).get(lid)
        if lb and isinstance(lb.get("sourceColumn"), str):
            return lb["sourceColumn"]
    return None


# ----------------------------------------------------------------------
# export (reference adapters/gooddata.py export contract)
# ----------------------------------------------------------------------

def export_gooddata(graph) -> dict:
    """Graph -> GoodData declarative bundle: cloud LDM datasets
    (attributes/facts/references/grain) + analytics metrics for derived
    formulas (MAQL arithmetic over ``{metric/...}`` refs). Sum metrics
    ride as facts; other agg types have no LDM slot and are emitted as
    ``SELECT AGG({fact/...})`` MAQL metrics."""
    from sidemantic_spark.adapters.base import m2o_edges

    edges: dict[str, list] = {}
    for owner, tgt, fks, pks, rtype, _jt in m2o_edges(graph):
        if rtype == "many_to_one" and len(fks) == 1:
            edges.setdefault(owner, []).append((tgt, fks[0]))

    maql_agg = inverse(_MAQL_AGGS)
    data_type = inverse(_DATA_TYPES)
    datasets = []
    analytics_metrics = []
    for model in graph.models.values():
        ds: dict = {"id": model.name}
        if model.description:
            ds["title"] = model.description
        attributes = []
        for d in model.dimensions:
            if d.name.endswith("__raw") and not d.public:
                continue  # re-synthesized from facts below
            attr = {"id": d.name}
            src = d.sql or d.name
            if src != d.name:
                attr["sourceColumn"] = src
            attr["sourceColumnDataType"] = data_type.get(d.type, "STRING")
            if d.label:
                attr["title"] = d.label
            attributes.append({"attribute": attr})
        facts = []
        attr_ids = {a["attribute"]["id"] for a in attributes}
        for m in model.metrics:
            if m.is_simple and m.agg == "sum" and m.sql:
                fact = {"id": m.name, "sourceColumn": m.sql}
                if m.label:
                    fact["title"] = m.label
                facts.append({"fact": fact})
            elif m.is_simple and (
                (m.agg in maql_agg and m.sql)
                # plain row count: MAQL has no COUNT(*) — count the grain
                # attribute (COUNT reimports as count_distinct(pk), equal
                # for a unique key; fidelity reports the approximation)
                or (m.agg == "count" and not m.sql)
            ):
                ref = m.sql if m.sql else (
                    model.pk_list()[0] if model.pk_list() else None
                )
                if ref is None or not re.fullmatch(r"\w+", ref):
                    continue  # expression measures have no MAQL fact ref
                if ref not in attr_ids:
                    attributes.append({"attribute": {
                        "id": ref, "sourceColumnDataType": "NUMERIC",
                    }})
                    attr_ids.add(ref)
                fn = maql_agg.get(m.agg, "COUNT")
                analytics_metrics.append({
                    "id": m.name,
                    "content": {
                        "title": m.label or m.name,
                        "maql": f"SELECT {fn}({{fact/{ref}}})",
                    },
                })
            elif m.type == "derived" and m.expr:
                body = re.sub(r"\b([a-zA-Z_]\w*)\b",
                              lambda mm: f"{{metric/{mm.group(1)}}}"
                              if graph_metric_exists(graph, mm.group(1))
                              else mm.group(1), m.expr)
                analytics_metrics.append({
                    "id": m.name,
                    "content": {"title": m.label or m.name,
                                "maql": f"SELECT {body}"},
                })
        if attributes:
            ds["attributes"] = attributes
        if facts:
            ds["facts"] = facts
        pk = model.pk_list()
        if pk and pk != ["id"]:
            ds["grain"] = [{"id": c} for c in pk]
        if model.sql:
            ds["sql"] = model.sql
        elif model.table and model.table != model.name:
            ds["dataSourceTableId"] = {"path": [model.table]}
        refs = []
        for tgt, fk in edges.get(model.name, []):
            refs.append({"identifier": {"id": tgt}, "sourceColumns": [fk]})
        if refs:
            ds["references"] = refs
        datasets.append({"dataset": ds})
    out: dict = {"ldm": {"datasets": datasets}}
    if analytics_metrics:
        out["analytics"] = {"metrics": analytics_metrics}
    return out


def graph_metric_exists(graph, name: str) -> bool:
    if name in getattr(graph, "metrics", {}):
        return True
    return any(m.metric(name) is not None for m in graph.models.values())
