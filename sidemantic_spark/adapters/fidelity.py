"""Format-conversion fidelity reporting (reference ``fidelity.py``).

The reference instruments importer drop-sites to record what a foreign
format could not represent. With bidirectional adapters we can do
better mechanically: export the graph, re-import the result, and
**structurally diff** the two graphs — every construct the format
cannot carry shows up as a dropped/changed note without any per-adapter
instrumentation. ``convert --fidelity`` surfaces the report next to
the converted output.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class FidelityNote:
    construct: str  # e.g. "metric", "relationship", "dimension.type"
    name: str  # qualified name, e.g. "orders.revenue_mom"
    detail: str
    severity: str  # dropped | approximated


@dataclass
class FidelityReport:
    format: str
    notes: list[FidelityNote] = field(default_factory=list)
    # per-construct status for fields the IMPORTING adapter tagged with
    # meta={"construct": ...} (aql:*, dax:*, lookml:liquid, ...):
    # construct tag -> {qualified field name -> kept|approximated|dropped}
    constructs: dict = field(default_factory=dict)

    @property
    def has_losses(self) -> bool:
        return bool(self.notes)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for n in self.notes:
            out[n.severity] = out.get(n.severity, 0) + 1
        return out

    def summary_lines(self) -> list[str]:
        if not self.notes:
            lines = [f"{self.format}: full fidelity for this graph"]
        else:
            lines = [
                f"{self.format}: "
                + ", ".join(f"{v} {k}" for k, v in sorted(self.counts().items()))
            ]
            for n in sorted(self.notes, key=lambda x: (x.severity, x.construct, x.name)):
                lines.append(f"  [{n.severity}] {n.construct} {n.name}: {n.detail}")
        for tag in sorted(self.constructs):
            statuses = self.constructs[tag]
            agg: dict[str, int] = {}
            for s in statuses.values():
                agg[s] = agg.get(s, 0) + 1
            lines.append(
                f"  construct {tag}: "
                + ", ".join(f"{v} {k}" for k, v in sorted(agg.items()))
            )
        return lines

    def to_dict(self) -> dict:
        return {
            "format": self.format,
            "counts": self.counts(),
            "notes": [vars(n) for n in self.notes],
            "constructs": self.constructs,
        }


def reimport_text(spark, text: str, fmt: str):
    """Parse exported ``text`` back into a fresh layer, reading it the
    way ``EXPORTERS`` says the format was serialised."""
    import json

    import yaml

    from sidemantic_spark.adapters import ADAPTERS, EXPORTERS
    from sidemantic_spark.core.layer import SparkSemanticLayer

    layer = SparkSemanticLayer(spark)
    if fmt in ("native", "sidemantic"):
        from sidemantic_spark.authoring.yaml_io import load_yaml

        load_yaml(layer, text)
        return layer
    adapter = ADAPTERS[fmt]()
    form = EXPORTERS[fmt][2]
    if form == "text":
        adapter.parse_text(layer, text)
    elif form == "json":
        adapter.parse(layer, json.loads(text))
    else:
        adapter.parse_docs(layer, [d for d in yaml.safe_load_all(text) if d])
    return layer


def roundtrip_fidelity(graph, fmt: str, spark=None) -> FidelityReport:
    """Export ``graph`` in ``fmt``, re-import, and diff."""
    from sidemantic_spark.adapters import export_graph

    text = export_graph(graph, fmt)
    layer2 = reimport_text(spark, text, fmt)
    return diff_graphs(graph, layer2.graph, fmt)


def diff_graphs(before, after, fmt: str) -> FidelityReport:
    rep = FidelityReport(format=fmt)
    for mname, model in before.models.items():
        other = after.models.get(mname)
        if other is None:
            rep.notes.append(FidelityNote(
                "model", mname, "not representable in this format", "dropped"))
            continue
        for d in model.dimensions:
            od = other.dimension(d.name)
            if od is None:
                rep.notes.append(FidelityNote(
                    "dimension", f"{mname}.{d.name}", "dropped on roundtrip",
                    "dropped"))
            elif od.type != d.type:
                rep.notes.append(FidelityNote(
                    "dimension.type", f"{mname}.{d.name}",
                    f"{d.type} -> {od.type}", "approximated"))
        for m in model.metrics:
            om = other.metric(m.name)
            if om is None:
                kind = m.type or f"{m.agg} agg"
                rep.notes.append(FidelityNote(
                    "metric", f"{mname}.{m.name}",
                    f"{kind} has no equivalent", "dropped"))
                continue
            if m.is_simple and om.agg != m.agg:
                rep.notes.append(FidelityNote(
                    "metric.agg", f"{mname}.{m.name}",
                    f"{m.agg} -> {om.agg}", "approximated"))
            elif (m.type or None) != (om.type or None) and not (
                m.is_simple and om.is_simple
            ):
                rep.notes.append(FidelityNote(
                    "metric.type", f"{mname}.{m.name}",
                    f"{m.type or 'simple'} -> {om.type or 'simple'}",
                    "approximated"))
            if m.filters and not om.filters:
                rep.notes.append(FidelityNote(
                    "metric.filters", f"{mname}.{m.name}",
                    "per-metric filters dropped", "dropped"))
        for s in model.segments:
            if other.segment(s.name) is None:
                rep.notes.append(FidelityNote(
                    "segment", f"{mname}.{s.name}", "dropped on roundtrip",
                    "dropped"))
        # relationships: an edge survives if EITHER side carries it
        # after reimport (one_to_many edges legitimately re-home to the
        # child model as many_to_one)
        for r in model.relationships:
            if r.through:
                kept = any(
                    rr.through for mm in after.models.values()
                    for rr in mm.relationships
                )
            else:
                kept = any(
                    rr.name in (r.name, mname)
                    for side in (mname, r.name)
                    if side in after.models
                    for rr in after.models[side].relationships
                )
            if not kept:
                rep.notes.append(FidelityNote(
                    "relationship", f"{mname} -> {r.name}",
                    f"{r.type} edge dropped", "dropped"))

    # per-construct attribution: any field the importing adapter tagged
    # (meta={"construct": ...}) reports its roundtrip status under the
    # construct's name, so a regression in e.g. the AQL pipe or compound
    # DAX translation is attributable at a glance
    noted = {n.name: n.severity for n in rep.notes}
    for mname, model in before.models.items():
        other = after.models.get(mname)
        for fld in list(model.dimensions) + list(model.metrics):
            tag = (fld.meta or {}).get("construct")
            if not tag:
                continue
            q = f"{mname}.{fld.name}"
            if other is None or (
                other.dimension(fld.name) is None
                and other.metric(fld.name) is None
            ):
                status = "dropped"
            elif q in noted:
                status = "approximated"
            else:
                status = "kept"
            rep.constructs.setdefault(tag, {})[q] = status
    return rep
