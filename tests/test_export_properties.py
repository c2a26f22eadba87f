"""Property-based exporter roundtrips (hypothesis).

For randomized graphs — arbitrary snake_case identifiers, dimension
types, agg functions, and an m2o join — every exporter must reimport
to a graph that preserves the representable core: model set, dimension
names, bare-column simple metrics with their agg, and the join edge
(where the format has a join surface). This catches name/keyword/
escaping corners the hand-written tpch roundtrips never hit.

Runs without Spark: adapters operate on the graph only.
"""

from __future__ import annotations

import keyword

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sidemantic_spark.adapters import EXPORTERS
from sidemantic_spark.core.layer import SparkSemanticLayer
from sidemantic_spark.core.model import SIMPLE_AGGS, Dimension, Metric, Model

# identifiers: snake_case, not SQL-ish keywords, distinct enough to
# avoid collisions with the structural names we add
_KEYWORDS = {
    "select", "from", "where", "group", "order", "join", "table", "sum",
    "count", "min", "max", "avg", "case", "when", "then", "else", "end",
    "and", "or", "not", "null", "true", "false", "by", "on", "as",
    "distinct", "type", "name", "model", "models", "id",
} | set(keyword.kwlist)

ident = st.from_regex(r"[a-z][a-z0-9_]{2,14}", fullmatch=True).filter(
    lambda s: s not in _KEYWORDS and not s.endswith("_")
)

DIM_TYPES = st.sampled_from(["categorical", "numeric", "boolean", "time"])
# aggs every format's export maps; the rest are left out by some
# formats, which test_agg_roundtrip_every_format checks cell by cell
AGGS = st.sampled_from(["sum", "count", "count_distinct", "avg", "min", "max"])

FORMATS = sorted(EXPORTERS)
# formats with no join surface at all
NO_JOINS = {"rill", "superset"}


@st.composite
def graphs(draw):
    names = draw(st.lists(ident, min_size=7, max_size=7, unique=True))
    fact_name, dim_model_name = names[0], names[1]
    cols = names[2:]
    layer = SparkSemanticLayer(None)
    dims = [
        Dimension(name=cols[0], type=draw(DIM_TYPES), sql=f"src_{cols[0]}"),
        Dimension(name=cols[1], type=draw(DIM_TYPES)),
    ]
    # keep exactly one time dim at most deterministic-ish; not required
    agg1, agg2 = draw(AGGS), draw(AGGS)
    metrics = [
        Metric(name=cols[2], agg=agg1, sql=None if agg1 == "count" else cols[0]),
        Metric(name=cols[3], agg=agg2,
               sql=None if agg2 == "count" else f"src_{cols[0]}"),
    ]
    from sidemantic_spark.core.model import Relationship

    layer.add_model(Model(
        name=fact_name, table=f"tbl_{fact_name}", primary_key=f"{fact_name}_pk",
        dimensions=dims, metrics=metrics,
        relationships=[Relationship(
            name=dim_model_name, type="many_to_one",
            foreign_key=f"{dim_model_name}_fk",
        )],
    ))
    layer.add_model(Model(
        name=dim_model_name, table=f"tbl_{dim_model_name}",
        primary_key=f"{dim_model_name}_pk",
        dimensions=[Dimension(name=cols[1])],
        # distinct metric name: formats with a global metric namespace
        # (gooddata analytics, osi) cannot disambiguate same-named
        # metrics on different models — documented lossiness, not a bug
        metrics=[Metric(name=cols[4], agg="count")],
    ))
    return layer


@pytest.mark.parametrize("fmt", FORMATS)
@settings(max_examples=20, deadline=None)
@given(layer=graphs())
def test_export_roundtrip_preserves_core(fmt, layer):
    from sidemantic_spark.adapters import export_graph
    from sidemantic_spark.adapters.fidelity import reimport_text

    text = export_graph(layer.graph, fmt)
    layer2 = reimport_text(None, text, fmt)
    assert set(layer2.graph.models) == set(layer.graph.models), fmt
    for mname, model in layer.graph.models.items():
        other = layer2.graph.models[mname]
        for d in model.dimensions:
            if fmt == "atscale" and d.sql and d.sql != d.name:
                # AtScale datasets list physical columns only: a renamed
                # dimension survives under its source column
                assert other.dimension(d.sql) is not None, (fmt, mname, d.sql)
            else:
                assert other.dimension(d.name) is not None, (fmt, mname, d.name)
        for m in model.metrics:
            om = other.metric(m.name)
            assert om is not None, (fmt, mname, m.name)
            if fmt == "gooddata" and m.agg == "count" and not m.sql:
                # MAQL has no COUNT(*): row counts reimport as
                # count_distinct over the grain key (value-equal for a
                # unique pk; fidelity reports the approximation)
                assert om.agg == "count_distinct", (fmt, mname, m.name)
            else:
                assert om.agg == m.agg, (fmt, mname, m.name, m.agg, om.agg)
        if fmt not in NO_JOINS:
            for r in model.relationships:
                kept = any(
                    rr.name in (r.name, mname)
                    for side in (mname, r.name)
                    for rr in layer2.graph.models[side].relationships
                )
                assert kept, (fmt, mname, r.name)


# an export may write a different agg only where the format has none
# for ours: (format, our agg) -> the agg it re-imports as
SUBSTITUTIONS = {
    ("lookml", "approx_count_distinct"): "count_distinct",
    ("gooddata", "count"): "count_distinct",
}
# formats whose export carries no dimension type: every non-time
# dimension re-imports as categorical
UNTYPED_DIMS = {"bsl", "malloy", "metricflow", "osi", "rill"}


def _one_model(dim_type="categorical", metric=None):
    layer = SparkSemanticLayer(None)
    layer.add_model(Model(
        name="orders", table="orders", primary_key="order_id",
        dimensions=[Dimension(name="status", type=dim_type, sql="src")],
        metrics=[metric] if metric else [],
    ))
    return layer.graph


def _uncommented(text: str) -> list[str]:
    return [ln for ln in text.splitlines() if not ln.lstrip().startswith("#")]


@pytest.mark.parametrize("fmt", sorted(set(EXPORTERS) - {"native"}))
def test_agg_roundtrip_every_format(fmt):
    """Each of our aggs over a bare column re-imports as the same agg, as
    a complete-SQL measure, or as a declared substitution, or the export
    leaves the metric out entirely. It never re-imports as another agg
    or as a derived formula: an exporter writes only names its own
    importer reads back."""
    from sidemantic_spark.adapters import export_graph
    from sidemantic_spark.adapters.fidelity import reimport_text

    without = _uncommented(export_graph(_one_model(), fmt))
    bad = []
    for agg in sorted(SIMPLE_AGGS):
        text = export_graph(_one_model(metric=Metric(name="m", agg=agg, sql="amount")), fmt)
        om = reimport_text(None, text, fmt).graph.models["orders"].metric("m")
        if om is None:
            ok = _uncommented(text) == without
        else:
            ok = om.type != "derived" and (
                om.agg == agg or om.sql_is_complete
                or SUBSTITUTIONS.get((fmt, agg)) == om.agg)
        if not ok:
            bad.append((agg, om and (om.type, om.agg)))
    assert bad == []


@pytest.mark.parametrize("fmt", sorted(set(EXPORTERS) - {"native"}))
def test_dimension_type_roundtrip_every_format(fmt):
    from sidemantic_spark.adapters import export_graph
    from sidemantic_spark.adapters.fidelity import reimport_text

    for dim_type in ("categorical", "numeric", "boolean", "time"):
        # a measure: some formats skip a model that has none
        text = export_graph(_one_model(dim_type, Metric(name="n", agg="count")), fmt)
        model = reimport_text(None, text, fmt).graph.models["orders"]
        # AtScale datasets list physical columns: the dimension comes
        # back under its source column
        dim = model.dimension("src" if fmt == "atscale" else "status")
        want = ("categorical" if fmt in UNTYPED_DIMS and dim_type != "time"
                else dim_type)
        assert dim.type == want, (fmt, dim_type, dim.type)


def test_yaml_env_var_substitution(spark, monkeypatch):
    """${VAR}, ${VAR:-default}, and brace-less UPPERCASE $VAR substitute
    in native YAML; missing vars without defaults keep the original text
    (reference tests/adapters/test_env_vars.py)."""
    from sidemantic_spark.authoring.yaml_io import substitute_env_vars
    from sidemantic_spark.authoring import load_yaml
    from sidemantic_spark.core.layer import SparkSemanticLayer

    monkeypatch.setenv("SM_TABLE", "env_orders")
    monkeypatch.setenv("DB_HOST", "localhost")
    assert substitute_env_vars("host: ${DB_HOST}") == "host: localhost"
    assert substitute_env_vars("host: ${MISSING:-fallback}") == "host: fallback"
    assert substitute_env_vars("host: $DB_HOST") == "host: localhost"
    assert substitute_env_vars("host: ${NOPE}") == "host: ${NOPE}"
    assert substitute_env_vars("host: $NOPE_VAR") == "host: $NOPE_VAR"
    # lowercase simple form is NOT substituted (case sensitive)
    monkeypatch.setenv("db_host", "x")
    assert substitute_env_vars("a: $db_host") == "a: $db_host"

    layer = SparkSemanticLayer(spark)
    load_yaml(layer, """
version: 1
models:
  - name: env_model
    table: ${SM_TABLE}
    primary_key: id
    metrics:
      - name: n
        agg: count
""")
    assert layer.graph.models["env_model"].table == "env_orders"
