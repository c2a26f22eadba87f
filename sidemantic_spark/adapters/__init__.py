"""Import adapters: external semantic-model formats -> our graph.

Re-expression of the reference's adapter surface (``adapters/base.py:9``
defines parse/export/validate over 15+ formats). ``ADAPTERS`` holds 19
importers, translating each format into our Model/Metric/Relationship
objects; ``EXPORTERS`` holds 17 exporters (16 formats plus our native
YAML). Everything downstream (compile, execute, preaggs, governance) is
format-agnostic.

Each adapter is lossy-but-faithful: constructs without a Spark-side
equivalent (display formatting, dashboards, caching hints) are dropped,
semantic constructs (measures, dimensions, joins, segments, rollups,
semi-additive windows) are mapped 1:1.
"""

import importlib
import json

import yaml

from sidemantic_spark.adapters.atscale import AtScaleAdapter
from sidemantic_spark.adapters.bsl import BslAdapter
from sidemantic_spark.adapters.cube import CubeAdapter
from sidemantic_spark.adapters.gooddata import GoodDataAdapter
from sidemantic_spark.adapters.graphene import GrapheneAdapter
from sidemantic_spark.adapters.holistics import HolisticsAdapter
from sidemantic_spark.adapters.hex import HexAdapter
from sidemantic_spark.adapters.lookml import LookMLAdapter
from sidemantic_spark.adapters.malloy import MalloyAdapter
from sidemantic_spark.adapters.metricflow import MetricFlowAdapter
from sidemantic_spark.adapters.omni import OmniAdapter
from sidemantic_spark.adapters.osi import OsiAdapter
from sidemantic_spark.adapters.rill import RillAdapter
from sidemantic_spark.adapters.snowflake import SnowflakeAdapter
from sidemantic_spark.adapters.superset import SupersetAdapter
from sidemantic_spark.adapters.tableau import TableauAdapter
from sidemantic_spark.adapters.thoughtspot import ThoughtSpotAdapter
from sidemantic_spark.adapters.tmdl import TmdlAdapter
from sidemantic_spark.adapters.yardstick import YardstickAdapter

ADAPTERS = {
    "atscale": AtScaleAdapter,
    "bsl": BslAdapter,
    "cube": CubeAdapter,
    "gooddata": GoodDataAdapter,
    "graphene": GrapheneAdapter,
    "holistics": HolisticsAdapter,
    "hex": HexAdapter,
    "lookml": LookMLAdapter,
    "malloy": MalloyAdapter,
    "metricflow": MetricFlowAdapter,
    "omni": OmniAdapter,
    "osi": OsiAdapter,
    "rill": RillAdapter,
    "snowflake": SnowflakeAdapter,
    "superset": SupersetAdapter,
    "tableau": TableauAdapter,
    "thoughtspot": ThoughtSpotAdapter,
    "tmdl": TmdlAdapter,
    "yardstick": YardstickAdapter,
}


# format -> (module, exporter, serialisation of its result): "text" is
# returned as is, "yaml" is one YAML document, "yaml_all" one document
# per object, "json" a JSON bundle
EXPORTERS = {
    "native": ("sidemantic_spark.authoring", "export_yaml", "text"),
    "atscale": ("sidemantic_spark.adapters.atscale", "export_atscale", "yaml_all"),
    "bsl": ("sidemantic_spark.adapters.bsl", "export_bsl", "yaml"),
    "cube": ("sidemantic_spark.adapters.cube", "export_cube", "yaml"),
    "gooddata": ("sidemantic_spark.adapters.gooddata", "export_gooddata", "json"),
    "hex": ("sidemantic_spark.adapters.hex", "export_hex", "yaml_all"),
    "holistics": ("sidemantic_spark.adapters.holistics", "export_holistics", "text"),
    "lookml": ("sidemantic_spark.adapters.lookml", "export_lookml", "text"),
    "malloy": ("sidemantic_spark.adapters.malloy", "export_malloy", "text"),
    "metricflow": ("sidemantic_spark.adapters.metricflow", "export_metricflow", "yaml"),
    "omni": ("sidemantic_spark.adapters.omni", "export_omni", "yaml_all"),
    "osi": ("sidemantic_spark.adapters.osi", "export_osi", "yaml"),
    "rill": ("sidemantic_spark.adapters.rill", "export_rill", "yaml_all"),
    "snowflake": ("sidemantic_spark.adapters.snowflake", "export_snowflake", "yaml"),
    "superset": ("sidemantic_spark.adapters.superset", "export_superset", "yaml_all"),
    "thoughtspot": ("sidemantic_spark.adapters.thoughtspot", "export_thoughtspot", "yaml_all"),
    "tmdl": ("sidemantic_spark.adapters.tmdl", "export_tmdl", "text"),
}

_SERIALISE = {
    "text": lambda out: out,
    "yaml": lambda out: yaml.safe_dump(out, sort_keys=False),
    "yaml_all": lambda out: yaml.safe_dump_all(out, sort_keys=False),
    "json": lambda out: json.dumps(out, indent=2),
}


def export_graph(graph, format: str) -> str:
    """Serialize the graph in the named format (``sidemantic`` is an
    alias of ``native``).

    Every exporter is the lossy-but-faithful inverse of its importer —
    ``parse(export(g))`` reconstructs the representable subset of ``g``
    (roundtrip-tested in tests/test_adapters.py and
    tests/test_export_properties.py). An exporter writes only names its
    own importer reads back: each format's aggregation and type names
    are written once, as its import table, and the export table is
    derived from it (``base.inverse``). A name the format lacks is left
    out of the export, and ``convert --fidelity`` reports it as dropped.
    There are two deliberate substitutions: LookML writes
    ``approx_count_distinct`` as ``count_distinct``, and GoodData writes
    a row count as MAQL ``COUNT`` over the grain key (re-imported as
    ``count_distinct``, equal for a unique key).
    """
    try:
        module, fn, form = EXPORTERS["native" if format == "sidemantic" else format]
    except KeyError:
        raise ValueError(
            f"no exporter for format {format!r} ({', '.join(sorted(EXPORTERS))})"
        ) from None
    return _SERIALISE[form](getattr(importlib.import_module(module), fn)(graph))


def import_file(layer, path: str, format: str) -> None:
    """Parse ``path`` in the named format into ``layer``."""
    try:
        adapter_cls = ADAPTERS[format]
    except KeyError:
        raise ValueError(
            f"unknown adapter {format!r} (available: {sorted(ADAPTERS)})"
        ) from None
    adapter_cls().parse_file(layer, path)


__all__ = ["ADAPTERS", "EXPORTERS", "import_file", "AtScaleAdapter",
           "BslAdapter", "CubeAdapter", "GoodDataAdapter", "GrapheneAdapter",
           "HexAdapter", "HolisticsAdapter", "LookMLAdapter",
           "MalloyAdapter", "MetricFlowAdapter", "OmniAdapter",
           "OsiAdapter", "RillAdapter", "SnowflakeAdapter",
           "SupersetAdapter", "TableauAdapter", "ThoughtSpotAdapter",
           "TmdlAdapter", "YardstickAdapter"]
