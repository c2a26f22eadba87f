"""Semantic-SQL DDL authoring: ``MODEL (...)``, ``DIMENSION (...)``,
``METRIC (...)``, ``SEGMENT (...)``, ``RELATIONSHIP (...)`` statements,
YAML frontmatter + statement files, and the compact
``model X from tbl ( ... )`` form.

Reference: custom sqlglot dialect ``core/dialect.py:59-67,1115`` and
assembly in ``core/sql_definitions.py:1``; fixtures
``native_sql_definitions``, ``sql_frontmatter_definitions``,
``compact_sql_model``, ``embedded_sql_blocks``.
"""

from __future__ import annotations

import re

from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship, Segment
from sidemantic_spark.sql.fragments import close_paren, split_items, split_top, strip_comments

_STMT_RE = re.compile(
    r"(MODEL|DIMENSION|METRIC|SEGMENT|RELATIONSHIP|PRE_AGGREGATION|"
    r"PARAMETER)\s*\(",
    re.IGNORECASE,
)
_COMPACT_RE = re.compile(
    r"^\s*model\s+(\w+)\s+from\s+(\S+)\s*\(", re.IGNORECASE | re.MULTILINE
)
_AGG_CALL_RE = re.compile(
    r"^(sum|count|count_distinct|approx_count_distinct|avg|min|max|median|"
    r"stddev|stddev_pop|variance|variance_pop)\s*\((.*)\)$",
    re.IGNORECASE | re.DOTALL,
)


def load_sql_definitions(layer, text: str, *, source: str = "<sql>") -> None:
    """Parse a semantic-SQL definition file and register its models."""
    from sidemantic_spark.authoring.yaml_io import AuthoringError, load_yaml

    # split frontmatter before comment-stripping: the `---` fences would
    # otherwise be eaten as `--` line comments
    front, rest = _split_frontmatter(text)
    text = strip_comments(text if front is None else rest)
    model: Model | None = None
    if front is not None:
        before = set(layer.graph.models)
        load_yaml(layer, front, source=source)
        new = [n for n in layer.graph.models if n not in before]
        if len(new) == 1:
            model = layer.graph.models[new[0]]

    if _COMPACT_RE.search(text):
        for m in _parse_compact(text):
            layer.graph.add_model(m)
        return

    parse_statements(text, into_model=model, layer=layer)


def parse_statements(text: str, into_model: Model | None = None, layer=None) -> None:
    """Parse ``KEYWORD ( k v, ... );`` statements. ``MODEL`` opens a new
    model; field statements attach to the open model (or
    ``into_model`` for embedded blocks)."""
    from sidemantic_spark.authoring.yaml_io import AuthoringError

    current = into_model
    pos = 0
    while True:
        m = _STMT_RE.search(text, pos)
        if not m:
            break
        kind = m.group(1).upper()
        body, pos = _read_balanced(text, m.end() - 1)
        fields = _parse_fields(body)
        if kind == "MODEL":
            current = Model(
                name=fields.get("name", ""),
                table=fields.get("table"),
                sql=fields.get("sql"),
                source_uri=fields.get("source_uri"),
                primary_key=fields.get("primary_key", "id"),
                default_time_dimension=fields.get("default_time_dimension"),
                default_grain=fields.get("default_grain"),
                description=fields.get("description"),
            )
            if not current.name:
                raise AuthoringError("MODEL statement missing name")
            if layer is not None:
                layer.graph.add_model(current)
        elif kind == "PARAMETER":
            # graph-level typed parameter (ref core/sql_definitions
            # parse_sql_graph_definitions; tests/core/
            # test_sql_definitions.py:252)
            from sidemantic_spark.core.model import Parameter

            if layer is None:
                raise AuthoringError("PARAMETER requires a layer context")
            layer.graph.add_parameter(Parameter(
                name=fields.get("name", ""),
                type=fields.get("type", "string"),
                default_value=_unquote(fields.get("default_value")
                                       or fields.get("default")),
                allowed_values=_list_value(fields.get("allowed_values")),
                description=_unquote(fields.get("description")),
            ))
            continue
        elif kind == "METRIC" and current is None and layer is not None:
            # metric statements with no open model register at graph
            # level (ref test_graph_level_sql_metrics)
            layer.graph.add_metric(_metric_from_fields(fields))
            continue
        elif current is None:
            raise AuthoringError(f"{kind} statement before any MODEL")
        elif kind == "DIMENSION":
            current.add_dimension(Dimension(
                name=fields.get("name", ""),
                type=fields.get("type", "categorical"),
                sql=fields.get("sql"),
                granularity=fields.get("granularity"),
                label=_unquote(fields.get("label")),
                description=_unquote(fields.get("description")),
            ))
        elif kind == "METRIC":
            current.add_metric(_metric_from_fields(fields))
        elif kind == "SEGMENT":
            seg = Segment(
                name=fields.get("name", ""),
                # the reference spells the predicate `expression`
                sql=fields.get("sql") or fields.get("expression") or "",
                description=_unquote(fields.get("description")),
            )
            current.segments.append(seg)
            current._segments[seg.name] = seg
        elif kind == "PRE_AGGREGATION":
            # rollup spec attached to the open model (ref
            # test_parse_pre_aggregation_definition): list literals for
            # measures/dimensions, a { k v, ... } refresh_key block,
            # and indexes -> the engine's bucketed layout
            from sidemantic_spark.preagg.matcher import (
                PreAggregation,
                RefreshKey,
            )

            rk = None
            if "refresh_key" in fields:
                rkf = _parse_fields(_strip_braces(fields["refresh_key"]))
                rk = RefreshKey(
                    every=_unquote(rkf.get("every")),
                    sql=_unquote(rkf.get("sql")),
                    incremental=str(rkf.get("incremental", "")).lower() == "true",
                    update_window=_unquote(rkf.get("update_window")),
                )
            bucket_by: list[str] = []
            for idx in _list_value(fields.get("indexes")) or []:
                if isinstance(idx, str) and idx.startswith("{"):
                    idxf = _parse_fields(_strip_braces(idx))
                    bucket_by += _list_value(idxf.get("columns")) or []
            current.pre_aggregations.append(PreAggregation(
                name=fields.get("name", ""),
                measures=_list_value(fields.get("measures")) or [],
                dimensions=_list_value(fields.get("dimensions")) or [],
                time_dimension=fields.get("time_dimension"),
                granularity=fields.get("granularity"),
                partition_granularity=fields.get("partition_granularity"),
                scheduled_refresh=str(
                    fields.get("scheduled_refresh", "")
                ).lower() == "true",
                refresh_key=rk,
                bucket_by=bucket_by,
                buckets=8 if bucket_by else 0,
            ))
        elif kind == "RELATIONSHIP":
            current.relationships.append(Relationship(
                name=fields.get("name", ""),
                type=fields.get("type", "many_to_one"),
                foreign_key=fields.get("foreign_key"),
                primary_key=fields.get("primary_key"),
                sql=fields.get("sql"),
                through=fields.get("through"),
            ))


def _unquote(v):
    if isinstance(v, str) and len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
        return v[1:-1]
    return v


def _strip_braces(v: str) -> str:
    v = v.strip()
    if v.startswith("{") and v.endswith("}"):
        return v[1:-1]
    return v


def _list_value(v):
    """``[a, b, 'c d']`` -> list of strings; nested ``{...}`` items kept
    as raw text for the caller to sub-parse. None passes through."""
    if v is None or isinstance(v, list):
        return v
    v = v.strip()
    if not (v.startswith("[") and v.endswith("]")):
        return [_unquote(v)]
    return [
        _unquote(item)
        for item in split_items(v[1:-1])
        if item
    ]


def _number(v):
    if not isinstance(v, str):
        return v
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def _metric_from_fields(fields: dict) -> Metric:
    """Metric from a METRIC(...) statement — the full field surface the
    reference dialect accepts (tests/core/test_sql_definitions.py:28-232):
    simple aggs, ratio, cumulative (window/grain_to_date), time
    comparison, conversion/retention, display metadata, list-literal
    filters and drill_fields."""
    filters = _list_value(fields.get("filters")) if "filters" in fields else []
    fill = fields.get("fill_nulls_with")
    return Metric(
        name=fields.get("name", ""),
        agg=fields.get("agg"),
        sql=fields.get("sql"),
        type=fields.get("type"),
        numerator=fields.get("numerator"),
        denominator=fields.get("denominator"),
        expr=fields.get("expr"),
        window=_unquote(fields.get("window")),
        grain_to_date=fields.get("grain_to_date"),
        base_metric=fields.get("base_metric"),
        comparison_type=fields.get("comparison_type"),
        calculation=fields.get("calculation", "percent_change"),
        time_offset=_unquote(fields.get("time_offset")),
        entity=fields.get("entity"),
        base_event=_unquote(fields.get("base_event")),
        conversion_event=_unquote(fields.get("conversion_event")),
        activity_event=_unquote(fields.get("activity_event")),
        conversion_window=_unquote(fields.get("conversion_window")),
        retention_granularity=fields.get("retention_granularity", "month"),
        label=_unquote(fields.get("label")),
        format=_unquote(fields.get("format")),
        fill_nulls_with=_number(_unquote(fill)) if fill is not None else None,
        non_additive_dimension=fields.get("non_additive_dimension"),
        drill_fields=_list_value(fields.get("drill_fields")) or [],
        description=_unquote(fields.get("description")),
        filters=filters or [],
    )


# ---------------------------------------------------------------------
# low-level parsing
# ---------------------------------------------------------------------

def _split_frontmatter(text: str) -> tuple[str | None, str]:
    m = re.match(r"\s*---\s*\n(.*?)\n---\s*\n?(.*)$", text, re.DOTALL)
    if m:
        return m.group(1), m.group(2)
    return None, text


def _read_balanced(text: str, open_paren: int) -> tuple[str, int]:
    """Return the contents of the paren group opening at
    ``text[open_paren]`` and the index just past its close."""
    end = close_paren(text, open_paren)
    if end is None:
        raise ValueError("unbalanced parens in semantic-SQL definition")
    return text[open_paren + 1:end], end + 1


# long-form property spellings (ref core/dialect.py:24 PROPERTY_ALIASES)
_PROPERTY_ALIASES = {
    "expression": "sql",
    "aggregation": "agg",
    "filter": "filters",
}


def _parse_fields(body: str) -> dict[str, str]:
    """``name total_revenue, agg sum, sql amount`` -> dict. Values run to
    the next top-level comma and may contain quotes/parens/placeholders."""
    fields: dict[str, str] = {}
    for item in split_items(body):
        if not item:
            continue
        m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s+(.+)$", item, re.DOTALL)
        if not m:
            fields[item] = "true"
            continue
        key, val = m.group(1).lower(), m.group(2).strip()
        key = _PROPERTY_ALIASES.get(key, key)
        if (val.startswith("'") and val.endswith("'")) or (
            val.startswith('"') and val.endswith('"')
        ):
            inner = val[1:-1]
            # quoted identifiers/values keep inner quotes for SQL text
            if key in ("name", "table", "agg", "type", "granularity"):
                val = inner
        fields[key] = val
    return fields


# ---------------------------------------------------------------------
# compact form (ref compact_sql_model fixture)
# ---------------------------------------------------------------------

def _parse_compact(text: str) -> list[Model]:
    models: list[Model] = []
    pos = 0
    while True:
        m = _COMPACT_RE.search(text, pos)
        if not m:
            break
        name, table = m.group(1), m.group(2)
        body, pos = _read_balanced(text, m.end() - 1)
        model = Model(name=name, table=table)
        pending_derived: list[tuple[str, str]] = []
        # parens keep a multi-line agg call together
        for line in split_top(body, "\n"):
            line = line.strip()
            if not line:
                continue
            pk = re.match(r"^primary\s+key\s*\(([^)]*)\)$", line, re.IGNORECASE)
            if pk:
                cols = [c.strip() for c in pk.group(1).split(",") if c.strip()]
                model.primary_key = cols[0] if len(cols) == 1 else cols
                continue
            # `default time order_date grain day` (ref table-block
            # tests/core/test_sql_definitions.py:674-760)
            dt = re.match(
                r"^default\s+time\s+(\w+)(?:\s+grain\s+(\w+))?$",
                line, re.IGNORECASE,
            )
            if dt:
                model.default_time_dimension = dt.group(1)
                model.default_grain = dt.group(2)
                continue
            # `segment completed as status = 'completed'`
            sg = re.match(
                r"^segment\s+(\w+)\s+as\s+(.+)$", line,
                re.IGNORECASE | re.DOTALL,
            )
            if sg:
                seg = Segment(name=sg.group(1), sql=sg.group(2).strip())
                model.segments.append(seg)
                model._segments[seg.name] = seg
                continue
            # `join one customers on customer_id = customers.id`
            # `join many items on a = items.a and b = items.b`
            jn = re.match(
                r"^join\s+(one|many)\s+(\w+)\s+on\s+(.+)$", line,
                re.IGNORECASE | re.DOTALL,
            )
            if jn:
                card, target, cond = jn.group(1).lower(), jn.group(2), jn.group(3)
                fks, pks = [], []
                for part in re.split(r"\band\b", cond, flags=re.IGNORECASE):
                    em = re.match(
                        r"^\s*(\w+)\s*=\s*(\w+)\.(\w+)\s*$", part
                    )
                    if not em or em.group(2) != target:
                        raise ValueError(
                            f"table block join condition not parseable: "
                            f"{part.strip()!r} (expect col = {target}.col)"
                        )
                    fks.append(em.group(1))
                    pks.append(em.group(3))
                model.relationships.append(Relationship(
                    name=target,
                    type="many_to_one" if card == "one" else "one_to_many",
                    foreign_key=fks[0] if len(fks) == 1 else fks,
                    primary_key=pks[0] if len(pks) == 1 else pks,
                ))
                continue
            # "expr as name : type grain g" | "agg(expr) as name" | bare name
            ann = None
            if ":" in line:
                line, ann = line.rsplit(":", 1)
                line, ann = line.strip(), ann.strip()
            asm = re.match(r"^(.*?)\s+as\s+(\w+)$", line, re.IGNORECASE | re.DOTALL)
            expr, out = (asm.group(1).strip(), asm.group(2)) if asm else (line, line)
            agg_call = _AGG_CALL_RE.match(expr)
            if agg_call:
                inner = agg_call.group(2).strip()
                model.add_metric(Metric(
                    name=out,
                    agg=agg_call.group(1).lower(),
                    sql=None if inner in ("", "*") else inner,
                ))
                continue
            if (
                ann is None
                and asm
                and re.search(r"[+\-*/]", expr)
                and not re.search(r"['()]", expr)
            ):
                # arithmetic over bare names: derived metric IF every
                # name resolves to a metric once the whole block is
                # parsed (metrics may be declared later — ref block
                # order average_order_value before revenue)
                pending_derived.append((out, expr))
                continue
            dtype, gran = "categorical", None
            if ann:
                toks = ann.split()
                if toks:
                    dtype = toks[0]
                if "grain" in toks:
                    gran = toks[toks.index("grain") + 1]
            model.add_dimension(Dimension(
                name=out,
                type=dtype,
                sql=None if expr == out else expr,
                granularity=gran,
            ))
        for out, expr in pending_derived:
            names = re.findall(r"[A-Za-z_]\w*", expr)
            if names and all(model.metric(n) is not None for n in names):
                model.add_metric(Metric(name=out, type="derived", sql=expr))
            else:
                model.add_dimension(Dimension(name=out, sql=expr,
                                               type="numeric"))
        models.append(model)
    return models
