"""LookML importer.

Maps Looker's LookML model format (reference ``adapters/lookml.py``;
public docs cloud.google.com/looker/docs/reference) onto our graph:

- ``view`` -> Model (``sql_table_name`` -> table, ``derived_table.sql``
  -> derived SQL)
- ``dimension`` -> Dimension (string/number/yesno/tier/date mapped onto
  our 4 semantic types; ``primary_key: yes`` collected, composite ok)
- ``dimension_group`` (type: time) -> time Dimension named after the
  group (grain suffixes replace Looker's generated ``_date``/``_month``
  timeframe fields)
- ``measure`` -> Metric (count/sum/average/min/max/count_distinct/
  median; ``number`` -> derived formula over sibling measures;
  ``filters: [field: "value"]`` -> per-metric filters)
- ``filter`` blocks (view-scoped, with sql) -> Segment
- ``explore``/``join`` -> Relationship on the left side of ``sql_on``
  (``many_to_one``/``one_to_many``/``one_to_one``; other shapes keep
  the condition as custom join SQL)

The reference parses with the ``lkml`` package; that library is not
available here, so ``_parse_lkml`` is a small self-contained block
parser for the subset above (``key: value``, ``key: name { ... }``,
``sql*`` fields terminated by ``;;``, bracket lists, ``#`` comments).
``${TABLE}.col`` resolves to the bare column, ``${field}`` inlines the
referenced dimension (or names a sibling measure in derived formulas),
``${view.field}`` becomes a cross-model reference.
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import AdapterError, BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship, Segment

_PLURAL = {
    "view": "views",
    "explore": "explores",
    "join": "joins",
    "dimension": "dimensions",
    "dimension_group": "dimension_groups",
    "measure": "measures",
    "filter": "filters_blocks",
    "parameter": "parameters",
    "set": "sets",
    "column": "columns",
    "derived_column": "derived_columns",
    "aggregate_table": "aggregate_tables",
}

# LookML dimension / measure type -> ours; exports use the first listed
_DIM_TYPES = {
    "string": "categorical",
    "number": "numeric",
    "yesno": "boolean",
    "tier": "numeric",
    "zipcode": "categorical",
    "location": "categorical",
    "date": "time",
    "date_time": "time",
    "time": "time",
    "duration": "numeric",
    "distance": "numeric",
    "unquoted": "categorical",
    "int": "numeric",
}

_MEASURE_AGGS = {
    "count": "count",
    "sum": "sum",
    "average": "avg",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count_distinct": "count_distinct",
    "median": "median",
}

# distinct-measure family (sum/average/median/percentile_distinct):
# Looker dedups by the sql_distinct_key ENTITY when one is declared
# (each distinct key contributes its value once even under join
# fan-out), and by VALUE when not.  Neither equals a plain agg — see
# _distinct_measure_sql (ref adapters/lookml.py:3475-3566).
_DISTINCT_MEASURES = {"sum_distinct", "average_distinct",
                      "median_distinct", "percentile_distinct"}

# post-SQL (table-calculation) measure types computed over another
# measure (ref adapters/lookml.py:3684-3802)
_POST_SQL_MEASURES = {"running_total", "percent_of_total",
                      "percent_of_previous"}


def _keyed_distinct_agg_sql(mtype: str, value_sql: str, key_sql: str) -> str:
    """Fan-out-safe sum/avg deduplicated by a key entity (symmetric
    aggregate).  Each distinct key contributes its value exactly once:
    a bounded per-key hash offset is summed DISTINCT alongside the
    value and cancelled.  pmod(xxhash64) % 2^61 keeps every offset
    under 2^61 so DECIMAL(38,6) accumulation never overflows under
    Spark 4 ANSI mode, while 2^61 separation dwarfs realistic measure
    magnitudes.  NOTE: the two-DISTINCT shape compiles to an Expand
    (one replication per distinct agg) — acceptable for an imported
    long-tail measure, not a shape to put on the 100 TB hot path."""
    off = (f"CAST(pmod(xxhash64({key_sql}), 2305843009213693952) "
           f"AS DECIMAL(38,6))")
    val = f"CAST(({value_sql}) AS DECIMAL(38,6))"
    keyed = f"(SUM(DISTINCT {off} + {val}) - SUM(DISTINCT {off}))"
    if mtype == "sum_distinct":
        return f"CAST({keyed} AS DOUBLE)"
    return f"CAST({keyed} / NULLIF(COUNT(DISTINCT {key_sql}), 0) AS DOUBLE)"


def _distinct_quantile_sql(value_sql: str, key_sql: str | None, frac: float) -> str:
    """Continuous quantile over values deduplicated by key entity (or
    by value when no key): collect (key, value) pairs, array_distinct,
    project values, sort, interpolate.  The sorted array is bound ONCE
    via a transform-lambda so collect_list runs a single time per
    group; empty groups yield NULL (try_element_at, ANSI-safe)."""
    if key_sql is not None:
        collected = (f"transform(array_distinct(collect_list(named_struct("
                     f"'k', {key_sql}, 'v', CAST(({value_sql}) AS DOUBLE)))), __x -> __x.v)")
    else:
        collected = f"array_distinct(collect_list(CAST(({value_sql}) AS DOUBLE)))"
    sorted_arr = f"array_sort(filter({collected}, __x -> __x IS NOT NULL))"
    pos = f"(size(__s)-1)*{frac}"
    lo = f"try_element_at(__s, CAST(floor({pos}) AS INT)+1)"
    hi = f"try_element_at(__s, CAST(ceil({pos}) AS INT)+1)"
    return (
        f"try_element_at(transform(array({sorted_arr}), "
        f"__s -> CASE WHEN size(__s) = 0 THEN CAST(NULL AS DOUBLE) "
        f"ELSE {lo} + ({pos} - floor({pos})) * ({hi} - {lo}) END), 1)"
    )

# anonymous blocks that legally repeat under one parent
_REPEAT_ANON = {"when", "allowed_value", "link", "action"}

# Looker duration dimension types -> TIMESTAMPDIFF units
_DURATION_UNITS = {
    "duration_second": "SECOND",
    "duration_minute": "MINUTE",
    "duration_hour": "HOUR",
    "duration_day": "DAY",
    "duration_week": "WEEK",
    "duration_month": "MONTH",
    "duration_quarter": "QUARTER",
    "duration_year": "YEAR",
}

def _liquid_construct(raw_sql) -> dict | None:
    """Construct attribution for the fidelity report: fields whose
    LookML SQL carried Liquid templating are tagged so an export
    regression on the translated form is attributable to the
    ``lookml:liquid`` construct (round-5 verdict task)."""
    if isinstance(raw_sql, str) and ("{%" in raw_sql or "{{" in raw_sql):
        return {"construct": "lookml:liquid"}
    return None


# -- liquid neutralization (import-time) ------------------------------------
# Looker SQL params may embed Liquid. The reference protects the
# fragments lexically and carries them through its SQL layer (ref
# sql/lookml_expression.py:1-20); Spark SQL has no Liquid runtime, so
# we neutralize at import with documented defaults:
#   {% condition f %}expr{% endcondition %} -> 1=1   (no filter applied)
#   {% parameter p %}  -> the parameter's default_value, else NULL
#   {% if %}A{% elsif %}B{% else %}C{% endif %} -> A (first branch;
#       nested ifs unsupported — none appear in the reference corpus)
#   {% assign/for/comment ... %} tags -> dropped
#   {{ var | filters }} -> var
_LIQ_COND = re.compile(
    r"\{%-?\s*condition\s+[\w.]+\s*-?%\}.*?\{%-?\s*endcondition\s*-?%\}", re.S
)
_LIQ_PARAM = re.compile(r"\{%-?\s*parameter\s+([\w.]+)\s*-?%\}")
_LIQ_IF = re.compile(r"\{%-?\s*if\s[^%]*?-?%\}(.*?)\{%-?\s*endif\s*-?%\}", re.S)
_LIQ_BRANCH = re.compile(r"\{%-?\s*els(?:e|if)[^%]*?-?%\}", re.S)
_LIQ_TAG = re.compile(r"\{%[^%]*?%\}")
_LIQ_VAR = re.compile(r"\{\{\s*([^}|]*?)\s*(?:\|[^}]*)?\}\}")


def _strip_liquid(sql: str, param_defaults: dict[str, str] | None = None) -> str:
    if "{%" not in sql and "{{" not in sql:
        return sql
    out = _LIQ_COND.sub("1=1", sql)
    for _ in range(8):  # sequential (non-nested) if blocks
        new = _LIQ_IF.sub(lambda m: _LIQ_BRANCH.split(m.group(1))[0], out)
        if new == out:
            break
        out = new
    defaults = param_defaults or {}
    out = _LIQ_PARAM.sub(lambda m: defaults.get(m.group(1), "NULL"), out)
    out = _LIQ_TAG.sub(" ", out)
    out = _LIQ_VAR.sub(lambda m: m.group(1), out)
    return out.strip()


class _Scanner:
    def __init__(self, text: str) -> None:
        self.text = text
        self.i = 0
        self.n = len(text)

    def skip_ws(self) -> None:
        while self.i < self.n:
            ch = self.text[self.i]
            if ch in " \t\r\n":
                self.i += 1
            elif ch == "#":
                nl = self.text.find("\n", self.i)
                self.i = self.n if nl < 0 else nl + 1
            else:
                return

    def peek(self) -> str:
        return self.text[self.i] if self.i < self.n else ""

    def read_ident(self) -> str:
        m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", self.text[self.i :])
        if not m:
            raise AdapterError(
                f"lookml: expected identifier at {self.text[self.i:self.i + 40]!r}"
            )
        self.i += m.end()
        return m.group(0)

    def read_until_dsemi(self) -> str:
        end = self.text.find(";;", self.i)
        if end < 0:
            raise AdapterError("lookml: unterminated sql field (missing ;;)")
        out = self.text[self.i : end]
        self.i = end + 2
        return out.strip()

    def read_value(self) -> str:
        ch = self.peek()
        if ch == '"':
            m = re.match(r'"((?:[^"\\]|\\.)*)"', self.text[self.i :])
            if not m:
                raise AdapterError("lookml: unterminated string")
            self.i += m.end()
            return m.group(1)
        m = re.match(r"[^\s{}\[\]#]+", self.text[self.i :])
        if not m:
            raise AdapterError(
                f"lookml: expected value at {self.text[self.i:self.i + 40]!r}"
            )
        self.i += m.end()
        return m.group(0)

    def read_list(self) -> list[str]:
        assert self.peek() == "["
        depth = 0
        in_q = False
        start = self.i
        while self.i < self.n:
            ch = self.text[self.i]
            if ch == '"':
                in_q = not in_q
            elif not in_q:
                if ch == "[":
                    depth += 1
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        inner = self.text[start + 1 : self.i]
                        self.i += 1
                        return [
                            s.strip().strip('"')
                            for s in _split_list_items(inner)
                            if s.strip()
                        ]
            self.i += 1
        raise AdapterError("lookml: unterminated list")


def _split_list_items(inner: str) -> list[str]:
    items, buf, in_q = [], [], False
    for ch in inner:
        if ch == '"':
            in_q = not in_q
            buf.append(ch)
        elif ch == "," and not in_q:
            items.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    items.append("".join(buf))
    return items


def _filter_condition_sql(ref: str, val: str) -> str:
    """One Looker filter-expression value -> a SQL condition on ``ref``
    (the representable subset: comparisons, negation, NULL, relative
    date windows — which map onto the engine's native relative-date
    filters instead of the reference's warn-and-literal fallback)."""
    val = val.strip()
    op_m = re.match(r"(>=|<=|!=|<>|>|<)\s*(.+)$", val)
    if op_m:
        op = "!=" if op_m.group(1) == "<>" else op_m.group(1)
        return f"{ref} {op} {op_m.group(2)}"
    rel = re.fullmatch(
        r"(?:last\s+)?(\d+)\s+(day|week|month|quarter|year)s?", val, re.I
    )
    if rel:
        return f"{ref} >= 'last {rel.group(1)} {rel.group(2).lower()}s'"
    if val.upper() == "NULL":
        return f"{ref} IS NULL"
    if val.upper() == "-NULL":
        return f"{ref} IS NOT NULL"
    if val.lower() == "yes":
        return f"{ref} = true"
    if val.lower() == "no":
        return f"{ref} = false"
    if val.startswith("-"):
        return f"{ref} != '{val[1:]}'"
    return f"{ref} = '{val}'"


def _always_filter_items(af) -> list[tuple[str, str]]:
    """``always_filter``/``conditionally_filter`` block -> (field, value)
    pairs; accepts the list form ``filters: [view.field: "expr"]`` and
    the legacy block form ``filters: { field: f value: v }``."""
    if not isinstance(af, dict):
        return []
    raw = af.get("filters")
    out: list[tuple[str, str]] = []
    if isinstance(raw, dict):
        f, v = raw.get("field"), raw.get("value")
        if f and v is not None:
            out.append((str(f), str(v)))
    elif isinstance(raw, list):
        for item in raw:
            if isinstance(item, dict):
                f, v = item.get("field"), item.get("value")
                if f and v is not None:
                    out.append((str(f), str(v)))
                continue
            fm = re.match(r"\s*([\w.]+)\s*:\s*\"?(.*?)\"?\s*$", str(item))
            if fm:
                out.append((fm.group(1), fm.group(2)))
    return out


def _parse_block(sc: _Scanner) -> dict:
    """Parse `{ key: ... }*` until the matching close brace or EOF."""
    out: dict = {}
    while True:
        sc.skip_ws()
        if sc.i >= sc.n:
            return out
        if sc.peek() == "}":
            sc.i += 1
            return out
        key = sc.read_ident()
        sc.skip_ws()
        if sc.peek() != ":":
            raise AdapterError(f"lookml: expected ':' after {key!r}")
        sc.i += 1
        sc.skip_ws()
        if (
            key.startswith("sql")
            or key.endswith("_sql")
            or key.startswith("expression")
            or key == "html"
        ):
            out[key] = sc.read_until_dsemi()
            continue
        if sc.peek() == "[":
            val = sc.read_list()
            if key == "include":
                # repeated / bracketed include declarations accumulate
                # (the lkml library's `includes` convention; reference
                # adapters/lookml.py:900-907 flattens both forms)
                out.setdefault("includes", []).extend(
                    v for v in val if isinstance(v, str)
                )
            else:
                out[key] = val
            continue
        if sc.peek() == "{":
            # anonymous block (derived_table: { ... }); keys that repeat
            # (case whens, parameter allowed_values) accumulate in order
            sc.i += 1
            block = _parse_block(sc)
            if key in _REPEAT_ANON:
                out.setdefault(key, []).append(block)
            else:
                out[key] = block
            continue
        name = sc.read_value()
        sc.skip_ws()
        # `key: name { ... }` is unambiguously a named block (the
        # allowlist only names the plurals we collect)
        if sc.peek() == "{":
            sc.i += 1
            block = _parse_block(sc)
            block["name"] = name
            plural = _PLURAL.get(key)
            if plural:
                out.setdefault(plural, []).append(block)
            else:
                out.setdefault(key, block)
            continue
        if key == "include":
            out.setdefault("includes", []).append(name)
            continue
        out[key] = name


def parse_lkml(text: str) -> dict:
    """LookML text -> {'views': [...], 'explores': [...], ...}."""
    return _parse_block(_Scanner(text))


def _resolve_include(root, including_file, pattern: str) -> set:
    """Files matched by one LookML ``include:`` pattern (reference
    semantics, adapters/lookml.py:1108-1129): leading ``/`` is
    project-root relative, else relative to the declaring file;
    ``//other_project/...`` is a cross-project include (no local files);
    the ``.lkml`` suffix may be omitted."""
    if pattern.startswith("//"):
        return set()
    base, pat = (
        (root, pattern[1:]) if pattern.startswith("/")
        else (including_file.parent, pattern)
    )
    patterns = [pat] if pat.endswith(".lkml") else [pat, pat + ".lkml"]
    out: set = set()
    for cand in patterns:
        try:
            out |= {p.resolve() for p in base.glob(cand) if p.is_file()}
        except (OSError, ValueError):
            continue
    return out


def _merge_project_docs(proj_root, docs: list) -> dict:
    """Merge per-file LookML docs into one project document, applying
    include-scoping when active (see ``LookMLAdapter.parse_file``)."""
    includes_by_file = {
        p.resolve(): list(doc.get("includes") or []) for p, doc in docs
        if doc.get("includes")
    }
    model_files = [p.resolve() for p, _ in docs if p.name.endswith(".model.lkml")]
    scoping = any(f in includes_by_file for f in model_files)

    order: list = []  # merge order (resolved paths)
    included: set = set()
    if scoping:
        seen: set = set()

        def visit(cur) -> None:
            # a file is ordered AFTER the files it includes: includes sit
            # at the top, so an included refinement lands before the
            # includer's own (reference ordered-include-closure reading)
            if cur in seen:
                return
            seen.add(cur)  # before recursing: circular includes must not loop
            for pattern in includes_by_file.get(cur, []):
                for hit in sorted(_resolve_include(proj_root, cur, pattern)):
                    visit(hit)
            order.append(cur)

        # EVERY model file seeds the closure — a self-contained model
        # without include: belongs to the project just as much
        for mf in model_files:
            visit(mf)
        included = set(order)
        for p, _doc in docs:
            if p.resolve() not in included:
                order.append(p.resolve())

    doc_of = {p.resolve(): doc for p, doc in docs}
    paths = order if scoping else [p.resolve() for p, _ in docs]

    # same-name base-view collision: exactly one included copy wins
    # (an archived duplicate alongside the live view must not collide)
    drop_dupe: set = set()  # (path, view_name)
    if scoping:
        by_name: dict = {}
        for p in paths:
            for v in doc_of.get(p, {}).get("views", []) or []:
                if not str(v.get("name", "")).startswith("+"):
                    by_name.setdefault(v["name"], []).append(p)
        for name, owners in by_name.items():
            if len(owners) > 1:
                live = [p for p in owners if p in included]
                if len(live) == 1:
                    drop_dupe |= {(p, name) for p in owners if p != live[0]}

    merged: dict = {}
    for p in paths:
        doc = doc_of.get(p)
        if doc is None:
            continue
        for k, v in doc.items():
            if isinstance(v, list) and isinstance(merged.get(k, []), list):
                items = v
                if k in ("views", "explores") and scoping:
                    items = [
                        x for x in v
                        if not (
                            isinstance(x, dict)
                            and (
                                # un-included refinement: dropped
                                (str(x.get("name", "")).startswith("+")
                                 and p not in included)
                                or (p, x.get("name")) in drop_dupe
                            )
                        )
                    ]
                merged.setdefault(k, []).extend(items)
            else:
                merged.setdefault(k, v)
    return merged


def _deep_merge_block(base: dict, over: dict) -> dict:
    """Looker refinement merge: scalars override, nested blocks merge
    deeply, and lists of named blocks (dimensions, measures, ...) merge
    BY NAME — a refinement adding `label` to a dimension keeps the
    base's `sql` (node-lookml-parser "deep merge" semantics)."""
    out = dict(base)
    for k, v in over.items():
        if k in ("name", "extension"):
            continue
        bv = out.get(k)
        if k == "extends" and isinstance(bv, list) and isinstance(v, list):
            # a refinement's extends ADD to the base's (Looker applies
            # both); order: base parents first, then the refinement's
            out[k] = bv + [x for x in v if x not in bv]
        elif isinstance(v, dict) and isinstance(bv, dict):
            out[k] = _deep_merge_block(bv, v)
        elif (
            isinstance(v, list)
            and isinstance(bv, list)
            and any(isinstance(x, dict) and "name" in x for x in v + bv)
        ):
            merged = [dict(x) if isinstance(x, dict) else x for x in bv]
            index = {
                x.get("name"): i
                for i, x in enumerate(merged)
                if isinstance(x, dict)
            }
            for item in v:
                pos = index.get(item.get("name")) if isinstance(item, dict) else None
                if pos is None:
                    merged.append(item)
                else:
                    merged[pos] = _deep_merge_block(merged[pos], item)
                    merged[pos]["name"] = item.get("name")
            out[k] = merged
        else:
            out[k] = v
    return out


class LookMLAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        """Parse a .lkml file — or a LookML PROJECT DIRECTORY: all
        .lkml/.lookml files under it are parsed and loaded as one
        document, so cross-file `extends`, `view: +name` refinements,
        and explore joins resolve project-wide.

        When a ``.model.lkml`` file declares ``include:`` patterns,
        include-scoping activates (reference adapters/lookml.py:118-260):
        files are merged in the models' include order (refinements are
        order-sensitive — the LAST include of a ``view: +name`` wins),
        refinements in files no model's include closure reaches are
        dropped (a stale ``view: +orders`` in an archive/ directory must
        not override the live view), and a same-name base-view collision
        resolves to the included copy. Base views in un-included files
        still load — scoping filters refinements, not views. With no
        includes declared, all files merge in sorted order."""
        import os as _os

        if _os.path.isdir(path):
            from pathlib import Path as _Path

            proj_root = _Path(path)
            docs: list[tuple[_Path, dict]] = []
            for root, dirs, files in sorted(_os.walk(path)):
                dirs.sort()
                for f in sorted(files):
                    if not f.endswith((".lkml", ".lookml")):
                        continue
                    p = _Path(root) / f
                    with open(p) as fh:
                        docs.append((p, parse_lkml(fh.read())))
            self._load(layer, _merge_project_docs(proj_root, docs))
            return
        with open(path) as fh:
            self.parse_text(layer, fh.read())

    def parse(self, layer, data: dict) -> None:
        self._load(layer, data)

    def parse_text(self, layer, text: str) -> None:
        self._load(layer, parse_lkml(text))

    # -- internals ----------------------------------------------------

    def _load(self, layer, doc: dict) -> None:
        # `view: +name` is a REFINEMENT: deep-merged into the base view
        # in declaration order (Looker applies refinements in include
        # order; a refinement may precede its base in the file), the
        # refinement's fields winning. Same for `explore: +name`.
        raw_views: dict[str, dict] = {}
        refinements: list[dict] = []
        for v in doc.get("views", []):
            if v["name"].startswith("+"):
                refinements.append(v)
            else:
                raw_views[v["name"]] = v
        for r in refinements:
            base = raw_views.get(r["name"].lstrip("+"))
            if base is not None:
                merged = _deep_merge_block(base, r)
                merged["name"] = base["name"]
                raw_views[base["name"]] = merged
        for name, raw in raw_views.items():
            raw_views[name] = self._apply_extends(raw, raw_views)
        for raw in raw_views.values():
            if raw.get("extension") == "required":
                continue  # abstract base view, not a queryable model
            layer.add_model(self._view_to_model(raw))
        raw_explores: dict[str, dict] = {}
        explore_refinements: list[dict] = []
        for e in doc.get("explores", []):
            if e["name"].startswith("+"):
                explore_refinements.append(e)
            else:
                raw_explores[e["name"]] = e
        for r in explore_refinements:
            base = raw_explores.get(r["name"].lstrip("+"))
            if base is not None:
                merged = _deep_merge_block(base, r)
                merged["name"] = base["name"]
                raw_explores[base["name"]] = merged
        for name, e in raw_explores.items():
            raw_explores[name] = self._apply_extends(e, raw_explores)
        for e in raw_explores.values():
            if e.get("extension") == "required":
                continue
            self._apply_explore(layer, e)
        self._resolve_ndts(layer)

    def _resolve_ndts(self, layer) -> None:
        """Compile native derived tables (``derived_table {
        explore_source: ... }``) into real derived SQL by running the
        declared column list through this layer's own generator — the
        explore's joins are registered by now, so ``field:`` refs
        resolve to metrics/dimensions and the compiled SELECT becomes
        the model's binding. Unresolvable sources keep a documented
        stub (the reference emits only the stub,
        ref adapters/lookml.py:2861-2918)."""
        for model in list(layer.graph.models.values()):
            src = (model.meta or {}).get("lookml_ndt")
            if not src:
                continue
            # multi-file projects load one file at a time: a stubbed NDT
            # re-resolves once a later file brings the missing models
            if model.sql and not (model.meta or {}).get("lookml_ndt_unresolved"):
                continue
            base = src.get("name")
            columns = src.get("columns") or []
            metrics: list[str] = []
            dims: list[str] = []
            for col in columns:
                fld = col.get("field")
                alias = col.get("name") or (fld.split(".")[-1] if fld else None)
                if not fld or not alias:
                    continue
                mdl_name = fld.split(".", 1)[0]
                mdl = layer.graph.models.get(mdl_name)
                ref = f"{fld} AS {alias}"
                if mdl is not None and mdl.metric(fld.split(".", 1)[1]) is not None:
                    metrics.append(ref)
                else:
                    dims.append(ref)
            sql = None
            if metrics or dims:
                # the NDT queries THROUGH the explore, so its mandatory
                # sql_always_where filters apply to the compiled query
                explore = layer.graph.explores.get(base)
                filters = list(getattr(explore, "filters", []) or [])
                try:
                    sql = layer.compile(metrics=metrics, dimensions=dims,
                                        filters=filters)
                except Exception:
                    sql = None
            if sql is None:
                sql = f"SELECT * FROM {base}  -- native derived table (unresolved explore_source)"
                model.meta["lookml_ndt_unresolved"] = True
            else:
                model.meta.pop("lookml_ndt_unresolved", None)
            for dc in (model.meta or {}).get("lookml_derived_columns") or []:
                dsql = dc.get("sql")
                if dc.get("name") and isinstance(dsql, str):
                    expr = re.sub(r"\$\{(\w+)\}", r"\1", dsql)
                    sql = f"SELECT *, {expr} AS {dc['name']} FROM (\n{sql}\n)"
            model.sql = sql
            model.table = None
            layer.graph._invalidate()

    def _apply_extends(self, raw: dict, views: dict, depth: int = 0) -> dict:
        parents = raw.get("extends") or []
        if isinstance(parents, str):
            parents = [parents]
        if not parents or depth > 8:
            return raw
        merged: dict = {}
        for pname in parents:
            parent = views.get(pname.strip("*"))
            if parent is None:
                continue
            parent = self._apply_extends(parent, views, depth + 1)
            for k, v in parent.items():
                if k in ("name", "extends", "extension"):
                    continue
                if isinstance(v, list):
                    merged.setdefault(k, [])
                    merged[k] = merged[k] + [x for x in v if x not in merged[k]]
                else:
                    merged.setdefault(k, v)
        for k, v in raw.items():
            if isinstance(v, list) and isinstance(merged.get(k), list):
                names = {
                    x.get("name") for x in v if isinstance(x, dict)
                }
                merged[k] = [
                    x
                    for x in merged[k]
                    if not (isinstance(x, dict) and x.get("name") in names)
                ] + v
            else:
                merged[k] = v
        return merged

    def _view_to_model(self, raw: dict) -> Model:
        name = raw["name"]
        dim_sql: dict[str, str] = {}
        measure_names = {
            m.get("name") for m in raw.get("measures", []) if m.get("name")
        }
        # parameter default_values feed `{% parameter p %}` substitution
        param_defaults: dict[str, str] = {}
        for p in raw.get("parameters", []):
            dv = p.get("default_value")
            if dv is None:
                continue
            if p.get("type", "string") in ("string", "date", "date_time") and not (
                str(dv).startswith("'") or str(dv).replace(".", "").isdigit()
            ):
                dv = f"'{dv}'"
            param_defaults[p["name"]] = str(dv)

        groups = {
            g["name"]: g
            for g in raw.get("dimension_groups", [])
            if g.get("type") != "duration"
        }
        # every declared dimension name — a ${ref} to a dimension
        # declared LATER in the view must resolve to that dimension,
        # never be hijacked by the group-timeframe fallback below (e.g.
        # ${created_flag} with a dimension_group named `created`).
        # Pre-register each dimension's lightly-normalized SQL so
        # forward references inline through the iterative loop.
        declared = {
            d["name"] for d in raw.get("dimensions", []) if d.get("name")
        }
        for d in raw.get("dimensions", []):
            if d.get("name") and isinstance(d.get("sql"), str):
                pre = _strip_liquid(d["sql"], param_defaults)
                pre = pre.replace("${TABLE}.", "")
                pre = re.sub(r"\$\{(\w+)\.(\w+)\}", r"\1.\2", pre)
                dim_sql[d["name"]] = pre.strip()

        def resolve(sql: str | None, *, in_measure: bool = False) -> str | None:
            """``${TABLE}.c`` -> c; ``${f}`` -> inlined dim SQL or
            sibling-measure name; ``${group_timeframe}`` -> the group's
            SQL under that timeframe transform; ``${v.f}`` -> v.f;
            Liquid neutralized (see _strip_liquid)."""
            if sql is None:
                return None
            out = _strip_liquid(sql, param_defaults)
            out = out.replace("${TABLE}.", "")
            out = re.sub(r"\$\{(\w+)\.(\w+)\}", r"\1.\2", out)

            def repl(m: re.Match) -> str:
                f = m.group(1)
                if in_measure and f in measure_names:
                    return f
                inner = dim_sql.get(f)
                if inner is None:
                    if f in declared:
                        return f  # declared later: keep the bare ref
                    # Looker generates `<group>_<timeframe>` fields from
                    # a dimension_group; map them back onto the group's
                    # SQL with the timeframe transform applied
                    for gn, g in groups.items():
                        if f == gn or f.startswith(gn + "_"):
                            base = resolve(g.get("sql")) or gn
                            if f == gn:
                                return base
                            return _timeframe_sql(
                                f[len(gn) + 1 :], base,
                                g.get("fiscal_month_offset"),
                            )
                    return f
                return f"({inner})" if re.search(r"[^\w.]", inner) else inner

            for _ in range(6):  # nested dimension refs
                new = re.sub(r"\$\{(\w+)\}", repl, out)
                if new == out:
                    break
                out = new
            return out.strip()

        pk: list[str] = []
        dims: list[Dimension] = []
        for d in raw.get("dimensions", []):
            dtype = d.get("type", "string")
            sql = resolve(d.get("sql")) or None
            if sql is None and isinstance(d.get("case"), dict):
                # `case:` dimension -> CASE WHEN over the when-block
                # conditions with the labels as values (ref lookml.py
                # maps case dims the same way; `tier`-style bucket
                # labels stay presentation-layer, case labels ARE the
                # dimension's values)
                c = d["case"]
                whens = c.get("when") or []
                if isinstance(whens, dict):
                    whens = [whens]
                def _lit(v: str) -> str:
                    return "'" + str(v).replace("'", "''") + "'"

                parts = [
                    f"WHEN {resolve(w['sql'])} THEN {_lit(w.get('label', ''))}"
                    for w in whens
                    if w.get("sql")
                ]
                if parts:
                    tail = f" ELSE {_lit(c['else'])}" if c.get("else") else ""
                    sql = "CASE " + " ".join(parts) + tail + " END"
                    dtype = "string"
            if sql is None and dtype in _DURATION_UNITS:
                # duration dims: sql_start/sql_end -> TIMESTAMPDIFF
                start = resolve(d.get("sql_start"))
                end = resolve(d.get("sql_end"))
                if start and end:
                    unit = _DURATION_UNITS[dtype]
                    sql = f"TIMESTAMPDIFF({unit}, {start}, {end})"
                dtype = "number"
            if dtype == "location":
                # type: location combines sql_latitude/sql_longitude;
                # compose a queryable "lat,lon" value (the reference
                # keeps the dimension but leaves it expression-less)
                lat = resolve(d.get("sql_latitude"))
                lon = resolve(d.get("sql_longitude"))
                if lat and lon:
                    sql = f"CONCAT({lat}, ',', {lon})"
                dtype = "string"
            sql = sql or d["name"]
            dim_sql[d["name"]] = sql
            if dtype == "tier":
                # tier buckets the numeric into Looker's documented
                # ranges — a REAL CASE bucketing where the reference
                # imports the raw value and loses the tier semantics.
                # Grouping by the tier then matches Looker's output.
                tier_sql = _tier_case_sql(sql, d.get("tiers"), d.get("style"))
                if tier_sql is not None:
                    sql = tier_sql
                    dim_sql[d["name"]] = sql
                    dtype = "string"
                else:
                    dtype = "number"
            if dtype in _DURATION_UNITS:
                dtype = "number"
            dims.append(
                Dimension(
                    name=d["name"],
                    type=_DIM_TYPES.get(dtype, "categorical"),
                    sql=None if sql == d["name"] else sql,
                    description=_str(d.get("description")),
                    label=_str(d.get("label")),
                    public=d.get("hidden") != "yes",
                    meta=_liquid_construct(d.get("sql")),
                )
            )
            if d.get("primary_key") == "yes":
                pk.append(sql)
        for g in raw.get("dimension_groups", []):
            if g.get("type") == "duration":
                # duration groups generate one numeric dimension per
                # interval, named `{group}_{interval}s`, computing
                # DATEDIFF(start, end) in that unit (reference
                # adapters/lookml.py:2942-3003); groups without both
                # sql_start/sql_end cannot produce a value
                start = resolve(g.get("sql_start"))
                end = resolve(g.get("sql_end"))
                if not start or not end:
                    continue
                for iv in g.get("intervals") or ["day"]:
                    unit = str(iv).upper()
                    if unit not in ("SECOND", "MINUTE", "HOUR", "DAY",
                                    "WEEK", "MONTH", "QUARTER", "YEAR"):
                        continue
                    dname = f"{g['name']}_{iv}s"
                    dur_sql = f"TIMESTAMPDIFF({unit}, {start}, {end})"
                    dim_sql[dname] = dur_sql
                    dims.append(Dimension(
                        name=dname, type="numeric", sql=dur_sql,
                        description=f"Duration in {iv}s between start and end",
                    ))
                continue
            sql = resolve(g.get("sql")) or g["name"]
            dim_sql[g["name"]] = sql
            dims.append(
                Dimension(
                    name=g["name"],
                    type="time",
                    sql=None if sql == g["name"] else sql,
                    description=_str(g.get("description")),
                    public=g.get("hidden") != "yes",
                )
            )
            # materialize declared timeframes the grain-suffix mechanism
            # can't express: extracted parts (different value domains)
            # and fiscal truncations (fiscal_month_offset shifts the
            # bucket boundaries — ref adapters/lookml.py:2765-2800).
            # Plain truncations stay `group__grain` queries.
            offset = g.get("fiscal_month_offset")
            for tf in g.get("timeframes") or []:
                tf = str(tf).strip().strip(",")
                if tf in _FISCAL_TRUNC_TIMEFRAMES:
                    dims.append(
                        Dimension(
                            name=f"{g['name']}_{tf}",
                            type="time",
                            sql=_timeframe_sql(tf, sql, offset),
                            granularity=_FISCAL_TRUNC_TIMEFRAMES[tf],
                            description=_str(g.get("description")),
                            public=g.get("hidden") != "yes",
                        )
                    )
                elif tf in _PART_TIMEFRAMES:
                    dims.append(
                        Dimension(
                            name=f"{g['name']}_{tf}",
                            type=_PART_TIMEFRAMES[tf],
                            sql=_timeframe_sql(tf, sql, offset),
                            description=_str(g.get("description")),
                            public=g.get("hidden") != "yes",
                        )
                    )

        metrics: list[Metric] = []
        for m in raw.get("measures", []):
            mtype = m.get("type", "count")
            sql = resolve(m.get("sql"), in_measure=True)
            filters = self._measure_filters(m, name, dim_sql)
            if mtype in _MEASURE_AGGS:
                agg = _MEASURE_AGGS[mtype]
                # Looker `approximate: yes` on count_distinct -> HLL
                # (ref adapters/lookml.py:3178-3180)
                if agg == "count_distinct" and m.get("approximate") in ("yes", True):
                    agg = "approx_count_distinct"
                metrics.append(
                    Metric(
                        name=m["name"],
                        agg=agg,
                        sql=sql,
                        filters=filters,
                        description=_str(m.get("description")),
                        label=_str(m.get("label")),
                        meta=_liquid_construct(m.get("sql")),
                    )
                )
            elif mtype in ("number", "yesno"):
                if not sql:
                    continue
                metrics.append(
                    Metric(
                        name=m["name"],
                        type="derived",
                        expr=sql,
                        description=_str(m.get("description")),
                    )
                )
            elif mtype == "percentile":
                # exact ordered-set aggregate (ref lookml.py:3080-3096:
                # PERCENTILE_CONT(f) WITHIN GROUP)
                if sql:
                    frac = float(m.get("percentile", 50)) / 100.0
                    metrics.append(
                        Metric(
                            name=m["name"],
                            sql=(
                                f"PERCENTILE_CONT({frac}) "
                                f"WITHIN GROUP (ORDER BY {sql})"
                            ),
                            sql_is_complete=True,
                            description=_str(m.get("description")),
                            label=_str(m.get("label")),
                        )
                    )
            elif mtype in _DISTINCT_MEASURES:
                # Looker dedups by sql_distinct_key ENTITY (each key
                # contributes once under join fan-out), by VALUE when
                # keyless.  Plain sum/avg/median would double-count —
                # see _keyed_distinct_agg_sql/_distinct_quantile_sql
                # (ref lookml.py:3475-3566; our keyless quantile dedups
                # by value via array_distinct, which the reference can
                # only approximate with a plain PERCENTILE_CONT)
                if not sql:
                    continue
                key = resolve(m.get("sql_distinct_key"), in_measure=True)
                if mtype in ("sum_distinct", "average_distinct"):
                    if key:
                        csql = _keyed_distinct_agg_sql(mtype, sql, key)
                    else:
                        fn = "SUM" if mtype == "sum_distinct" else "AVG"
                        csql = f"{fn}(DISTINCT {sql})"
                else:
                    frac = (
                        0.5 if mtype == "median_distinct"
                        else float(m.get("percentile", 50)) / 100.0
                    )
                    csql = _distinct_quantile_sql(sql, key or None, frac)
                metrics.append(
                    Metric(
                        name=m["name"],
                        sql=csql,
                        sql_is_complete=True,
                        description=_str(m.get("description")),
                        label=_str(m.get("label")),
                    )
                )
            elif mtype in _POST_SQL_MEASURES:
                # post-SQL measures compute over another measure (ref
                # lookml.py:3684-3802): running_total -> our native
                # cumulative metric; percent_of_total -> derived with
                # the all() window total; percent_of_previous -> derived
                # LAG form (matches the reference's mapping, including
                # its unspecified OVER () ordering caveat).  A raw
                # column expression (not a bare ${measure} ref) gets a
                # hidden sum base first.
                if not sql:
                    continue
                raw_ref = re.match(r"^\s*\$\{(\w+)\}\s*$", m.get("sql") or "")
                if raw_ref and raw_ref.group(1) in measure_names:
                    base = raw_ref.group(1)
                else:
                    base = f"__{m['name']}_base"
                    metrics.append(
                        Metric(name=base, agg="sum", sql=sql,
                               filters=filters, public=False)
                    )
                common = dict(
                    description=_str(m.get("description")),
                    label=_str(m.get("label")),
                    # round-trip marker so export regenerates the
                    # original LookML measure type (ref
                    # adapters/lookml.py:3737,3800 meta.table_calculation)
                    meta={"table_calculation": mtype},
                )
                if mtype == "running_total":
                    metrics.append(
                        Metric(name=m["name"], type="cumulative",
                               base_metric=base, **common)
                    )
                elif mtype == "percent_of_total":
                    metrics.append(
                        Metric(
                            name=m["name"], type="derived",
                            expr=(f"CAST({base} AS DOUBLE) / "
                                  f"NULLIF(CAST(all({base}) AS DOUBLE), 0)"),
                            **common,
                        )
                    )
                else:  # percent_of_previous
                    metrics.append(
                        Metric(
                            name=m["name"], type="derived",
                            expr=(f"({base} - LAG({base}) OVER ()) / "
                                  f"NULLIF(LAG({base}) OVER (), 0)"),
                            **common,
                        )
                    )
            elif mtype == "period_over_period":
                # ref adapters/lookml.py:3048-3078: based_on names the
                # base measure; period/kind map onto the engine's
                # native time_comparison metric
                based_on = _str(m.get("based_on"))
                if not based_on:
                    continue
                period_map = {"year": "yoy", "quarter": "qoq",
                              "month": "mom", "week": "wow", "day": "dod"}
                kind_map = {"difference": "difference",
                            "relative_change": "percent_change",
                            "ratio": "ratio"}
                metrics.append(
                    Metric(
                        name=m["name"],
                        type="time_comparison",
                        base_metric=based_on,
                        comparison_type=period_map.get(
                            m.get("period", "year"), "yoy"),
                        calculation=kind_map.get(
                            m.get("kind", "relative_change"),
                            "percent_change"),
                        description=_str(m.get("description")),
                        label=_str(m.get("label")),
                    )
                )
            # list/date measures etc. carry no aggregation: skip

        segments = []
        for f in raw.get("filters_blocks", []):
            fsql = f.get("sql")
            if not fsql:
                continue  # filter-parameter without SQL (templated filters)
            fsql = fsql.replace("${TABLE}.", "{model}.")
            fsql = re.sub(r"\$\{(\w+)\}", r"{model}.\1", fsql)
            segments.append(
                Segment(
                    name=f["name"], sql=fsql, description=_str(f.get("description"))
                )
            )

        # display long tail shared by every field branch above:
        # value_format_name / value_format, drill_fields, group_label,
        # hidden (ref adapters/lookml.py value_format + drill handling)
        raw_measures = {m.get("name"): m for m in raw.get("measures", [])}
        for met in metrics:
            rm = raw_measures.get(met.name)
            if not rm:
                continue
            met.value_format_name = met.value_format_name or _str(rm.get("value_format_name"))
            met.format = met.format or _str(rm.get("value_format"))
            if rm.get("hidden") in ("yes", True):
                met.public = False
            df = rm.get("drill_fields")
            if isinstance(df, list) and not met.drill_fields:
                met.drill_fields = [str(x) for x in df]
            gl = _str(rm.get("group_label"))
            if gl:
                met.meta = {**(met.meta or {}), "group_label": gl}
        raw_dims = {d.get("name"): d for d in raw.get("dimensions", [])}
        for dim in dims:
            rd = raw_dims.get(dim.name)
            if not rd:
                continue
            dim.value_format_name = dim.value_format_name or _str(rd.get("value_format_name"))
            dim.format = dim.format or _str(rd.get("value_format"))
            gl = _str(rd.get("group_label"))
            if gl:
                dim.meta = {**(dim.meta or {}), "group_label": gl}
            # display metadata the reference also stashes on dim meta
            # (ref adapters/lookml.py:2550-2556)
            if rd.get("order_by_field"):
                dim.meta = {**(dim.meta or {}),
                            "order_by_field": rd["order_by_field"]}
            if rd.get("can_filter") in ("no", False):
                dim.meta = {**(dim.meta or {}), "can_filter": False}

        derived = raw.get("derived_table") or {}
        table = raw.get("sql_table_name")
        if isinstance(table, str):
            table = _strip_liquid(table, param_defaults) or None
        derived_sql = derived.get("sql")
        if isinstance(derived_sql, str):
            derived_sql = _strip_liquid(derived_sql, param_defaults) or None
        meta = None
        if not derived_sql and derived.get("explore_source"):
            # native derived table: the query is declared over an explore;
            # resolved AFTER explores register (see _resolve_ndts) by
            # compiling the semantic query through this layer — the
            # reference can only stub these as comments
            # (ref adapters/lookml.py:2861-2918)
            meta = {"lookml_ndt": derived["explore_source"]}
            if derived.get("derived_columns"):
                meta["lookml_derived_columns"] = derived["derived_columns"]
        return Model(
            name=name,
            table=table,
            sql=derived_sql,
            primary_key=(pk[0] if len(pk) == 1 else pk) if pk else "id",
            dimensions=dims,
            metrics=metrics,
            segments=segments,
            description=_str(raw.get("description")),
            meta=meta,
        )

    def _measure_filters(
        self, m: dict, view: str, dim_sql: dict[str, str]
    ) -> list[str]:
        """``filters: [status: "delivered", amount: ">500"]`` ->
        qualified filter SQL (Looker filter-expression subset)."""
        out = []
        raw = m.get("filters")
        if isinstance(raw, dict):  # legacy `filters: { field: f value: v }`
            f, v = raw.get("field"), raw.get("value")
            raw = [f"{f}: \"{v}\""] if f and v else []
        for item in raw or []:
            fm = re.match(r"\s*([\w.]+)\s*:\s*\"?(.*?)\"?\s*$", item)
            if not fm:
                continue
            field, val = fm.group(1), fm.group(2)
            ref = field if "." in field else f"{view}.{field}"
            out.append(_filter_condition_sql(ref, val))
        return out

    def _apply_explore(self, layer, explore: dict) -> None:
        base = explore.get("from") or explore.get("view_name") or explore["name"]
        if base not in layer.graph.models:
            return
        base_model = layer.graph.models[base]
        # explore-level display properties ride on the base model's meta
        # (reference adapters/lookml.py:3856-3864); description falls
        # back onto a model that has none
        explore_meta = {}
        if _str(explore.get("label")):
            explore_meta["explore_label"] = _str(explore.get("label"))
        if _str(explore.get("group_label")):
            explore_meta["explore_group_label"] = _str(explore.get("group_label"))
        if explore_meta:
            base_model.meta = {**(base_model.meta or {}), **explore_meta}
        if _str(explore.get("description")) and not base_model.description:
            base_model.description = _str(explore.get("description"))
        # explore-level mandatory filter: sql_always_where is scoped to
        # THIS explore (other explores and direct model queries must not
        # inherit it), so it becomes the Explore contract's mandatory
        # filter — the joined scope also lets it reference joined views
        mandatory: list[str] = []
        saw = explore.get("sql_always_where")
        if isinstance(saw, str) and saw.strip():
            cond = _strip_liquid(saw)
            cond = cond.replace("${TABLE}.", f"{base}.")
            cond = re.sub(r"\$\{(\w+)\.(\w+)\}", r"\1.\2", cond)
            cond = re.sub(r"\$\{(\w+)\}", rf"{base}.\1", cond)
            if cond.strip():
                mandatory.append(cond.strip())
            # the filter ALSO materializes as an opt-in segment on the
            # base model, named per explore for uniqueness (reference
            # adapters/lookml.py:3891-3907 converts both mandatory
            # filter forms to segments); segments evaluate inside the
            # model CTE, so every field ref collapses to {model}.col
            seg_sql = _strip_liquid(saw).replace("${TABLE}.", "{model}.")
            seg_sql = re.sub(r"\$\{(\w+)\.(\w+)\}", r"{model}.\2", seg_sql)
            seg_sql = re.sub(r"\$\{(\w+)\}", r"{model}.\1", seg_sql)
            seg_name = f"_sql_always_where_{explore['name']}"
            if seg_sql.strip() and all(
                s.name != seg_name for s in base_model.segments
            ):
                base_model.segments.append(Segment(
                    name=seg_name,
                    sql=seg_sql.strip(),
                    description=f"Explore filter: {explore['name']}",
                ))
        # always_filter: the explore's required filters — each becomes
        # a segment on the base model (reference adapters/lookml.py:
        # 3909-3940, field refs stripped to the bare column) and joins
        # the explore contract's mandatory filter set
        for field, value in _always_filter_items(explore.get("always_filter")):
            bare = field.rsplit(".", 1)[-1]
            cond = _filter_condition_sql("{model}." + bare, value)
            seg_name = f"_always_filter_{explore['name']}_{field}"
            if cond and all(s.name != seg_name for s in base_model.segments):
                base_model.segments.append(Segment(
                    name=seg_name,
                    sql=cond,
                    description=f"Always filter: {field}",
                ))
            if cond:
                mandatory.append(cond.replace("{model}.", f"{base}."))
        base_model.reindex()
        # the explore itself is a curated consumption contract
        from sidemantic_spark.core.consumption import Explore as _Explore

        if explore["name"] not in layer.graph.explores:
            fields = [f for f in explore.get("fields") or []
                      if isinstance(f, str) and "." in f and "*" not in f]
            layer.graph.explores[explore["name"]] = _Explore(
                name=explore["name"],
                model=base,
                label=_str(explore.get("label")),
                description=_str(explore.get("description")),
                allowed_dimensions=fields or None,
                allowed_metrics=fields or None,
                filters=mandatory,
            )
        # explore/join aliases: `explore: orders { from: fact_orders }`
        # and `join: customer_orders { from: fact_orders }` reference the
        # ALIAS in sql_on; resolve every alias to its actual view before
        # matching (reference adapters/lookml.py explore from-aliasing,
        # tests/adapters/lookml/test_edge_cases.py:113-140)
        alias_of: dict[str, str] = {explore["name"]: base}
        for j in explore.get("joins", []):
            alias_of[j["name"]] = j.get("from") or j["name"]

        def _dealias(sql_on: str) -> str:
            return re.sub(
                r"\$\{(\w+)\.(\w+)\}",
                lambda m: "${" + alias_of.get(m.group(1), m.group(1))
                + "." + m.group(2) + "}",
                sql_on,
            )

        for j in explore.get("joins", []):
            jname = j.get("from") or j["name"]
            if jname not in layer.graph.models:
                continue
            rel_type = j.get("relationship", "many_to_one")
            sql_on = j.get("sql_on")
            if not sql_on:
                continue
            sql_on = _dealias(sql_on)
            cond = re.fullmatch(
                r"\s*\$\{(\w+)\.(\w+)\}\s*=\s*\$\{(\w+)\.(\w+)\}\s*", sql_on
            )
            if cond:
                av, ac, bv, bc = cond.groups()
                # orient so `left` is the non-joined side of the ON
                if av == jname and bv != jname:
                    av, ac, bv, bc = bv, bc, av, ac
                if bv != jname or av not in layer.graph.models:
                    continue
                left = layer.graph.get_model(av)
                if any(r.name == jname for r in left.relationships):
                    continue
                if rel_type == "many_to_one":
                    rel = Relationship(
                        name=jname, type="many_to_one", foreign_key=ac, primary_key=bc
                    )
                elif rel_type == "one_to_many":
                    rel = Relationship(
                        name=jname, type="one_to_many", foreign_key=bc, primary_key=ac
                    )
                elif rel_type == "one_to_one":
                    rel = Relationship(
                        name=jname, type="one_to_one", foreign_key=ac, primary_key=bc
                    )
                else:  # many_to_many without junction: custom equi-join
                    rel = Relationship(
                        name=jname,
                        type="many_to_one",
                        sql="{from}." + ac + " = {to}." + bc,
                    )
                left.relationships.append(rel)
                layer.graph._invalidate()
            else:
                # complex ON: custom join SQL on the explore base
                left = layer.graph.get_model(base)
                if any(r.name == jname for r in left.relationships):
                    continue
                custom = re.sub(r"\$\{" + re.escape(base) + r"\.(\w+)\}", r"{from}.\1", sql_on)
                custom = re.sub(r"\$\{" + re.escape(jname) + r"\.(\w+)\}", r"{to}.\1", custom)
                custom = re.sub(r"\$\{(\w+)\.(\w+)\}", r"\1.\2", custom)
                left.relationships.append(
                    Relationship(
                        name=jname,
                        type=j.get("relationship", "many_to_one"),
                        sql=custom,
                    )
                )
                layer.graph._invalidate()


def _str(v) -> str | None:
    return v if isinstance(v, str) else None


def _tier_case_sql(base: str, tiers, style: str | None) -> str | None:
    """Looker ``type: tier`` -> CASE bucketing with the documented
    label styles (classic default, integer, relational, interval).
    Buckets are [lo, hi): below the first tier, one bucket per
    consecutive pair, and a final open bucket at the top. Labels sort
    lexically, not numerically — same caveat as Looker's own output."""
    if not isinstance(tiers, (list, tuple)) or not tiers:
        return None
    try:
        vals = [float(t) for t in tiers]
    except (TypeError, ValueError):
        return None

    def fmt(v: float) -> str:
        return str(int(v)) if float(v).is_integer() else str(v)

    b = f"({base})" if re.search(r"[^\w.]", base) else base
    st = (style or "classic").lower()
    if st == "relational":
        below, above = f"< {fmt(vals[0])}", f">= {fmt(vals[-1])}"
    else:
        below, above = f"Below {fmt(vals[0])}", f"{fmt(vals[-1])} or Above"
    parts = [f"WHEN {b} < {fmt(vals[0])} THEN '{below}'"]
    for lo, hi in zip(vals, vals[1:]):
        if st == "integer":
            label = f"{fmt(lo)} to {fmt(hi - 1)}"
        elif st == "relational":
            label = f">= {fmt(lo)} and < {fmt(hi)}"
        elif st == "interval":
            label = f"[{fmt(lo)}, {fmt(hi)})"
        else:  # classic
            label = f"{fmt(lo)} to {fmt(hi)}"
        parts.append(f"WHEN {b} < {fmt(hi)} THEN '{label}'")
    return "CASE " + " ".join(parts) + f" ELSE '{above}' END"


def _fiscal_offset_int(fiscal_offset) -> int:
    """``fiscal_month_offset`` as an int (months the fiscal year starts
    after January; bad/absent values mean calendar, offset 0)."""
    try:
        return int(fiscal_offset) if fiscal_offset is not None else 0
    except (TypeError, ValueError):
        return 0


def _timeframe_sql(tf: str, base: str, fiscal_offset=None) -> str:
    """Looker timeframe field -> Spark SQL over the group's base expr
    (generated fields like created_date / created_month / created_week_of_year).

    Fiscal timeframes honor the group's ``fiscal_month_offset`` (ref
    adapters/lookml.py:2801-2857): truncations shift the timestamp back
    by the offset so calendar DATE_TRUNC lands on fiscal boundaries;
    extracted parts use PMOD so month 1 of an offset-3 fiscal year is
    April (Spark's %% is sign-of-dividend, which would go negative)."""
    b = f"({base})" if re.search(r"[^\w.]", base) else base
    if tf in ("raw", "time"):
        return b
    if tf == "date":
        return f"CAST({b} AS DATE)"
    if tf in ("week", "month", "quarter", "year", "hour", "minute"):
        return f"DATE_TRUNC('{tf.upper()}', {b})"
    o = _fiscal_offset_int(fiscal_offset)
    fb = f"({b} - INTERVAL {o} MONTH)" if o else b
    return {
        "day_of_month": f"DAY({b})",
        "day_of_year": f"DAYOFYEAR({b})",
        # Looker day_of_week is the day NAME; the index is Monday=0
        # (Spark DAYOFWEEK is Sunday=1)
        "day_of_week": f"DATE_FORMAT({b}, 'EEEE')",
        "day_of_week_index": f"(DAYOFWEEK({b}) + 5) % 7",
        "month_num": f"MONTH({b})",
        "month_name": f"DATE_FORMAT({b}, 'MMMM')",
        "week_of_year": f"WEEKOFYEAR({b})",
        "year_num": f"YEAR({b})",
        "hour_of_day": f"HOUR({b})",
        "quarter_of_year": f"QUARTER({b})",
        "fiscal_quarter": f"DATE_TRUNC('QUARTER', {fb})",
        "fiscal_year": f"DATE_TRUNC('YEAR', {fb})",
        "fiscal_month_num": f"(PMOD(MONTH({b}) - 1 - {o}, 12) + 1)",
        "fiscal_quarter_of_year":
            f"(FLOOR(PMOD(MONTH({b}) - 1 - {o}, 12) / 3) + 1)",
    }.get(tf, b)


# extracted-part / fiscal timeframes that the engine's ``dim__grain``
# mechanism cannot express, so a dimension_group declaring them gets a
# materialized `{group}_{timeframe}` dimension (plain truncations stay
# grain-suffix queries and are NOT materialized — engine-idiomatic
# where the reference emits one dimension per timeframe)
_PART_TIMEFRAMES = {
    "day_of_month": "numeric",
    "day_of_year": "numeric",
    "day_of_week": "categorical",
    "day_of_week_index": "numeric",
    "month_num": "numeric",
    "month_name": "categorical",
    "week_of_year": "numeric",
    "year_num": "numeric",
    "hour_of_day": "numeric",
    "quarter_of_year": "numeric",
    "fiscal_month_num": "numeric",
    "fiscal_quarter_of_year": "numeric",
}
_FISCAL_TRUNC_TIMEFRAMES = {"fiscal_quarter": "quarter", "fiscal_year": "year"}


# ---------------------------------------------------------------------------
# export (reference adapters/lookml.py export path: every adapter is
# parse/export/validate per adapters/base.py:9)
# ---------------------------------------------------------------------------

_DIM_TYPE_OUT = inverse(_DIM_TYPES)
# LookML has no approximate distinct count: write the exact one
_AGG_OUT = {**inverse(_MEASURE_AGGS), "approx_count_distinct": "count_distinct"}

_EQ_FILTER_RE = re.compile(r"^\s*(?:[\w]+\.)?(\w+)\s*=\s*'([^']*)'\s*$")


def _lk_sql(expr: str) -> str:
    """Simple column -> ``${TABLE}.col``; expressions stay verbatim
    (the importer's resolve() strips ``${TABLE}.`` back off)."""
    return f"${{TABLE}}.{expr}" if re.fullmatch(r"\w+", expr) else expr


def export_lookml(graph) -> str:
    """Serialize the graph as LookML views + explores.

    Lossless for the subset both directions support: tables/derived
    tables, the 4 dimension types (time -> dimension_group), simple
    aggregate measures (+ equality metric filters), derived measures
    (type: number), ratio measures (exported as a safe-divide number
    formula), segments (filter blocks), and fk/pk relationships
    (explore joins). Window/funnel/retention/cohort metric types have
    no LookML equivalent and are skipped with a comment."""
    out: list[str] = []
    for model in graph.models.values():
        out.append(f"view: {model.name} {{")
        if model.table:
            out.append(f"  sql_table_name: {model.table} ;;")
        elif model.sql:
            out.append("  derived_table: {")
            out.append(f"    sql: {model.sql} ;;")
            out.append("  }")
        pks = model.primary_key if isinstance(model.primary_key, list) else [model.primary_key]
        for d in model.dimensions:
            expr = d.sql or d.name
            if d.type == "time":
                out.append(f"  dimension_group: {d.name} {{")
                out.append("    type: time")
            else:
                out.append(f"  dimension: {d.name} {{")
                out.append(f"    type: {_DIM_TYPE_OUT.get(d.type, 'string')}")
            out.append(f"    sql: {_lk_sql(expr)} ;;")
            if expr in pks or d.name in pks:
                out.append("    primary_key: yes")
            if d.description:
                out.append(f'    description: "{d.description}"')
            if not d.public:
                out.append("    hidden: yes")
            out.append("  }")
        for m in model.metrics:
            if m.is_simple and m.agg in _AGG_OUT:
                out.append(f"  measure: {m.name} {{")
                out.append(f"    type: {_AGG_OUT[m.agg]}")
                if m.sql:
                    out.append(f"    sql: {_lk_sql(m.sql)} ;;")
                eq_filters = []
                for f in m.filters:
                    fm = _EQ_FILTER_RE.match(f)
                    if fm:
                        eq_filters.append(f'{fm.group(1)}: "{fm.group(2)}"')
                if eq_filters and len(eq_filters) == len(m.filters):
                    out.append("    filters: [" + ", ".join(eq_filters) + "]")
                if m.description:
                    out.append(f'    description: "{m.description}"')
                out.append("  }")
            elif m.type == "derived" and m.expr:
                out.append(f"  measure: {m.name} {{")
                out.append("    type: number")
                out.append(f"    sql: {m.expr} ;;")
                out.append("  }")
            elif m.type == "ratio" and m.numerator and m.denominator:
                num = m.numerator.rsplit(".", 1)[-1]
                den = m.denominator.rsplit(".", 1)[-1]
                out.append(f"  measure: {m.name} {{")
                out.append("    type: number")
                out.append(f"    sql: {num} / NULLIF({den}, 0) ;;")
                out.append("  }")
            else:
                out.append(f"  # measure {m.name}: {m.type or m.agg} has no LookML equivalent")
        for s in model.segments:
            fsql = s.sql.replace("{model}.", "${TABLE}.")
            out.append(f"  filter: {s.name} {{")
            out.append(f"    sql: {fsql} ;;")
            out.append("  }")
        out.append("}")
        out.append("")

    for model in graph.models.values():
        rels = [
            r
            for r in model.relationships
            if r.type in ("many_to_one", "one_to_one", "one_to_many") or r.sql
        ]
        if not rels:
            continue
        out.append(f"explore: {model.name} {{")
        for r in rels:
            out.append(f"  join: {r.name} {{")
            rel_type = r.type if r.type in ("many_to_one", "one_to_one", "one_to_many") else "many_to_one"
            out.append(f"    relationship: {rel_type}")
            if r.sql:
                cond = re.sub(r"\{from\}\.(\w+)", rf"${{{model.name}.\1}}", r.sql)
                cond = re.sub(r"\{to\}\.(\w+)", rf"${{{r.name}.\1}}", cond)
                out.append(f"    sql_on: {cond} ;;")
            else:
                fks = r.foreign_key if isinstance(r.foreign_key, list) else [r.foreign_key]
                pks_r = r.primary_key if isinstance(r.primary_key, list) else [r.primary_key]
                pks_r = [p or "id" for p in pks_r]
                if r.type == "one_to_many":
                    conds = [
                        f"${{{model.name}.{p}}} = ${{{r.name}.{f}}}"
                        for f, p in zip(fks, pks_r)
                    ]
                else:
                    conds = [
                        f"${{{model.name}.{f}}} = ${{{r.name}.{p}}}"
                        for f, p in zip(fks, pks_r)
                    ]
                out.append(f"    sql_on: {' AND '.join(conds)} ;;")
            out.append("  }")
        out.append("}")
        out.append("")
    return "\n".join(out)
