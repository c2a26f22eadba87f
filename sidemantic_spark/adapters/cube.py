"""Cube (cube.dev) importer.

Maps the Cube YAML data-model (reference ``adapters/cube.py``; public
schema docs cube.dev/docs/product/data-modeling) onto our graph:

- cube -> Model (``sql_table`` -> table, ``sql`` -> derived SQL)
- dimensions -> Dimension (type time/string/number/boolean mapped to
  our 4 semantic types; ``primary_key: true`` collected into the model
  pk, composite supported)
- measures -> Metric (type = agg, ``number`` with sql -> derived
  expression; per-measure ``filters``)
- joins -> Relationship (cube relationship names ``one_to_many`` /
  ``many_to_one`` / ``one_to_one`` plus legacy ``belongsTo`` /
  ``hasMany`` / ``hasOne``; join sql kept as custom condition with
  ``{from}``/``{to}`` placeholders)
- segments -> Segment; pre_aggregations (rollup) -> PreAggregation

Views and dashboards are skipped; ``{CUBE}`` placeholders resolve to
CTE-scoped bare columns.
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import (
    AGG_TYPES,
    AdapterError,
    BaseAdapter,
    inverse,
    strip_cube_placeholders,
)
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship, Segment
from sidemantic_spark.preagg.matcher import PreAggregation, RefreshKey

_REL_MAP = {
    "one_to_many": "one_to_many",
    "many_to_one": "many_to_one",
    "one_to_one": "one_to_one",
    "many_to_many": "many_to_many",
    "hasMany": "one_to_many",
    "has_many": "one_to_many",
    "belongsTo": "many_to_one",
    "belongs_to": "many_to_one",
    "hasOne": "one_to_one",
    "has_one": "one_to_one",
}

# Cube dimension type -> ours; exports use the first listed
_DIM_TYPES = {
    "time": "time",
    "string": "categorical",
    "number": "numeric",
    "boolean": "boolean",
    "geo": "categorical",
}

# Cube display format names -> our value_format_name vocabulary
_CUBE_FORMATS = {"percent": "percent", "currency": "usd"}


def _sql_literal(v) -> str:
    """SQL literal with quote doubling so a value cannot break out of
    the fragment; numbers stay unquoted."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _cube_filter_to_sql(
    member: str, operator: str, values, qualifier: str | None = None
) -> str | None:
    """One Cube {member, operator, values} filter -> SQL fragment, or
    None when there is no mechanical translation (the caller records it
    as unmapped). ``{CUBE}.col`` / ``{cube}.col`` prefixes reduce to the
    bare column; callers scope the fragment to the owning model. Cube
    also allows DYNAMIC values (``values: security_context.x``), which
    arrive as a string — those must be unmapped, never iterated
    character by character into a garbage IN-list (ref
    tests/adapters/test_security_import.py test_cube_dynamic_values)."""
    col = re.sub(r"^\$?\{[^}]*\}\.", "", member or "")
    col = col.split(".")[-1] if "." in col else col
    op = (operator or "").strip()
    if not col:
        return None
    if qualifier:
        col = f"{qualifier}.{col}"
    if op in ("set", "notSet"):
        vals: list = []
    elif isinstance(values, (list, tuple)):
        vals = list(values)
    else:
        return None
    if op in ("equals", "in"):
        if len(vals) == 1:
            return f"{col} = {_sql_literal(vals[0])}"
        return f"{col} IN ({', '.join(_sql_literal(v) for v in vals)})" if vals else None
    if op in ("notEquals", "notIn"):
        if len(vals) == 1:
            return f"{col} != {_sql_literal(vals[0])}"
        return f"{col} NOT IN ({', '.join(_sql_literal(v) for v in vals)})" if vals else None
    if op == "contains":
        return " OR ".join(f"{col} LIKE {_sql_literal('%' + str(v) + '%')}" for v in vals) if vals else None
    if op == "notContains":
        return " AND ".join(f"{col} NOT LIKE {_sql_literal('%' + str(v) + '%')}" for v in vals) if vals else None
    if op == "startsWith":
        return " OR ".join(f"{col} LIKE {_sql_literal(str(v) + '%')}" for v in vals) if vals else None
    if op == "endsWith":
        return " OR ".join(f"{col} LIKE {_sql_literal('%' + str(v))}" for v in vals) if vals else None
    if op in ("gt", "gte", "lt", "lte") and vals:
        sql_op = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}[op]
        return f"{col} {sql_op} {_sql_literal(vals[0])}"
    if op == "set":
        return f"{col} IS NOT NULL"
    if op == "notSet":
        return f"{col} IS NULL"
    return None


_ROLE_NAME_RE = re.compile(r"^[A-Za-z0-9_\-. ]+$")


def _access_policy_to_security(access_policy):
    """Cube ``access_policy`` -> (SecurityPolicy | None, unmapped set).

    Translates the mechanical subset — ``row_level.filters`` — into row
    filters (bare columns: they evaluate inside the model's own CTE).

    Role-scoped policies (r10 VERDICT ask #7): a policy with a plain
    ``role:`` and only ``row_level`` rules translates to a Jinja-guarded
    row filter implementing Cube's union-of-grants semantics — rows a
    user may see are the OR of the ``row_level`` expressions of the
    policies whose role matches ``user.role`` / ``user.roles`` (deny
    when none match, like Cube's deny-by-default once policies exist).
    The repo's row-filter renderer evaluates ``{% if %}`` control flow
    against the live user context, so the grant resolves per query.
    Condition gating (``conditions:``) and member-level rules still
    have no static SQL equivalent; they stay unmapped (warned,
    preserved in meta), and an untranslatable role-scoped policy's
    filters fall back to applying UNCONDITIONALLY (fail-closed: too
    narrow, never too wide).

    Star policies (role ``"*"``/absent) keep their established
    semantics: each policy's expression is its own mandatory row filter
    (AND-ed). Filters inside one policy combine per ``filters_type``
    (default AND); OR groups are parenthesized because separate row
    filters are later ANDed and ``A OR B AND C`` binds as
    ``A OR (B AND C)``."""
    from sidemantic_spark.core.security import SecurityPolicy

    if not isinstance(access_policy, list):
        return None, set()
    row_filters: list[str] = []
    unmapped: set[str] = set()
    role_grants: list[tuple[str, str]] = []  # (role, SQL expr or "TRUE")
    for policy in access_policy:
        if not isinstance(policy, dict):
            continue
        role = policy.get("role")
        role_scoped = role not in (None, "*")
        translatable_role = (
            role_scoped
            and isinstance(role, str)
            and _ROLE_NAME_RE.match(role) is not None
            and not policy.get("conditions")
            and not policy.get("member_level")
        )
        if policy.get("conditions"):
            unmapped.add("conditions")
        if role_scoped and not translatable_role:
            unmapped.add("role")
        if policy.get("member_level"):
            unmapped.add("member_level")
        row_level = policy.get("row_level") or {}
        combine = str(row_level.get("filters_type") or "and").lower()
        fragments: list[str] = []
        failed = False
        for filt in row_level.get("filters") or []:
            if not isinstance(filt, dict):
                continue
            if "and" in filt or "or" in filt:
                unmapped.add("nested_filters")
                failed = True
                continue
            sql = _cube_filter_to_sql(
                filt.get("member", ""), filt.get("operator", ""),
                filt.get("values", []),
            )
            if sql is None:
                unmapped.add(f"operator:{filt.get('operator')}")
                failed = True
            else:
                fragments.append(
                    f"({sql})" if " OR " in sql or " AND " in sql else sql
                )
        if translatable_role:
            if row_level.get("allow_all") or (
                not row_level.get("filters") and not failed
            ):
                role_grants.append((role, "TRUE"))
            elif fragments and not failed:
                joiner = " OR " if combine == "or" else " AND "
                role_grants.append((role, "(" + joiner.join(fragments) + ")"))
            else:
                # partially/fully untranslatable role grant: no grant at
                # all (that role's rows deny) — dropping an AND conjunct
                # would WIDEN access; warned via unmapped
                unmapped.add("role")
            continue
        if not fragments:
            continue
        if len(fragments) == 1:
            row_filters.append(fragments[0])
        elif combine == "or":
            row_filters.append("(" + " OR ".join(fragments) + ")")
        else:
            row_filters.append(" AND ".join(fragments))
    if role_grants:
        # normalize user.roles ONCE: a raw string (comma-joined
        # securityContext shape) splits into exact role names — a bare
        # Jinja `in` on a string would substring-match ('user' in
        # 'superuser') and WIDEN access (review finding: fail-open in a
        # security filter)
        prelude = (
            "{% set __r = user.get('roles', []) %}"
            "{% if __r is string %}"
            "{% set __r = __r.replace(' ', '').split(',') %}"
            "{% endif %}"
        )
        branches = []
        for role, expr in role_grants:
            cond = f"user.get('role') == '{role}' or '{role}' in __r"
            branches.append(
                "{% if " + cond + " %}" + expr + "{% else %}FALSE{% endif %}"
            )
        if len(branches) == 1:
            row_filters.append(prelude + "(" + branches[0] + ")")
        else:
            row_filters.append(prelude + "(" + " OR ".join(branches) + ")")
    if not row_filters:
        return None, unmapped
    return SecurityPolicy(row_filters=row_filters), unmapped


class CubeAdapter(BaseAdapter):
    def _member_filter_sql(self, f: dict, base: str) -> str | None:
        """View-scope filter: shared operator translation, qualified
        with the view's base model so Explore-contract qualification
        resolves it in the joined scope."""
        return _cube_filter_to_sql(
            f.get("member", ""), f.get("operator", ""), f.get("values", []),
            qualifier=base,
        )

    def parse(self, layer, data: dict) -> None:
        for cube in data.get("cubes") or []:
            model = self._parse_cube(cube)
            layer.add_model(model)
        for view in data.get("views") or []:
            self._parse_view(layer, view)

    def _parse_view(self, layer, view: dict) -> None:
        """Cube `views:` are curated query surfaces over a join path
        with optional access policies — the Explore consumption
        contract. Row-level filters for role "*" (everyone) become the
        explore's mandatory filters; role-scoped policies have no
        user context at import time and are skipped."""
        from sidemantic_spark.core.consumption import Explore

        name = view.get("name")
        cubes = view.get("cubes") or []
        if not name or not cubes:
            return
        base = str(cubes[0].get("join_path") or "").split(".")[0]
        if not base:
            return
        filters: list[str] = []
        for policy in view.get("access_policy") or []:
            if policy.get("role") not in ("*", None):
                continue  # role-scoped: needs per-user context
            rl = policy.get("row_level") or {}
            if rl.get("allow_all"):
                continue
            for f in rl.get("filters") or []:
                sql = self._member_filter_sql(f, base)
                if sql:
                    filters.append(sql)
        # view default_filters: pre-applied when the caller supplies no
        # filters of their own (overridable — unlike the access-policy
        # filters above, which are mandatory). The reference stores
        # these as inert metadata with a warning (ref adapters/cube.py
        # "view default_filters ... not applied to queries"); the
        # Explore contract applies them for real.
        default_filters: list[str] = []
        for f in view.get("default_filters") or []:
            sql = self._member_filter_sql(f, base)
            if sql:
                default_filters.append(sql)
        # includes "*" on every join_path entry = unrestricted fields.
        # Otherwise the view curates a field surface: explicit includes
        # lists allow those fields, and a `*` cube inside a restricted
        # view contributes ALL of its fields (cubes are parsed before
        # views, so the model is resolvable from the layer).  Includes
        # entries are split into dimension vs metric allowlists by
        # looking the field up on its cube — Explore enforces both.
        restricted_dims: list[str] | None = None
        restricted_mets: list[str] | None = None
        if any(
            c.get("includes") not in ("*", None) or c.get("excludes")
            for c in cubes
        ):
            restricted_dims, restricted_mets = [], []
            for c in cubes:
                root = str(c.get("join_path") or "").split(".")[-1]
                inc = c.get("includes")
                # excludes filters both the `*` expansion and explicit
                # lists (ref adapters/cube.py:1315-1334)
                exc = set(c.get("excludes") or [])
                cube_model = layer.graph.models.get(root)
                if inc in ("*", None):
                    if cube_model is None:
                        continue
                    restricted_dims += [
                        f"{root}.{d.name}" for d in cube_model.dimensions
                        if d.name not in exc
                    ]
                    restricted_mets += [
                        f"{root}.{m.name}" for m in cube_model.metrics
                        if m.name not in exc
                    ]
                    continue
                if isinstance(inc, list):
                    for i in inc:
                        # dict entries carry {name, alias}: the original
                        # member is exposed (aliasing is view-naming
                        # cosmetics; the Explore surface is qualified)
                        if isinstance(i, dict):
                            i = i.get("name")
                        if not isinstance(i, str) or i in exc:
                            continue
                        if cube_model is not None and cube_model.metric(i) is not None:
                            restricted_mets.append(f"{root}.{i}")
                        else:
                            restricted_dims.append(f"{root}.{i}")
        try:
            layer.add_explore(Explore(
                name=name, model=base,
                description=view.get("description"),
                filters=filters,
                default_filters=default_filters,
                allowed_dimensions=restricted_dims,
                allowed_metrics=restricted_mets,
            ))
        except Exception:
            pass

    def _parse_cube(self, cube: dict) -> Model:
        name = cube.get("name")
        if not name:
            raise AdapterError("cube missing name")

        pk: list[str] = []
        dims: list[Dimension] = []
        for d in cube.get("dimensions") or []:
            sql = strip_cube_placeholders(d.get("sql"), name)
            # calendar cubes (ref adapters/cube.py:726-731, 805-815):
            # custom granularity NAMES become supported_granularities;
            # their sql/interval/origin definitions and dimension-level
            # time_shift have no first-class equivalent and are
            # preserved in meta so the import is lossy-but-visible,
            # not silent
            custom_grans = d.get("granularities")
            supported = None
            meta = d.get("meta")
            if isinstance(custom_grans, list):
                supported = [
                    g.get("name")
                    for g in custom_grans
                    if isinstance(g, dict) and g.get("name")
                ] or None
                if any(
                    isinstance(g, dict)
                    and ("sql" in g or "interval" in g or "origin" in g)
                    for g in custom_grans
                ):
                    meta = dict(meta) if isinstance(meta, dict) else {}
                    meta["custom_granularities"] = custom_grans
            if d.get("time_shift") is not None:
                meta = dict(meta) if isinstance(meta, dict) else {}
                meta["time_shift"] = d.get("time_shift")
            if d.get("sub_query") is not None:
                # measure-as-dimension over a joined cube: no first-class
                # equivalent — preserved so export round-trips it
                # (ref adapters/cube.py:789-797)
                meta = dict(meta) if isinstance(meta, dict) else {}
                meta["cube_sub_query"] = d.get("sub_query")
            # case/when/else dimensions compile to a SQL CASE expression
            # (ref adapters/cube.py:735-748); without this the imported
            # dimension would resolve to a nonexistent bare column
            case_def = d.get("case")
            if isinstance(case_def, dict) and not sql:
                parts = []
                for w in case_def.get("when") or []:
                    cond = strip_cube_placeholders(w.get("sql"), name)
                    if not cond:
                        # a branch with no condition would emit the
                        # literal token None — invalid SQL that only
                        # explodes at first query
                        continue
                    lbl = str(w.get("label", "")).replace("'", "''")
                    parts.append(f"WHEN {cond} THEN '{lbl}'")
                has_when = bool(parts)
                else_def = case_def.get("else") or {}
                if else_def:
                    lbl = str(else_def.get("label", "Unknown")).replace("'", "''")
                    parts.append(f"ELSE '{lbl}'")
                # a searched CASE needs at least one WHEN to be valid
                if has_when:
                    sql = "CASE " + " ".join(parts) + " END"
            # switch values / mask / currency / geo lat+long have no
            # first-class field: preserve in meta, lossy-but-visible
            # (ref adapters/cube.py:756-780)
            extras = {
                k: d.get(k)
                for k in ("mask", "currency", "latitude", "longitude")
                if d.get(k) is not None
            }
            if d.get("type") == "switch" and d.get("values") is not None:
                extras["switch_values"] = d.get("values")
            if extras:
                meta = dict(meta) if isinstance(meta, dict) else {}
                meta.update(extras)
            dim = Dimension(
                name=d["name"],
                type=_DIM_TYPES.get(d.get("type", "string"), "categorical"),
                sql=None if sql == d["name"] else sql,
                description=d.get("description"),
                label=d.get("title"),
                format=d.get("format") if isinstance(d.get("format"), str) else None,
                value_format_name=_CUBE_FORMATS.get(d.get("format"))
                if isinstance(d.get("format"), str) else None,
                public=d.get("public", not d.get("shown") is False),
                supported_granularities=supported or [],
                meta=meta,
            )
            dims.append(dim)
            if d.get("primary_key") or d.get("primaryKey"):
                pk.append(d["name"] if dim.sql is None else dim.sql)

        metrics: list[Metric] = []
        for m in cube.get("measures") or []:
            mtype = m.get("type", "count")
            sql = strip_cube_placeholders(m.get("sql"), name)
            # metric filters evaluate in the joined scope -> qualify
            # {CUBE} refs with the model name
            filters = [
                _qualify_scope(f["sql"], name)
                for f in (m.get("filters") or [])
                if f.get("sql")
            ]
            # measure-level time_shift -> time_comparison metric when the
            # sql is a bare {measure} ref (ref adapters/cube.py:971-996)
            ts_def = m.get("time_shift")
            if ts_def and isinstance(ts_def, list) and ts_def:
                ts = ts_def[0]
                base_match = re.match(r"^\s*\{(\w+)\}\s*$", m.get("sql") or "")
                if (
                    ts.get("type") == "prior"
                    and ts.get("interval")
                    and base_match
                ):
                    interval = str(ts["interval"])
                    comparison_map = {
                        "1 year": "yoy", "1 month": "mom", "1 week": "wow",
                        "1 day": "dod", "1 quarter": "qoq",
                    }
                    metrics.append(Metric(
                        name=m["name"],
                        type="time_comparison",
                        base_metric=f"{name}.{base_match.group(1)}",
                        comparison_type=comparison_map.get(interval, "prior_period"),
                        time_offset=(
                            None if interval in comparison_map else interval
                        ),
                        description=m.get("description"),
                    ))
                    continue
            common = dict(
                filters=filters,
                description=m.get("description"),
                label=m.get("title"),
                format=m.get("format") if isinstance(m.get("format"), str) else None,
                value_format_name=_CUBE_FORMATS.get(m.get("format"))
                if isinstance(m.get("format"), str) else None,
                drill_fields=[_leaf(x) for x in m.get("drill_members") or []],
                public=m.get("public", not m.get("shown") is False),
                meta=m.get("meta") if isinstance(m.get("meta"), dict) else None,
            )
            # rolling_window -> cumulative: trailing interval or to_date
            # grain (ref adapters/cube.py:936-952). ``leading`` compiles
            # to a real RANGE ... FOLLOWING frame (the reference only
            # preserves it in meta with a not-applied warning —
            # ref :948-960); ``offset`` (start|end window anchor) stays
            # meta-only, matching the reference
            rw = m.get("rolling_window")
            if isinstance(rw, dict) and mtype in AGG_TYPES:
                extra = {k: rw[k] for k in ("leading", "offset") if rw.get(k)}
                if extra:
                    common["meta"] = dict(common["meta"] or {},
                                          cube_rolling_window=extra)
                trailing = rw.get("trailing")
                leading = rw.get("leading")
                window_frame = None
                if leading:
                    from sidemantic_spark.sql.fragments import interval_sql

                    def _bound(text: str, default_dir: str) -> str:
                        # Cube allows negative intervals ('-1 month'
                        # leading = window ends a month BEFORE the
                        # anchor); a sign flips the frame direction
                        s = str(text).strip()
                        neg = s.startswith("-")
                        iv = interval_sql(s.lstrip("-").strip())
                        flip = {"PRECEDING": "FOLLOWING",
                                "FOLLOWING": "PRECEDING"}
                        return f"{iv} {flip[default_dir] if neg else default_dir}"

                    start = (
                        "UNBOUNDED PRECEDING"
                        if trailing in (None, "unbounded")
                        else _bound(trailing, "PRECEDING")
                    )
                    end = (
                        "UNBOUNDED FOLLOWING"
                        if leading == "unbounded"
                        else _bound(leading, "FOLLOWING")
                    )
                    window_frame = f"RANGE BETWEEN {start} AND {end}"
                if rw.get("offset") not in (None, "end"):
                    import warnings as _warnings

                    _warnings.warn(
                        f"Cube measure {m['name']!r} uses rolling_window "
                        "offset: start, which is preserved in meta but not "
                        "applied to results",
                        stacklevel=2,
                    )
                metrics.append(Metric(
                    name=m["name"],
                    type="cumulative",
                    agg=AGG_TYPES[mtype],
                    sql=sql,
                    window=trailing if trailing not in (None, "unbounded") else None,
                    window_frame=window_frame,
                    grain_to_date=rw.get("granularity")
                    if rw.get("type") == "to_date" else None,
                    **common,
                ))
                continue
            if mtype in AGG_TYPES:
                metrics.append(Metric(
                    name=m["name"],
                    agg=AGG_TYPES[mtype],
                    sql=sql,
                    **common,
                ))
            elif mtype == "number":
                # formula over other measures / raw SQL
                metrics.append(Metric(
                    name=m["name"],
                    type="derived",
                    expr=sql,
                    **common,
                ))
            elif mtype == "rank" and m.get("order_by"):
                # Cube/Tesseract rank measures: a REAL windowed rank
                # over the ordered base measure(s) via the engine's
                # derived-over-aggregate windows — the reference
                # imports these as a lossy COUNT fallback with a
                # warning (ref adapters/cube.py:885-903). reduce_by /
                # multi_stage ride in meta for round-trip.
                items = []
                for ob in m.get("order_by") or []:
                    if isinstance(ob, dict):
                        ref = ob.get("sql") or ob.get("member") or ""
                        direction = str(ob.get("dir", "desc"))
                    else:
                        ref, direction = str(ob), "desc"
                    ref = re.sub(r"^\{(\w+)\}$",
                                 r"\1", strip_cube_placeholders(ref, name) or "")
                    if ref:
                        items.append(
                            f"{ref} {'ASC' if direction.lower() == 'asc' else 'DESC'}"
                        )
                extra = {
                    k: m.get(k) for k in ("reduce_by", "multi_stage")
                    if m.get(k) is not None
                }
                if extra:
                    common["meta"] = dict(common["meta"] or {},
                                          cube_rank=extra)
                metrics.append(Metric(
                    name=m["name"], type="derived",
                    expr=f"RANK() OVER (ORDER BY {', '.join(items)})",
                    **common,
                ))
            else:  # unsupported measure types parse as opaque derived
                metrics.append(Metric(name=m["name"], type="derived", expr=sql,
                                      **common))

        rels: list[Relationship] = []
        for j in cube.get("joins") or []:
            rel_type = _REL_MAP.get(j.get("relationship", "many_to_one"))
            if rel_type is None:
                # warn + default rather than failing a whole project
                # import over one odd join (ref adapters/cube.py
                # test_unknown_relationship_warns_and_defaults)
                import warnings as _warnings

                _warnings.warn(
                    f"cube {name!r}: unknown relationship "
                    f"{j.get('relationship')!r} on join {j.get('name')!r}; "
                    "defaulting to many_to_one",
                    stacklevel=2,
                )
                rel_type = "many_to_one"
            sql = j.get("sql")
            fk = pk_col = None
            custom = None
            if sql:
                cond = self._join_condition(sql, name, j["name"])
                fk, pk_col, custom = cond
            rels.append(Relationship(
                name=j["name"], type=rel_type,
                foreign_key=fk, primary_key=pk_col, sql=custom,
            ))

        segments = [
            Segment(
                name=s["name"],
                # keep the {model} placeholder: the generator resolves it
                # when the segment is applied (ref core/segment.py:28-36)
                sql=(s.get("sql") or "TRUE").replace("{CUBE}", "{model}").replace(
                    f"{{{name}}}", "{model}"
                ),
                description=s.get("description"),
            )
            for s in cube.get("segments") or []
        ]

        preaggs = []
        for pa in cube.get("pre_aggregations") or []:
            pa_type = pa.get("type", "rollup")
            if pa_type == "rollup_lambda":
                pa_type = "lambda"
            if pa_type not in ("rollup", "rollup_join", "original_sql", "lambda"):
                continue
            # refresh policy + build bounds + indexes (ref adapters/
            # cube.py:1192-1240): refresh_key drives full-vs-incremental
            # refresh resolution; indexes map onto the Spark bucketed
            # layout (bucket_by) — the engine-idiomatic rollup index
            rk_def = pa.get("refresh_key") or pa.get("refreshKey")
            refresh_key = None
            if isinstance(rk_def, dict):
                refresh_key = RefreshKey(
                    every=rk_def.get("every"),
                    sql=strip_cube_placeholders(rk_def.get("sql"), name)
                    if rk_def.get("sql") else None,
                    incremental=bool(rk_def.get("incremental", False)),
                    update_window=rk_def.get("update_window")
                    or rk_def.get("updateWindow"),
                )
            bucket_by: list[str] = []
            for idx in pa.get("indexes") or []:
                cols = idx.get("columns") if isinstance(idx, dict) else None
                if cols and not bucket_by:
                    bucket_by = [_leaf(c) for c in cols]

            def _range_sql(key_a: str, key_b: str) -> str | None:
                d = pa.get(key_a) or pa.get(key_b)
                raw = d.get("sql") if isinstance(d, dict) else d
                return strip_cube_placeholders(raw, name) if raw else None

            preaggs.append(PreAggregation(
                name=pa["name"],
                type=pa_type,
                measures=[_leaf(x) for x in pa.get("measures") or []],
                dimensions=[_leaf(x) for x in pa.get("dimensions") or []],
                time_dimension=_leaf(pa.get("time_dimension")) if pa.get("time_dimension") else None,
                granularity=pa.get("granularity", "day"),
                partition_granularity=pa.get("partition_granularity"),
                sql=strip_cube_placeholders(pa.get("sql"), name)
                if pa_type == "original_sql" else None,
                refresh_key=refresh_key,
                build_range_start=_range_sql("build_range_start", "buildRangeStart"),
                build_range_end=_range_sql("build_range_end", "buildRangeEnd"),
                scheduled_refresh=bool(
                    pa.get("scheduled_refresh", pa.get("scheduledRefresh", False))
                ),
                bucket_by=bucket_by,
                buckets=8 if bucket_by else 0,
            ))

        # explicit hierarchies -> parent chains (ref adapters/cube.py
        # :333-348 _apply_hierarchies): levels [a, b, c] sets b.parent=a,
        # c.parent=b unless the dimension already declares a parent
        by_name = {dim.name: dim for dim in dims}
        for h in cube.get("hierarchies") or []:
            levels = h.get("levels") or []
            for i in range(1, len(levels)):
                child, parent = levels[i], levels[i - 1]
                if "." in child or "." in parent:
                    continue
                cd = by_name.get(child)
                if cd is not None and not cd.parent:
                    cd.parent = parent

        # cube-level access_policy: row_level filters import as an
        # ENFORCED SecurityPolicy (ref adapters/cube.py:568-584 — the
        # silent alternative would be importing a secured Cube project
        # into an unsecured model); untranslatable constructs are
        # preserved in meta and warned.
        import warnings as _warnings

        meta = cube.get("meta") if isinstance(cube.get("meta"), dict) else None
        access_policy = cube.get("access_policy")
        security, unmapped = _access_policy_to_security(access_policy)
        if access_policy is not None:
            meta = {**(meta or {}), "access_policy": access_policy}
            if security is None:
                _warnings.warn(
                    f"Cube {name!r}: access_policy could not be translated "
                    "to row filters; preserved in meta only",
                    stacklevel=2,
                )
            elif unmapped:
                _warnings.warn(
                    f"Cube {name!r}: imported {len(security.row_filters)} "
                    "row filter(s); untranslated access_policy constructs "
                    f"({', '.join(sorted(unmapped))}) preserved in meta only",
                    stacklevel=2,
                )

        return Model(
            name=name,
            table=cube.get("sql_table") or cube.get("sqlTable"),
            sql=cube.get("sql"),
            primary_key=(pk[0] if len(pk) == 1 else pk) if pk else "id",
            dimensions=dims,
            metrics=metrics,
            relationships=rels,
            segments=segments,
            pre_aggregations=preaggs,
            description=cube.get("description"),
            label=cube.get("title"),
            extends=cube.get("extends"),
            security=security,
            meta=meta,
        )

    def _join_condition(self, sql: str, this: str, other: str):
        """``{CUBE}.a = {other}.b`` -> (fk=a, pk=b, None); anything more
        complex keeps the whole condition as custom join SQL with
        {from}/{to} placeholders."""
        simple = re.fullmatch(
            r"\s*\{CUBE\}\.(\w+)\s*=\s*\{" + re.escape(other) + r"\}\.(\w+)\s*",
            sql,
        ) or re.fullmatch(
            r"\s*\{" + re.escape(this) + r"\}\.(\w+)\s*=\s*\{" + re.escape(other) + r"\}\.(\w+)\s*",
            sql,
        )
        if simple:
            return simple.group(1), simple.group(2), None
        custom = sql.replace("{CUBE}", "{from}").replace(f"{{{this}}}", "{from}")
        custom = custom.replace(f"{{{other}}}", "{to}")
        custom = re.sub(r"\{CUBE\.(\w+)\}", r"{from}.\1", custom)
        custom = re.sub(r"\{" + re.escape(other) + r"\.(\w+)\}", r"{to}.\1", custom)
        return None, None, custom


def _leaf(ref: str) -> str:
    """``CUBE.total_revenue`` / ``orders.status`` -> last segment."""
    return ref.rsplit(".", 1)[-1]


def _qualify_scope(sql: str, cube_name: str) -> str:
    """``{CUBE}.col`` -> ``cube.col`` for joined-scope filter SQL."""
    out = sql.replace("{CUBE}.", f"{cube_name}.").replace(
        f"{{{cube_name}}}.", f"{cube_name}."
    )
    out = re.sub(r"\{CUBE\.(\w+)\}", rf"{cube_name}.\1", out)
    out = re.sub(r"\{(\w+)\.(\w+)\}", r"\1.\2", out)
    return out


# ----------------------------------------------------------------------
# export (reference adapters/base.py:9 parse/export contract)
# ----------------------------------------------------------------------

_DIM_TYPES_OUT = inverse(_DIM_TYPES)
_AGG_OUT = inverse(AGG_TYPES)


def export_cube(graph) -> dict:
    """Graph -> Cube YAML document (dict). Lossy-but-faithful inverse
    of :meth:`CubeAdapter.parse`."""
    cubes = []
    for model in graph.models.values():
        cube: dict = {"name": model.name}
        if model.sql:
            cube["sql"] = model.sql
        else:
            cube["sql_table"] = model.table or model.name
        dims = []
        pk = model.pk_list()
        for d in model.dimensions:
            dim = {"name": d.name, "sql": d.sql or d.name,
                   "type": _DIM_TYPES_OUT.get(d.type, "string")}
            if d.name in pk:
                dim["primary_key"] = True
            if d.description:
                dim["description"] = d.description
            dims.append(dim)
        dim_names = {d.name for d in model.dimensions}
        dims += [{"name": col, "sql": col, "type": "number", "primary_key": True}
                 for col in pk if col not in dim_names]
        if dims:
            cube["dimensions"] = dims
        measures = []
        for m in model.metrics:
            if m.type == "ratio":
                measures.append({"name": m.name, "type": "number",
                                 "sql": f"{m.numerator} / NULLIF({m.denominator}, 0)"})
                continue
            if m.type == "derived":
                measures.append({"name": m.name, "type": "number", "sql": m.expr})
                continue
            if m.type == "cumulative" and m.agg in _AGG_OUT:
                # round-trip to Cube rolling_window: trailing from the
                # window, to_date from grain_to_date, leading/offset
                # restored from import meta (cube_rolling_window)
                rw: dict = {}
                if m.window:
                    rw["trailing"] = m.window
                if m.grain_to_date:
                    rw["type"] = "to_date"
                    rw["granularity"] = m.grain_to_date
                rw.update((m.meta or {}).get("cube_rolling_window") or {})
                if not rw:
                    rw["trailing"] = "unbounded"
                out = {"name": m.name, "type": _AGG_OUT[m.agg],
                       "rolling_window": rw}
                if m.sql:
                    out["sql"] = m.sql
                measures.append(out)
                continue
            if not m.is_simple or m.agg not in _AGG_OUT:
                continue  # window-metric types and aggregations Cube has no type for
            out = {"name": m.name, "type": _AGG_OUT[m.agg]}
            if m.sql:
                out["sql"] = m.sql
            if m.filters:
                out["filters"] = [{"sql": f} for f in m.filters]
            if m.description:
                out["description"] = m.description
            measures.append(out)
        if measures:
            cube["measures"] = measures
        joins = []
        for r in model.relationships:
            if r.type == "cross" or r.through:
                continue
            join = {"name": r.name, "relationship": r.type}
            if r.sql:
                join["sql"] = r.sql.replace("{from}", "{CUBE}").replace(
                    "{to}", "{" + r.name + "}")
            elif r.foreign_key:
                fks = r.fk_list()
                target = graph.models.get(r.name)
                pks = r.pk_list(target.pk_list() if target else ["id"])
                join["sql"] = " AND ".join(
                    f"{{CUBE}}.{fk} = {{{r.name}}}.{pk}" for fk, pk in zip(fks, pks)
                )
            joins.append(join)
        if joins:
            cube["joins"] = joins
        if model.segments:
            cube["segments"] = [
                {"name": s.name, "sql": s.sql.replace("{model}", "{CUBE}")}
                for s in model.segments
            ]
        if model.pre_aggregations:
            cube["pre_aggregations"] = [
                {
                    "name": pa.name,
                    "type": "rollup",
                    "measures": list(pa.measures),
                    "dimensions": list(pa.dimensions),
                    **({"time_dimension": pa.time_dimension,
                        "granularity": pa.granularity} if pa.time_dimension else {}),
                    **({"refresh_key": {
                        k: v for k, v in (
                            ("every", pa.refresh_key.every),
                            ("sql", pa.refresh_key.sql),
                            ("incremental", pa.refresh_key.incremental or None),
                            ("update_window", pa.refresh_key.update_window),
                        ) if v
                    }} if pa.refresh_key else {}),
                    **({"build_range_start": {"sql": pa.build_range_start}}
                       if pa.build_range_start else {}),
                    **({"build_range_end": {"sql": pa.build_range_end}}
                       if pa.build_range_end else {}),
                    **({"scheduled_refresh": True} if pa.scheduled_refresh else {}),
                    **({"indexes": [{"name": f"{pa.name}_idx",
                                     "columns": list(pa.bucket_by)}]}
                       if pa.bucket_by else {}),
                }
                for pa in model.pre_aggregations
            ]
        cubes.append(cube)
    return {"cubes": cubes}
