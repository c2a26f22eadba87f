"""Postgres-compatible catalog metadata for the semantic graph.

Re-expression of the reference's ``core/catalog.py`` (get_catalog_metadata
``catalog.py:69``, type maps ``:15,:43``): every model is exported as a
table, and dimensions AND metrics both appear as columns — the Cube.dev
SQL-API convention, so BI tools can introspect metrics as columns.

The metadata dict feeds the pg wire server's information_schema /
pg_catalog emulation (``server/pgwire.py``): the rows are loaded into an
in-memory DuckDB schema and introspection SQL is rewritten against it,
so arbitrary client catalog queries (joins, filters, functions) work
without us parsing them.
"""

from __future__ import annotations


def pg_type_for_dimension(dim_type: str, granularity: str | None = None) -> str:
    """Semantic dimension type -> Postgres type (ref core/catalog.py:15)."""
    if dim_type == "numeric":
        return "NUMERIC"
    if dim_type == "time":
        if granularity in ("day", "week", "month", "quarter", "year"):
            return "DATE"
        return "TIMESTAMP"
    if dim_type == "boolean":
        return "BOOLEAN"
    return "VARCHAR"


def pg_type_for_metric(agg: str | None) -> str:
    """Metric aggregation -> Postgres result type (ref core/catalog.py:43)."""
    if agg in ("count", "count_distinct", "approx_count_distinct"):
        return "BIGINT"
    return "NUMERIC"


def get_catalog_metadata(
    graph, schema: str = "public", enforce_visibility: bool = False,
) -> dict:
    """Export the graph as information_schema-shaped row dicts
    (ref ``core/catalog.py:69``): ``tables``, ``columns``,
    ``constraints``, ``key_column_usage``."""
    tables: list[dict] = []
    columns: list[dict] = []
    constraints: list[dict] = []
    key_column_usage: list[dict] = []

    for model in graph.models.values():
        tables.append({
            "table_catalog": "sidemantic",
            "table_schema": schema,
            "table_name": model.name,
            "table_type": "BASE TABLE",
            "is_insertable_into": "NO",
        })
        ordinal = 1

        # FK columns of many_to_one relationships get is_foreign_key
        # (ref tests/test_catalog.py test_foreign_key_constraints)
        fk_cols = {
            fk
            for rel in model.relationships
            if rel.type == "many_to_one" and rel.name in graph.models
            for fk in rel.fk_list()
        }

        def add_col(name: str, data_type: str, *, nullable: str = "YES",
                    is_pk: bool = False, is_metric: bool = False,
                    description: str | None = None,
                    label: str | None = None, model=model) -> None:
            nonlocal ordinal
            columns.append({
                "table_catalog": "sidemantic",
                "table_schema": schema,
                "table_name": model.name,
                "column_name": name,
                "ordinal_position": ordinal,
                "column_default": None,
                "is_nullable": nullable,
                "data_type": data_type,
                "is_primary_key": is_pk,
                "is_foreign_key": name in fk_cols,
                "is_metric": is_metric,
                "description": description,
                "label": label,
            })
            ordinal += 1

        dim_names = {d.name for d in model.dimensions}
        for pk in model.pk_list():
            if pk not in dim_names:
                add_col(pk, "BIGINT", nullable="NO", is_pk=True)
        if model.primary_key and not isinstance(model.primary_key, list):
            constraints.append({
                "constraint_catalog": "sidemantic",
                "constraint_schema": schema,
                "constraint_name": f"{model.name}_pkey",
                "table_schema": schema,
                "table_name": model.name,
                "constraint_type": "PRIMARY KEY",
            })
            key_column_usage.append({
                "constraint_catalog": "sidemantic",
                "constraint_schema": schema,
                "constraint_name": f"{model.name}_pkey",
                "table_schema": schema,
                "table_name": model.name,
                "column_name": model.primary_key,
                "ordinal_position": 1,
                "referenced_table_name": None,
                "referenced_column_name": None,
            })

        for dim in model.dimensions:
            if enforce_visibility and not dim.public:
                continue
            add_col(
                dim.name,
                pg_type_for_dimension(dim.type, dim.granularity),
                is_pk=dim.name == model.primary_key,
                description=dim.description,
                label=dim.label,
            )
        for metric in model.metrics:
            if enforce_visibility and not metric.public:
                continue
            add_col(
                metric.name,
                pg_type_for_metric(metric.agg),
                is_metric=True,
                description=metric.description,
                label=metric.label,
            )

        for rel in model.relationships:
            if rel.type != "many_to_one" or rel.name not in graph.models:
                continue
            fks = rel.fk_list()
            target = graph.models[rel.name]
            pks = rel.pk_list(target.pk_list())
            if not fks or len(fks) != len(pks):
                continue
            cname = f"{model.name}_{rel.name}_fkey"
            constraints.append({
                "constraint_catalog": "sidemantic",
                "constraint_schema": schema,
                "constraint_name": cname,
                "table_schema": schema,
                "table_name": model.name,
                "constraint_type": "FOREIGN KEY",
            })
            for i, fk in enumerate(fks):
                key_column_usage.append({
                    "constraint_catalog": "sidemantic",
                    "constraint_schema": schema,
                    "constraint_name": cname,
                    "table_schema": schema,
                    "table_name": model.name,
                    "column_name": fk,
                    "ordinal_position": i + 1,
                    "referenced_table_name": rel.name,
                    "referenced_column_name": pks[i],
                })

    return {
        "tables": tables,
        "columns": columns,
        "constraints": constraints,
        "key_column_usage": key_column_usage,
    }
