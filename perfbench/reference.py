"""Expected outputs, computed once per seed outside any timed region.

Rows from both engines are reduced to one canonical form (columns in
name order, Decimal as text, floats rounded to 6 places, dates lifted to
naive datetimes, rows sorted) and compared by digest, the same rules the
repository's strict oracle comparison uses. Digests are cached as JSON
next to the generated data, so a second run with the same seed skips
DuckDB entirely.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os


def _canon_value(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        v = round(v, 6)
        return repr(0.0 if v == 0 else v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return repr(v)


def digest(columns: list[str], rows) -> dict:
    """Canonical digest of a result: row count plus a hash of the
    sorted, canonicalized rows (column order ignored)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(json.dumps([columns[i] for i in order]).encode())
    for row in canon:
        h.update(json.dumps(row).encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}


def spark_digest(df_rows, columns) -> dict:
    return digest(list(columns), [tuple(r) for r in df_rows])


def duckdb_connection(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digests(data_dir: str, tables, oracles: dict[str, str]) -> dict[str, dict]:
    con = duckdb_connection(data_dir, tables)
    out = {}
    for name, sql in oracles.items():
        res = con.execute(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def expected(cache_dir: str, data_dir: str, tables, oracles: dict[str, str]) -> dict[str, dict]:
    """Oracle digests over ``data_dir``, cached under a name derived from
    the oracle queries, so a changed query set is never served stale."""
    key = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()[:16]
    return cached(
        os.path.join(cache_dir, f"expected-{key}.json"),
        lambda: oracle_digests(data_dir, tables, oracles),
    )


def cached(path: str, build):
    """JSON value at ``path``, built (and written) on first use."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = build()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value
