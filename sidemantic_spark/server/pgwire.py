"""PostgreSQL wire-protocol server for the semantic layer.

Re-expression of the reference's pg server (``server/server.py:38``
riffq-based, connection handling ``server/connection.py``) on the stdlib
``socketserver`` — no external dependencies. Any Postgres client (psql,
JDBC/ODBC via text protocol, BI tools) can connect and run semantic SQL;
models appear as tables, dimensions AND metrics as columns.

Protocol support:

- startup v3, ``SSLRequest`` refused with ``N`` (cleartext), optional
  cleartext-password auth (ref server/server.py:60-70: a user-attrs map
  without auth is refused so usernames can't be spoofed);
- simple query (``Q``) — the path psql and most BI text drivers use;
- minimal extended protocol (``P``/``B``/``D``/``E``/``S``/``C``) for
  drivers that always Parse/Bind, parameterless or with text params
  substituted server-side;
- catalog emulation: ``information_schema`` / ``pg_catalog`` queries are
  served from an in-memory DuckDB loaded with the semantic graph's
  catalog metadata (``server/catalog.py``), so arbitrary introspection
  SQL (joins, filters) works without a bespoke parser (the reference
  registers the same metadata into riffq's catalog);
- everything else goes through ``layer.sql()`` → Spark. The server adds
  no distribution boundary: the driver compiles, the cluster executes
  (SURVEY.md §3.3).
"""

from __future__ import annotations

import re
import socket
import socketserver
import struct
import threading

# type OIDs from the Postgres catalog (public protocol constants)
_OID_BOOL = 16
_OID_INT8 = 20
_OID_INT2 = 21
_OID_INT4 = 23
_OID_TEXT = 25
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_NUMERIC = 1700
_OID_DATE = 1082
_OID_TIMESTAMP = 1114

_SSL_REQUEST = 80877103
_CANCEL_REQUEST = 80877102
_GSSENC_REQUEST = 80877104


def _oid_for_spark_type(simple: str) -> int:
    if simple == "boolean":
        return _OID_BOOL
    if simple in ("tinyint", "smallint"):
        return _OID_INT2
    if simple == "int":
        return _OID_INT4
    if simple == "bigint":
        return _OID_INT8
    if simple == "float":
        return _OID_FLOAT4
    if simple == "double":
        return _OID_FLOAT8
    if simple.startswith("decimal"):
        return _OID_NUMERIC
    if simple == "date":
        return _OID_DATE
    if simple.startswith("timestamp"):
        return _OID_TIMESTAMP
    return _OID_TEXT


def _pg_text(value) -> bytes | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return b"t" if value else b"f"
    return str(value).encode()


class _Messages:
    """Backend-message builders (PostgreSQL protocol v3 framing)."""

    @staticmethod
    def frame(tag: bytes, payload: bytes = b"") -> bytes:
        return tag + struct.pack("!I", len(payload) + 4) + payload

    @classmethod
    def auth_ok(cls) -> bytes:
        return cls.frame(b"R", struct.pack("!I", 0))

    @classmethod
    def auth_cleartext(cls) -> bytes:
        return cls.frame(b"R", struct.pack("!I", 3))

    @classmethod
    def parameter_status(cls, key: str, val: str) -> bytes:
        return cls.frame(b"S", key.encode() + b"\x00" + val.encode() + b"\x00")

    @classmethod
    def backend_key(cls, pid: int, secret: int) -> bytes:
        return cls.frame(b"K", struct.pack("!II", pid, secret))

    @classmethod
    def ready(cls, status: bytes = b"I") -> bytes:
        return cls.frame(b"Z", status)

    @classmethod
    def row_description(cls, cols: list[tuple[str, int]]) -> bytes:
        body = struct.pack("!H", len(cols))
        for name, oid in cols:
            body += name.encode() + b"\x00"
            body += struct.pack("!IhIhih", 0, 0, oid, -1, -1, 0)
        return cls.frame(b"T", body)

    @classmethod
    def data_row(cls, row: tuple) -> bytes:
        body = struct.pack("!H", len(row))
        for v in row:
            t = _pg_text(v)
            if t is None:
                body += struct.pack("!i", -1)
            else:
                body += struct.pack("!i", len(t)) + t
        return cls.frame(b"D", body)

    @classmethod
    def command_complete(cls, tag: str) -> bytes:
        return cls.frame(b"C", tag.encode() + b"\x00")

    @classmethod
    def error(cls, message: str, code: str = "XX000") -> bytes:
        body = (
            b"SERROR\x00"
            + b"C" + code.encode() + b"\x00"
            + b"M" + message.encode() + b"\x00\x00"
        )
        return cls.frame(b"E", body)

    @classmethod
    def empty_query(cls) -> bytes:
        return cls.frame(b"I")

    @classmethod
    def parse_complete(cls) -> bytes:
        return cls.frame(b"1")

    @classmethod
    def bind_complete(cls) -> bytes:
        return cls.frame(b"2")

    @classmethod
    def close_complete(cls) -> bytes:
        return cls.frame(b"3")

    @classmethod
    def no_data(cls) -> bytes:
        return cls.frame(b"n")


M = _Messages

_SYSTEM_RE = re.compile(
    r"\b(information_schema|pg_catalog|pg_tables|pg_class|pg_namespace|"
    r"pg_type|pg_attribute|pg_database)\b",
    re.IGNORECASE,
)


class PgWireServer:
    """Threaded pg wire server bound to a :class:`SparkSemanticLayer`."""

    def __init__(
        self,
        layer,
        host: str = "127.0.0.1",
        port: int = 0,
        username: str | None = None,
        password: str | None = None,
        user_attrs_map: dict[str, dict] | None = None,
    ) -> None:
        if (username is None) != (password is None):
            raise ValueError("Both username and password must be provided together")
        if user_attrs_map and username is None:
            # ref server/server.py:64-70: without auth, a client could
            # connect under any mapped username and inherit its access
            raise ValueError(
                "A user-attrs map requires authentication: pass username+password "
                "so the connecting username cannot be spoofed."
            )
        self.layer = layer
        self.username = username
        self.password = password
        self.user_attrs_map = user_attrs_map or {}
        self._catalog_db = self._build_catalog_db()
        server = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # pragma: no cover - thin dispatch
                _Session(server, self.request).run()

        class TCP(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = TCP((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._tcp.server_address[1]

    def start(self) -> "PgWireServer":
        self._thread = threading.Thread(target=self._tcp.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- catalog emulation -------------------------------------------

    def _build_catalog_db(self):
        """Load graph catalog metadata into in-memory DuckDB under a
        ``meta`` schema plus pg_catalog-shaped views; introspection SQL
        is rewritten to hit these (see ``_rewrite_catalog_sql``)."""
        import duckdb

        from sidemantic_spark.server.catalog import get_catalog_metadata

        con = duckdb.connect(":memory:")
        meta = get_catalog_metadata(
            self.layer.graph,
            enforce_visibility=getattr(self.layer, "enforce_visibility", True),
        )
        con.execute("CREATE SCHEMA meta")
        for name, rows in meta.items():
            if not rows:
                cols = {
                    "tables": "table_catalog VARCHAR, table_schema VARCHAR, "
                              "table_name VARCHAR, table_type VARCHAR, "
                              "is_insertable_into VARCHAR",
                    "columns": "table_catalog VARCHAR, table_schema VARCHAR, "
                               "table_name VARCHAR, column_name VARCHAR, "
                               "ordinal_position INT, column_default VARCHAR, "
                               "is_nullable VARCHAR, data_type VARCHAR, "
                               "is_primary_key BOOLEAN, is_metric BOOLEAN, "
                               "description VARCHAR",
                    "constraints": "constraint_catalog VARCHAR, constraint_schema VARCHAR, "
                                   "constraint_name VARCHAR, table_schema VARCHAR, "
                                   "table_name VARCHAR, constraint_type VARCHAR",
                    "key_column_usage": "constraint_catalog VARCHAR, constraint_schema VARCHAR, "
                                        "constraint_name VARCHAR, table_schema VARCHAR, "
                                        "table_name VARCHAR, column_name VARCHAR, "
                                        "ordinal_position INT",
                }[name]
                con.execute(f"CREATE TABLE meta.{name} ({cols})")
                continue
            keys = list(rows[0].keys())
            col_defs = ", ".join(f'"{k}"' for k in keys)
            placeholders = ", ".join("?" for _ in keys)
            quoted = ", ".join(
                f'"{k}" ' + ("INT" if k == "ordinal_position"
                             else "BOOLEAN" if k.startswith("is_") and name == "columns" and k != "is_nullable"
                             else "VARCHAR")
                for k in keys
            )
            con.execute(f"CREATE TABLE meta.{name} ({quoted})")
            con.executemany(
                f"INSERT INTO meta.{name} ({col_defs}) VALUES ({placeholders})",
                [[r[k] for k in keys] for r in rows],
            )
        # pg_catalog-shaped views over the same metadata
        con.execute(
            "CREATE VIEW meta.pg_tables AS SELECT table_schema AS schemaname, "
            "table_name AS tablename, 'sidemantic' AS tableowner FROM meta.tables"
        )
        con.execute(
            "CREATE VIEW meta.pg_class AS SELECT row_number() OVER () AS oid, "
            "table_name AS relname, 'r' AS relkind, 2200 AS relnamespace "
            "FROM meta.tables"
        )
        con.execute(
            "CREATE VIEW meta.pg_namespace AS SELECT 2200 AS oid, "
            "'public' AS nspname UNION ALL SELECT 11, 'pg_catalog'"
        )
        con.execute(
            "CREATE VIEW meta.pg_attribute AS SELECT c.oid AS attrelid, "
            "col.column_name AS attname, col.ordinal_position AS attnum, "
            "25 AS atttypid FROM meta.columns col "
            "JOIN meta.pg_class c ON c.relname = col.table_name"
        )
        con.execute(
            "CREATE VIEW meta.pg_database AS SELECT 1 AS oid, "
            "'sidemantic' AS datname"
        )
        return con

    @staticmethod
    def _rewrite_catalog_sql(sql: str) -> str:
        sql = re.sub(r"\binformation_schema\.table_constraints\b",
                     "meta.constraints", sql, flags=re.IGNORECASE)
        sql = re.sub(r"\binformation_schema\.", "meta.", sql, flags=re.IGNORECASE)
        sql = re.sub(r"\bpg_catalog\.", "meta.", sql, flags=re.IGNORECASE)
        sql = re.sub(
            r"\b(pg_tables|pg_class|pg_namespace|pg_type|pg_attribute|pg_database)\b",
            lambda m: f"meta.{m.group(1)}",
            sql,
            flags=re.IGNORECASE,
        )
        return sql.replace("meta.meta.", "meta.")

    # -- query execution ---------------------------------------------

    def execute(self, sql: str, user: dict | None = None):
        """Run one statement; returns (columns [(name, oid)], rows, tag)."""
        stripped = sql.strip().rstrip(";").strip()
        if not stripped:
            return None
        low = stripped.lower()
        if low in ("begin", "commit", "rollback") or low.startswith(
            ("set ", "begin ", "commit ", "rollback ", "discard ", "reset ")
        ):
            return ([], [], stripped.split()[0].upper())
        if low in ("select version()", "select version ()"):
            return (
                [("version", _OID_TEXT)],
                [("PostgreSQL 15.0 (sidemantic-spark)",)],
                "SELECT 1",
            )
        if low.startswith("show "):
            name = stripped.split(None, 1)[1]
            vals = {
                "server_version": "15.0",
                "transaction isolation level": "read committed",
                "standard_conforming_strings": "on",
            }
            return (
                [(name.replace(" ", "_"), _OID_TEXT)],
                [(vals.get(name.lower(), ""),)],
                "SHOW",
            )
        if _SYSTEM_RE.search(stripped):
            rel = self._catalog_db.execute(self._rewrite_catalog_sql(stripped))
            cols = [(d[0], _OID_TEXT) for d in rel.description]
            rows = rel.fetchall()
            return (cols, rows, f"SELECT {len(rows)}")
        self._enforce_access(stripped, user)
        # thread the session user into compilation so row policies scope
        # result rows, not just the access gate
        df = self.layer.sql(stripped, user=user)
        cols = [(f.name, _oid_for_spark_type(f.dataType.simpleString()))
                for f in df.schema.fields]
        rows = [tuple(r) for r in df.collect()]
        return (cols, rows, f"SELECT {len(rows)}")

    def _enforce_access(self, sql: str, user: dict | None) -> None:
        """Model access gates for the connecting user (ref
        server/connection.py:132 _enforce_pg_access): any referenced
        model with a security policy must admit the user."""
        for name, model in self.layer.graph.models.items():
            policy = getattr(model, "security", None)
            if policy is None:
                continue
            if re.search(rf"\b{re.escape(name)}\b", sql):
                policy.check_access(name, user)


class _Session:
    """One client connection: startup, auth, message loop."""

    def __init__(self, server: PgWireServer, sock: socket.socket) -> None:
        self.server = server
        self.sock = sock
        self.user_attrs: dict | None = None
        self._statements: dict[str, str] = {}
        self._portals: dict[str, str] = {}

    # -- low-level io ------------------------------------------------

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionResetError
            buf += chunk
        return buf

    def _send(self, data: bytes) -> None:
        self.sock.sendall(data)

    def _read_message(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    # -- lifecycle ---------------------------------------------------

    def run(self) -> None:
        try:
            if not self._startup():
                return
            self._loop()
        except (ConnectionResetError, BrokenPipeError, OSError):
            pass
        finally:
            try:
                self.sock.close()
            except OSError:
                pass

    def _startup(self) -> bool:
        while True:
            (length,) = struct.unpack("!I", self._recv_exact(4))
            payload = self._recv_exact(length - 4)
            (code,) = struct.unpack("!I", payload[:4])
            if code == _SSL_REQUEST or code == _GSSENC_REQUEST:
                self._send(b"N")
                continue
            if code == _CANCEL_REQUEST:
                return False
            break
        params: dict[str, str] = {}
        parts = payload[4:].split(b"\x00")
        for i in range(0, len(parts) - 1, 2):
            if parts[i]:
                params[parts[i].decode()] = parts[i + 1].decode()
        user = params.get("user", "")

        if self.server.password is not None:
            self._send(M.auth_cleartext())
            tag, body = self._read_message()
            if tag != b"p":
                self._send(M.error("expected password", "28P01"))
                return False
            supplied = body.rstrip(b"\x00").decode()
            if user != self.server.username or supplied != self.server.password:
                self._send(M.error("password authentication failed", "28P01"))
                return False
        self.user_attrs = self.server.user_attrs_map.get(user)

        self._send(M.auth_ok())
        for k, v in (
            ("server_version", "15.0"),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO, MDY"),
            ("integer_datetimes", "on"),
            ("standard_conforming_strings", "on"),
        ):
            self._send(M.parameter_status(k, v))
        self._send(M.backend_key(threading.get_ident() & 0x7FFFFFFF, 0))
        self._send(M.ready())
        return True

    def _loop(self) -> None:
        while True:
            tag, body = self._read_message()
            if tag == b"X":
                return
            if tag == b"Q":
                self._simple_query(body.rstrip(b"\x00").decode())
            elif tag == b"P":
                self._parse(body)
            elif tag == b"B":
                self._bind(body)
            elif tag == b"D":
                self._describe(body)
            elif tag == b"E":
                self._exec_portal(body)
            elif tag == b"C":
                self._send(M.close_complete())
            elif tag == b"H":
                pass  # Flush: we always send eagerly
            elif tag == b"S":
                self._send(M.ready())
            # ignore anything else (copy, function call)

    # -- simple protocol ---------------------------------------------

    def _simple_query(self, sql: str) -> None:
        # multiple statements separated by ';' run in order (protocol
        # requires one combined response sequence, then one ReadyForQuery)
        statements = [s for s in sql.split(";") if s.strip()]
        if not statements:
            self._send(M.empty_query())
            self._send(M.ready())
            return
        for stmt in statements:
            try:
                result = self.server.execute(stmt, self.user_attrs)
            except Exception as exc:
                self._send(M.error(str(exc).splitlines()[0] if str(exc) else repr(exc)))
                break
            if result is None:
                self._send(M.empty_query())
                continue
            cols, rows, tag_str = result
            if cols:
                self._send(M.row_description(cols))
                for row in rows:
                    self._send(M.data_row(row))
            self._send(M.command_complete(tag_str))
        self._send(M.ready())

    # -- extended protocol (minimal) ---------------------------------

    @staticmethod
    def _read_cstr(body: bytes, off: int) -> tuple[str, int]:
        end = body.index(b"\x00", off)
        return body[off:end].decode(), end + 1

    def _parse(self, body: bytes) -> None:
        name, off = self._read_cstr(body, 0)
        query, off = self._read_cstr(body, off)
        self._statements[name] = query
        self._send(M.parse_complete())

    def _bind(self, body: bytes) -> None:
        portal, off = self._read_cstr(body, 0)
        stmt, off = self._read_cstr(body, off)
        (n_fmt,) = struct.unpack_from("!H", body, off)
        off += 2 + 2 * n_fmt
        (n_params,) = struct.unpack_from("!H", body, off)
        off += 2
        params: list[str | None] = []
        for _ in range(n_params):
            (plen,) = struct.unpack_from("!i", body, off)
            off += 4
            if plen == -1:
                params.append(None)
            else:
                params.append(body[off:off + plen].decode())
                off += plen
        sql = self._statements.get(stmt, "")
        # substitute $n placeholders with quoted text literals
        for i, val in enumerate(reversed(params), start=0):
            n = len(params) - i
            lit = "NULL" if params[n - 1] is None else \
                "'" + params[n - 1].replace("'", "''") + "'"
            sql = sql.replace(f"${n}", lit)
        self._portals[portal] = sql
        self._send(M.bind_complete())

    def _describe(self, body: bytes) -> None:
        kind = body[0:1]
        name, _ = self._read_cstr(body, 1)
        sql = self._portals.get(name) if kind == b"P" else self._statements.get(name)
        if not sql or not sql.strip():
            self._send(M.no_data())
            return
        if kind == b"S":
            # ParameterDescription: report zero params
            self._send(M.frame(b"t", struct.pack("!H", 0)))
        # describing without executing would need a dry-run; emit NoData
        # and let Execute carry the RowDescription (accepted by psql,
        # psycopg in text mode)
        self._send(M.no_data())

    def _exec_portal(self, body: bytes) -> None:
        name, _ = self._read_cstr(body, 0)
        sql = self._portals.get(name, "")
        if not sql.strip():
            self._send(M.empty_query())
            return
        try:
            result = self.server.execute(sql, self.user_attrs)
        except Exception as exc:
            self._send(M.error(str(exc).splitlines()[0] if str(exc) else repr(exc)))
            return
        if result is None:
            self._send(M.empty_query())
            return
        cols, rows, tag_str = result
        if cols:
            self._send(M.row_description(cols))
            for row in rows:
                self._send(M.data_row(row))
        self._send(M.command_complete(tag_str))
