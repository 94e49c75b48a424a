"""Connection options per backend.

Parity: /root/reference/remote-table/src/connection/options.rs — each
backend's options struct (host/port/user/password/db, pool size,
stream_chunk_size). Here they are plain serializable dataclasses so a
scan spec (options + source + pushdown state) can ship driver→executor
as JSON, the Spark analogue of the reference's proto codec.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Dict


@dataclass
class ConnectionOptions:
    """Base options. ``stream_chunk_size`` bounds rows fetched per Arrow
    batch on the executor (parity: with_stream_chunk_size).

    ``pool_max_size`` caps concurrent open connections to this source
    per machine (parity: options.rs pool_max_size, default 10 — enforced
    by connection.PoolValve since Spark workers are processes, not a
    shared pool). 0 disables the cap (parity: the reference's
    disable_pooled_connections test mode)."""

    stream_chunk_size: int = 10_000
    pool_max_size: int = 10

    backend: str = ""

    def to_dict(self) -> dict:
        d = asdict(self)
        d["backend"] = self.backend
        return d

    def same_source(self, other: "ConnectionOptions") -> bool:
        """Whether ``other`` reaches the same remote the same way: every
        field equal except the client-side tuning fields."""
        tuning = ("stream_chunk_size", "pool_max_size")
        mine, theirs = self.to_dict(), other.to_dict()
        for k in tuning:
            mine.pop(k)
            theirs.pop(k)
        return mine == theirs

    @staticmethod
    def from_dict(d: dict) -> "ConnectionOptions":
        d = dict(d)
        backend = d.pop("backend")
        cls = _BACKENDS[backend]
        return cls(**d)


@dataclass
class SqliteConnectionOptions(ConnectionOptions):
    path: str = ""
    backend: str = field(default="sqlite", init=False)


@dataclass
class DuckdbConnectionOptions(ConnectionOptions):
    """DuckDB file as a remote analytical DB (stands in for the heavier
    servers in this container; same code path as the networked backends)."""

    path: str = ""
    backend: str = field(default="duckdb", init=False)


@dataclass
class PostgresConnectionOptions(ConnectionOptions):
    host: str = "localhost"
    port: int = 5432
    username: str = ""
    password: str = ""
    database: str = ""
    backend: str = field(default="postgres", init=False)


@dataclass
class MysqlConnectionOptions(ConnectionOptions):
    host: str = "localhost"
    port: int = 3306
    username: str = ""
    password: str = ""
    database: str = ""
    backend: str = field(default="mysql", init=False)


@dataclass
class OracleConnectionOptions(ConnectionOptions):
    host: str = "localhost"
    port: int = 1521
    username: str = ""
    password: str = ""
    service_name: str = ""
    backend: str = field(default="oracle", init=False)


@dataclass
class GaussdbConnectionOptions(ConnectionOptions):
    """GaussDB/OpenGauss (connection/gaussdb.rs parity): speaks the
    Postgres wire protocol, so the factory uses a Postgres driver and the
    dialect inherits PostgresDialect."""

    host: str = "localhost"
    port: int = 5432
    username: str = ""
    password: str = ""
    database: str = ""
    backend: str = field(default="gaussdb", init=False)


@dataclass
class DmConnectionOptions(ConnectionOptions):
    """DM / 达梦 (connection/dm/ parity): Oracle-compatible SQL surface;
    the reference connects via ODBC, here the dmPython DB-API driver
    (import-gated — not bundled in this environment)."""

    host: str = "localhost"
    port: int = 5236
    username: str = ""
    password: str = ""
    schema: str = ""
    backend: str = field(default="dm", init=False)


@dataclass
class MdbConnectionOptions(ConnectionOptions):
    """Microsoft Access .mdb via an ODBC driver (connection/mdb/mod.rs
    parity: path + driver name + optional UID/PWD + verbatim extra
    key=value params, e.g. Exclusive=1 / IMEX=1). The Python side uses
    pyodbc (import-gated — not bundled in this environment); the
    reference uses odbc-api over the MDBTools driver."""

    path: str = ""
    driver: str = "MDBTools"
    uid: str = ""
    pwd: str = ""
    extra_params: Dict[str, str] = field(default_factory=dict)
    backend: str = field(default="mdb", init=False)


_BACKENDS = {
    "sqlite": SqliteConnectionOptions,
    "duckdb": DuckdbConnectionOptions,
    "postgres": PostgresConnectionOptions,
    "mysql": MysqlConnectionOptions,
    "oracle": OracleConnectionOptions,
    "gaussdb": GaussdbConnectionOptions,
    "dm": DmConnectionOptions,
    "mdb": MdbConnectionOptions,
}
