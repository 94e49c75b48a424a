"""Remote databases the workloads talk to, built with each database's
own loader (never through the engine's insert path, so building them
shares no work with the timed operations):

- Postgres: a throwaway cluster from ``remote/pglocal.py``; tables are
  generated server-side (``generate_series``) or streamed in with
  ``COPY ... FROM STDIN`` through ``psql``.
- sqlite: the ``sqlite3`` module's ``executemany``.
- DuckDB: ``CREATE TABLE ... AS SELECT * FROM read_parquet(...)``.
"""

from __future__ import annotations

import atexit
import io
import os
import shlex
import shutil
import signal
import sqlite3
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.csv as pacsv


class Postgres:
    """A private Postgres cluster, stopped on exit or on SIGTERM/SIGINT."""

    def __init__(self, work_dir: str):
        from datafusion_remote_table_spark.remote.pglocal import start_local_postgres

        saved = tempfile.tempdir
        tempfile.tempdir = _server_dir(work_dir)
        try:
            started = start_local_postgres("perfbench_pg_")
        finally:
            tempfile.tempdir = saved
        if started is None:
            raise RuntimeError("cannot start a local Postgres server (initdb/pg_ctl or the postgres user missing)")
        self.options, self._stop = started
        self.psql_calls = 0
        self.options.pool_max_size = os.cpu_count() or 1
        atexit.register(self.stop)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, _exit_on_signal)

    def stop(self) -> None:
        stop, self._stop = self._stop, None
        if stop is not None:
            stop()

    def psql(self, sql: str, stdin: bytes | None = None) -> list[list[str]]:
        o = self.options
        self.psql_calls += 1
        r = subprocess.run(
            ["psql", "-X", "-q", "-A", "-t", "-F", "\t", "-v", "ON_ERROR_STOP=1",
             "-h", o.host, "-p", str(o.port), "-U", o.username, "-d", o.database, "-c", sql],
            input=stdin, capture_output=True, check=False,
        )
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.decode(errors='replace').strip()}")
        return [line.split("\t") for line in r.stdout.decode().splitlines() if line]

    def copy_table(self, name: str, ddl: str, table: pa.Table) -> None:
        buf = io.BytesIO()
        pacsv.write_csv(table, buf, pacsv.WriteOptions(include_header=False))
        self.psql(f"CREATE TABLE {name} ({ddl})")
        self.psql(f"COPY {name} FROM STDIN WITH (FORMAT csv)", stdin=buf.getvalue())


def _server_dir(work_dir: str) -> str | None:
    """A directory for the cluster inside work_dir when the postgres user
    can write there; None (the system temp dir) when a parent directory
    keeps that user out. The server refuses to run as root."""
    if os.geteuid() != 0:
        return work_dir
    d = os.path.join(work_dir, "pg")
    os.makedirs(d, exist_ok=True)
    try:
        shutil.chown(d, user="postgres", group="postgres")
    except (LookupError, PermissionError):
        return None
    probe = subprocess.run(["su", "postgres", "-c", f"test -w {shlex.quote(d)}"], capture_output=True)
    return d if probe.returncode == 0 else None


def _exit_on_signal(signum, frame):
    sys.exit(128 + signum)


# -- mirrors of the generated tables -----------------------------------------

PG_DDL = {
    "region": "r_regionkey INT, r_name TEXT",
    "nation": "n_nationkey INT, n_name TEXT, n_regionkey INT",
    "supplier": "s_suppkey BIGINT, s_name TEXT, s_nationkey INT, s_acctbal FLOAT8",
    "customer": "c_custkey BIGINT, c_name TEXT, c_nationkey INT, c_acctbal FLOAT8, c_mktsegment TEXT",
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus TEXT, o_totalprice FLOAT8, "
        "o_orderdate TIMESTAMP, o_orderpriority TEXT"
    ),
}
SQLITE_TABLES = ("nation", "region", "supplier", "customer", "orders")
DUCKDB_TABLES = ("nation", "region", "orders")


def load_postgres(pg: Postgres, tables: dict[str, pa.Table]) -> None:
    for name, ddl in PG_DDL.items():
        pg.copy_table(name, ddl, tables[name])
    # Leave the server no work of its own for the timed requests: without
    # this, autovacuum visits the freshly loaded tables about a minute
    # after the load and a checkpoint writes them out, both during the loop.
    pg.psql("VACUUM (FREEZE, ANALYZE)")
    pg.psql("CHECKPOINT")
    # A write-back's commit still writes its WAL but does not wait for the
    # disk to flush it: on a shared host that flush time is the disk's
    # noise, not work the engine does.
    pg.psql("ALTER SYSTEM SET synchronous_commit = off")
    pg.psql("SELECT pg_reload_conf()")


def build_sqlite(path: str, tables: dict[str, pa.Table]) -> None:
    con = sqlite3.connect(path)
    try:
        for name in SQLITE_TABLES:
            t = tables[name]
            if "o_orderdate" in t.column_names:
                t = t.drop(["o_orderdate"])  # sqlite has no timestamp type
            cols = ", ".join(t.column_names)
            con.execute(f"CREATE TABLE {name} ({cols})")
            rows = zip(*(t.column(c).to_pylist() for c in t.column_names))
            con.executemany(f"INSERT INTO {name} VALUES ({', '.join('?' * t.num_columns)})", rows)
        con.commit()
    finally:
        con.close()


def build_duckdb(path: str, parquet_dir: str) -> None:
    import duckdb

    con = duckdb.connect(path)
    try:
        for name in DUCKDB_TABLES:
            con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{os.path.join(parquet_dir, name)}.parquet')"
            )
    finally:
        con.close()
