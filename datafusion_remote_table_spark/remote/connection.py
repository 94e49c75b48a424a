"""DB-API connection factories, import-gated per backend.

Parity: /root/reference/remote-table/src/connection/mod.rs (the
`connect` entry point + per-backend pools, options.rs pool_max_size
default 10). Executor tasks open their own connection per partition —
the Spark analogue of the reference's connection pool feeding parallel
streams — with a cross-process valve capping how many are open at once
per machine (see PoolValve below): at 1000 executors × many tasks each,
an uncapped fan-in is the first thing a real remote DB falls over on.

sqlite (stdlib) and duckdb are always available in this container;
postgres/mysql/oracle factories resolve their drivers lazily so the
module imports cleanly without them (same spirit as the reference's
cargo feature gates).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time

from .options import ConnectionOptions

# Option keys that identify a remote SOURCE (not how we talk to it):
# two specs differing only in chunk size or pool size hit the same DB
# and must share one valve.
_IDENTITY_KEYS = ("backend", "host", "port", "database", "path", "service_name", "schema", "uid", "driver")


class PoolValve:
    """Cross-process cap on concurrent open connections to one remote
    source (parity: reference options.rs ``pool_max_size``, bb8/r2d2
    pool semantics re-expressed for Spark's process-per-worker model).

    Spark runs Python tasks in separate worker PROCESSES, so an
    in-process semaphore can't bound an executor's fan-in; the valve
    uses atomic slot-file creation (O_CREAT|O_EXCL) in the local tmp
    dir instead, which every worker process on the machine shares. The
    cap is therefore per MACHINE per remote source — stricter than the
    reference's per-pool cap when several executors share a node, which
    is the safe direction. Slot files record the holder pid; slots
    whose holder died without close() are reaped on the next acquire,
    so a crashed task can't leak capacity forever. Best-effort by
    design: this is a throttle protecting the remote DB, not a mutex.
    """

    def __init__(self, identity: str, max_size: int):
        self.max_size = max_size
        digest = hashlib.md5(identity.encode()).hexdigest()[:16]
        self._base = os.path.join(tempfile.gettempdir(), f"dfrt_pool_{digest}")
        self._slot_fd: int | None = None
        self._slot_path: str | None = None

    def acquire(self, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while True:
            for i in range(self.max_size):
                path = f"{self._base}.{i}.slot"
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    self._reap_if_stale(path)
                    continue
                os.write(fd, str(os.getpid()).encode())
                self._slot_fd, self._slot_path = fd, path
                return
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"no free remote-connection slot after {timeout}s "
                    f"(pool_max_size={self.max_size}); raise pool_max_size or "
                    f"lower fetch_partitions"
                )
            time.sleep(0.05)

    @staticmethod
    def _reap_if_stale(path: str) -> None:
        try:
            with open(path) as f:
                pid = int(f.read().strip() or 0)
        except (OSError, ValueError):
            return
        if pid <= 0:
            return
        try:
            os.kill(pid, 0)  # signal 0: existence probe only
        except ProcessLookupError:
            # Re-read IMMEDIATELY before unlinking: another reaper may
            # have already removed the stale slot and re-acquired it with
            # a live pid, and unlinking that would let a third process
            # overshoot the cap. The check-to-unlink window shrinks to
            # microseconds; the residual race is part of the documented
            # best-effort contract.
            try:
                with open(path) as f:
                    if int(f.read().strip() or 0) == pid:
                        os.unlink(path)
            except (OSError, ValueError):
                pass
        except PermissionError:
            pass  # pid exists under another user

    def release(self) -> None:
        fd, path = self._slot_fd, self._slot_path
        self._slot_fd = self._slot_path = None
        if fd is not None:
            try:
                os.close(fd)
            except OSError:
                pass
        if path is not None:
            try:
                os.unlink(path)
            except OSError:
                pass


class _ValvedConnection:
    """DB-API connection proxy that frees its valve slot on close."""

    def __init__(self, raw, valve: PoolValve):
        self._raw = raw
        self._valve = valve

    def __getattr__(self, name):
        return getattr(self._raw, name)

    def close(self):
        try:
            return self._raw.close()
        finally:
            self._valve.release()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def __del__(self):
        try:
            self._valve.release()
        except Exception:
            pass


def _valve_for(options: ConnectionOptions) -> PoolValve | None:
    max_size = getattr(options, "pool_max_size", 0)
    if not max_size or max_size <= 0:
        return None  # parity: disable_pooled_connections
    d = options.to_dict()
    identity = "|".join(f"{k}={d.get(k, '')}" for k in _IDENTITY_KEYS)
    return PoolValve(identity, max_size)


def connect(options: ConnectionOptions, read_only: bool = True):
    """A DB-API connection to options' remote, holding one valve slot
    until close(). ``read_only`` matters for duckdb alone: read-only
    opens let N executor tasks share one database file."""
    valve = _valve_for(options)
    if valve is None:
        return _raw_connect(options, read_only)
    valve.acquire()
    try:
        raw = _raw_connect(options, read_only)
    except BaseException:
        valve.release()
        raise
    return _ValvedConnection(raw, valve)


def _raw_connect(options: ConnectionOptions, read_only: bool):
    backend = options.backend
    if backend == "sqlite":
        import sqlite3

        return sqlite3.connect(options.path)
    if backend == "duckdb":
        import duckdb

        return duckdb.connect(options.path, read_only=read_only)
    if backend in ("postgres", "gaussdb"):
        # GaussDB speaks the Postgres wire protocol (reference gaussdb.rs
        # uses a tokio-postgres fork); any Postgres driver works
        try:
            import psycopg2  # type: ignore
        except ImportError:
            # pure-Python wire-protocol fallback (v3 simple query, trust/
            # cleartext/md5 auth) — keeps the backend LIVE without a
            # compiled driver; see pgwire.py for the documented limits
            from . import pgwire

            return pgwire.connect(
                host=options.host,
                port=options.port,
                user=options.username,
                password=options.password,
                dbname=options.database,
            )
        return psycopg2.connect(
            host=options.host,
            port=options.port,
            user=options.username,
            password=options.password,
            dbname=options.database,
        )
    if backend == "mysql":
        try:
            import pymysql  # type: ignore
        except ImportError as e:
            raise ImportError("mysql backend requires pymysql (not bundled in this environment)") from e
        return pymysql.connect(
            host=options.host,
            port=options.port,
            user=options.username,
            password=options.password,
            database=options.database,
        )
    if backend == "oracle":
        try:
            import oracledb  # type: ignore
        except ImportError as e:
            raise ImportError("oracle backend requires oracledb (not bundled in this environment)") from e
        return oracledb.connect(
            host=options.host,
            port=options.port,
            user=options.username,
            password=options.password,
            service_name=options.service_name,
        )
    if backend == "dm":
        try:
            import dmPython  # type: ignore
        except ImportError as e:
            raise ImportError("dm backend requires dmPython (not bundled in this environment)") from e
        return dmPython.connect(
            host=options.host,
            port=options.port,
            user=options.username,
            password=options.password,
        )
    if backend == "mdb":
        try:
            import pyodbc  # type: ignore
        except ImportError as e:
            raise ImportError(
                "mdb backend requires pyodbc + an Access ODBC driver "
                "(MDBTools; not bundled in this environment)"
            ) from e
        parts = [f"DRIVER={{{options.driver}}}", f"DBQ={options.path}"]
        if options.uid:
            parts.append(f"UID={options.uid}")
        if options.pwd:
            parts.append(f"PWD={options.pwd}")
        # sorted so semantically identical param sets produce the same
        # connection string (mdb/mod.rs cache-key normalization)
        parts += [f"{k}={v}" for k, v in sorted(options.extra_params.items())]
        return pyodbc.connect(";".join(parts))
    raise ValueError(f"unknown backend: {backend}")


def connect_writable(options: ConnectionOptions):
    """Writer-side connection (insert path needs read-write); shares the
    read path's valve — writers count against the same per-source cap."""
    if options.backend == "mdb":
        # parity: reference mdb/mod.rs insert() is an explicit error
        raise NotImplementedError("insert is not supported for the mdb backend")
    return connect(options, read_only=False)
