"""Throwaway local PostgreSQL clusters for live integration/bench runs.

The container ships PostgreSQL server binaries (no Python driver — see
pgwire.py); this helper boots a private-port trust-auth cluster the way
the reference's integration-tests spin their dockerized servers, so the
postgres dialect can be exercised over a real wire. postgres refuses to
run as root, so under root every server command runs via ``su
postgres``. Returns None (never raises) when the environment can't run
a server — callers fall back or skip.

A starter stops its cluster through the returned stop function, which
a SIGKILL, or a SIGTERM under Python's default handling, never runs.
So every cluster records its starter's pid, and each start first stops
and removes the clusters whose starter is gone.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile


def _run_server_cmd(cmd: str) -> subprocess.CompletedProcess:
    if os.geteuid() == 0:
        # cd / first: su's target user usually cannot read root's cwd
        return subprocess.run(
            ["su", "postgres", "-c", f"cd / && {cmd}"], capture_output=True, text=True
        )
    return subprocess.run(["bash", "-c", cmd], capture_output=True, text=True)


STARTER_FILE = "starter.pid"  # in the work dir: the pid of the process that started it


def _stop(work: str) -> None:
    _run_server_cmd(f"pg_ctl -D {os.path.join(work, 'data')} -m immediate stop")
    shutil.rmtree(work, ignore_errors=True)


def _reap_orphans(prefix: str) -> None:
    """Stop and remove the clusters under the temp dir whose recorded
    starter process no longer exists (PoolValve._reap_if_stale's rule)."""
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if not name.startswith(("dfrt_", prefix)):
            continue
        work = os.path.join(tmp, name)
        try:
            with open(os.path.join(work, STARTER_FILE)) as f:
                pid = int(f.read())
            os.kill(pid, 0)  # signal 0: existence probe only
        except ProcessLookupError:
            _stop(work)
        except (OSError, ValueError):
            pass  # not a cluster, a starter under another user, or one still starting


def start_local_postgres(prefix: str = "dfrt_pg_"):
    """Boot a throwaway cluster; returns (PostgresConnectionOptions,
    stop_fn) or None when server binaries / the postgres user are
    unavailable."""
    if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
        return None
    _reap_orphans(prefix)
    work = tempfile.mkdtemp(prefix=prefix)
    with open(os.path.join(work, STARTER_FILE), "w") as f:
        f.write(str(os.getpid()))
    if os.geteuid() == 0:
        try:
            shutil.chown(work, user="postgres", group="postgres")
        except (LookupError, PermissionError):
            shutil.rmtree(work, ignore_errors=True)
            return None
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    data = os.path.join(work, "data")
    if _run_server_cmd(f"initdb -D {data} -U dfrt -A trust").returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        return None
    r = _run_server_cmd(
        f"pg_ctl -D {data} -o '-p {port} -c listen_addresses=127.0.0.1 -k {work}' "
        f"-l {work}/pg.log -w start"
    )
    if r.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        return None

    from .options import PostgresConnectionOptions

    return (
        PostgresConnectionOptions(
            host="127.0.0.1", port=port, username="dfrt", database="postgres"
        ),
        lambda: _stop(work),
    )
