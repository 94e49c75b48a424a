"""Minimal pure-Python PostgreSQL wire-protocol (v3) DB-API client.

Fallback driver for the postgres/gaussdb backends when psycopg2 is not
installed (this container ships the PostgreSQL *server* binaries but no
Python driver). Parity target: the slice of DB-API the remote engine
actually consumes — ``connect() -> conn.cursor() / commit() / close()``,
``cursor.execute/executemany/description/fetchone/fetchmany/fetchall``
— speaking the simple-query flow of the protocol the reference's
tokio-postgres uses (connection/postgres.rs). Values travel in text
format; decoding is OID-driven so the value-sample schema inference
(schema.infer_schema_from_rows) sees real Python types.

Scope notes (documented limits, mirrored in tests):
- Auth: trust, cleartext password, and md5 challenge. SCRAM-SHA-256 is
  intentionally out of scope (local integration runs use trust); a
  SCRAM server request raises with a clear message.
- Parameters are literalized client-side into the SQL text (psycopg2
  does the same for %s params); the simple-query protocol autocommits,
  so psycopg2's implicit-BEGIN transaction semantics are reproduced by
  lazily issuing BEGIN before the first statement and COMMIT on
  ``commit()`` — the overwrite path's truncate-and-swap stays atomic.
- Result sets are buffered per statement (simple query delivers all
  rows before ReadyForQuery anyway); fetchmany slices the buffer, which
  keeps the executor's chunked fetch loop working unchanged.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import socket
import struct


class PgError(Exception):
    pass


# ---------------------------------------------------------------------------
# text-format decoders, keyed by type OID (pg_type.dat)

def _parse_ts(v: str):
    # 'YYYY-MM-DD HH:MM:SS[.ffffff]' — timestamptz adds '+HH[:MM]'
    tz = None
    body = v
    for sep in ("+", "-"):
        idx = body.find(sep, 19)
        if idx > 0:
            off, body = body[idx:], body[:idx]
            parts = off[1:].split(":")
            minutes = int(parts[0]) * 60 + (int(parts[1]) if len(parts) > 1 else 0)
            if sep == "-":
                minutes = -minutes
            tz = _dt.timezone(_dt.timedelta(minutes=minutes))
            break
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in body else "%Y-%m-%d %H:%M:%S"
    out = _dt.datetime.strptime(body, fmt)
    return out.replace(tzinfo=tz) if tz else out


_DECODERS = {
    16: lambda v: v == "t",                      # bool
    20: int, 21: int, 23: int, 26: int,          # int8/int2/int4/oid
    700: float, 701: float,                      # float4/float8
    1700: decimal.Decimal,                       # numeric
    17: lambda v: bytes.fromhex(v[2:]),          # bytea, '\x...' text format
    1082: lambda v: _dt.date.fromisoformat(v),   # date
    1114: _parse_ts,                             # timestamp
    1184: _parse_ts,                             # timestamptz
    1083: lambda v: _dt.time.fromisoformat(v),   # time
}


def _literal(v) -> str:
    """Client-side literalization for %s params (psycopg2's adaption,
    restricted to the types the insert path ships: the Arrow batch's
    Python values)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return f"E'\\\\x{bytes(v).hex()}'"
    if isinstance(v, _dt.datetime):
        return f"'{v.isoformat(sep=' ')}'"
    if isinstance(v, (_dt.date, _dt.time)):
        return f"'{v.isoformat()}'"
    s = str(v)
    if "\\" in s:
        # escape-string literal keeps backslashes intact regardless of
        # standard_conforming_strings
        body = s.replace("\\", "\\\\").replace("'", "''")
        return f"E'{body}'"
    return "'" + s.replace("'", "''") + "'"


class PgWireCursor:
    arraysize = 1000

    def __init__(self, conn: "PgWireConnection"):
        self._conn = conn
        self.description = None
        self.rowcount = -1
        self._rows: list[tuple] = []
        self._pos = 0

    # -- DB-API ------------------------------------------------------------
    def execute(self, sql: str, params=None):
        if params is not None:
            sql = sql % tuple(_literal(p) for p in params)
        self._conn._ensure_txn(sql)
        desc, rows, tag = self._conn._simple_query(sql)
        self.description = desc
        self._rows, self._pos = rows, 0
        parts = (tag or "").split()
        self.rowcount = int(parts[-1]) if parts and parts[-1].isdigit() else -1
        return self

    def executemany(self, sql: str, seq_of_params):
        total = 0
        for params in seq_of_params:
            self.execute(sql, params)
            if self.rowcount > 0:
                total += self.rowcount
        self.rowcount = total
        return self

    def fetchone(self):
        if self._pos >= len(self._rows):
            return None
        row = self._rows[self._pos]
        self._pos += 1
        return row

    def fetchmany(self, size=None):
        size = size or self.arraysize
        out = self._rows[self._pos : self._pos + size]
        self._pos += len(out)
        return out

    def fetchall(self):
        out = self._rows[self._pos :]
        self._pos = len(self._rows)
        return out

    def close(self):
        self._rows = []


class PgWireConnection:
    def __init__(self, host: str, port: int, user: str, password: str, dbname: str):
        self._password = password or ""
        self._user = user
        self._sock = socket.create_connection((host, port), timeout=30)
        self._buf = b""
        self._in_txn = False
        self._startup(user, dbname)
        # the timeout bounds connect and start-up only: a statement may
        # wait on locks or run long, and a timeout mid-reply would leave
        # the connection mid-protocol
        self._sock.settimeout(None)

    # -- wire helpers ------------------------------------------------------
    def _send(self, type_byte: bytes, payload: bytes) -> None:
        msg = struct.pack("!I", len(payload) + 4) + payload
        self._sock.sendall(type_byte + msg if type_byte else msg)

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_msg(self) -> tuple[bytes, bytes]:
        head = self._recv_exact(5)
        mtype = head[:1]
        (length,) = struct.unpack("!I", head[1:5])
        return mtype, self._recv_exact(length - 4)

    @staticmethod
    def _error_text(body: bytes) -> str:
        fields = {}
        for part in body.split(b"\x00"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return f"{fields.get('S', 'ERROR')}: {fields.get('M', 'unknown')} ({fields.get('C', '')})"

    # -- startup / auth ----------------------------------------------------
    def _startup(self, user: str, dbname: str) -> None:
        params = f"user\x00{user}\x00database\x00{dbname}\x00client_encoding\x00UTF8\x00\x00"
        payload = struct.pack("!I", 196608) + params.encode()
        self._send(b"", payload)
        while True:
            mtype, body = self._read_msg()
            if mtype == b"R":
                (code,) = struct.unpack("!I", body[:4])
                if code == 0:
                    continue
                if code == 3:  # cleartext
                    self._send(b"p", self._password.encode() + b"\x00")
                elif code == 5:  # md5(md5(password+user)+salt)
                    salt = body[4:8]
                    inner = hashlib.md5((self._password + self._user).encode()).hexdigest()
                    digest = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send(b"p", b"md5" + digest.encode() + b"\x00")
                else:
                    raise PgError(
                        f"unsupported auth method {code} (pgwire fallback supports "
                        "trust/cleartext/md5; use psycopg2 for SCRAM)"
                    )
            elif mtype in (b"S", b"K", b"N"):
                continue
            elif mtype == b"Z":
                return
            elif mtype == b"E":
                raise PgError(self._error_text(body))
            else:
                raise PgError(f"unexpected startup message {mtype!r}")

    # -- statements --------------------------------------------------------
    def _ensure_txn(self, sql: str) -> None:
        head = sql.lstrip()[:6].upper()
        if self._in_txn or head.startswith(("BEGIN", "COMMIT", "ROLLBA")):
            return
        self._in_txn = True
        self._simple_query_raw("BEGIN")

    def _simple_query(self, sql: str):
        return self._simple_query_raw(sql)

    def _simple_query_raw(self, sql: str):
        self._send(b"Q", sql.encode() + b"\x00")
        desc = None
        decoders: list = []
        rows: list[tuple] = []
        tag = None
        err = None
        while True:
            mtype, body = self._read_msg()
            if mtype == b"T":
                (nfields,) = struct.unpack("!H", body[:2])
                off = 2
                desc = []
                decoders = []
                for _ in range(nfields):
                    end = body.index(b"\x00", off)
                    name = body[off:end].decode()
                    off = end + 1
                    _tbl, _att, oid, _tlen, _tmod, _fmt = struct.unpack(
                        "!IHIhih", body[off : off + 18]
                    )
                    off += 18
                    desc.append((name, oid, None, None, None, None, None))
                    decoders.append(_DECODERS.get(oid, lambda v: v))
            elif mtype == b"D":
                (ncols,) = struct.unpack("!H", body[:2])
                off = 2
                vals = []
                for i in range(ncols):
                    (vlen,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if vlen == -1:
                        vals.append(None)
                    else:
                        raw = body[off : off + vlen].decode("utf-8", "replace")
                        off += vlen
                        vals.append(decoders[i](raw))
                rows.append(tuple(vals))
            elif mtype == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif mtype in (b"N", b"S", b"I"):
                continue
            elif mtype == b"E":
                err = self._error_text(body)
            elif mtype == b"Z":
                if err:
                    raise PgError(err)
                return desc, rows, tag
            else:
                raise PgError(f"unexpected message {mtype!r}")

    # -- DB-API ------------------------------------------------------------
    def cursor(self) -> PgWireCursor:
        return PgWireCursor(self)

    def commit(self) -> None:
        if self._in_txn:
            self._in_txn = False
            self._simple_query_raw("COMMIT")

    def rollback(self) -> None:
        if self._in_txn:
            self._in_txn = False
            self._simple_query_raw("ROLLBACK")

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        except OSError:
            pass
        try:
            self._sock.close()
        except OSError:
            pass


def connect(host: str, port: int, user: str, password: str, dbname: str) -> PgWireConnection:
    return PgWireConnection(host, port, user, password, dbname)
