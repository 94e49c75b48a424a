"""Per-backend SQL dialects: identifier quoting, literal rendering,
query composition (select-all, limit, count rewrite, subquery wrap).

Parity: /root/reference/remote-table/src/literalize.rs (literal
rendering per dialect) and schema.rs `RemoteDbType::select_all_query` /
`query_limit_1` helpers. Composition here is string-level on purpose —
the remote side is an opaque SQL engine, exactly as in the reference.
"""

from __future__ import annotations

import datetime as dt
from typing import Sequence


class Dialect:
    name = "ansi"
    quote_char = '"'
    int64_type = "BIGINT"  # CAST target for a 64-bit integer column

    # -- identifiers -------------------------------------------------------
    def quote_ident(self, ident: str) -> str:
        q = self.quote_char
        return f"{q}{ident.replace(q, q * 2)}{q}"

    def table_ref(self, identifiers: Sequence[str]) -> str:
        return ".".join(self.quote_ident(i) for i in identifiers)

    # -- literals (literalize.rs parity) -----------------------------------
    def literal(self, value) -> str:
        if value is None:
            return "NULL"
        if isinstance(value, bool):
            return self.bool_literal(value)
        if isinstance(value, int):
            return repr(value)
        if isinstance(value, float):
            # exponent form forces DOUBLE (a bare '0.1' parses as DECIMAL
            # in duckdb/postgres, silently changing comparison semantics)
            s = repr(value)
            return s if ("e" in s or "E" in s) else s + "e0"
        if isinstance(value, str):
            if "\x00" in value:
                # NUL can't travel in SQL text; raising makes the filter
                # "unsupported" so Spark evaluates it locally instead
                raise TypeError("cannot literalize string containing NUL")
            return "'" + self.escape_string(value) + "'"
        if isinstance(value, bytes):
            return self.bytes_literal(value)
        if isinstance(value, dt.datetime):
            return self.timestamp_literal(value)
        if isinstance(value, dt.date):
            return self.date_literal(value)
        if isinstance(value, dt.time):
            return f"TIME '{value.isoformat()}'"
        if isinstance(value, (list, tuple)):
            return "(" + ", ".join(self.literal(v) for v in value) + ")"
        raise TypeError(f"cannot literalize {type(value).__name__}: {value!r}")

    def escape_string(self, value: str) -> str:
        """How a string travels inside a single-quoted literal."""
        return value.replace("'", "''")

    def string_match(self, column: str, value: str, mode: str) -> str:
        """Render a StringStartsWith/EndsWith/Contains pushdown as LIKE.

        LIKE-level wildcards in the value are escaped with the dialect's
        escape char, then the whole pattern goes through the dialect's
        string-literal escaping (so backends whose string parser itself
        eats backslashes — MySQL — stay correct, see MysqlDialect).
        """
        esc = self.like_escape_char
        body = value.replace(esc, esc + esc).replace("%", esc + "%").replace("_", esc + "_")
        pat = {"starts": body + "%", "ends": "%" + body, "contains": "%" + body + "%"}[mode]
        return f"{column} LIKE '{self.escape_string(pat)}' ESCAPE '{self.escape_string(esc)}'"

    like_escape_char = "\\"

    def bool_literal(self, value: bool) -> str:
        return "TRUE" if value else "FALSE"

    def bytes_literal(self, value: bytes) -> str:
        return f"X'{value.hex()}'"

    def timestamp_literal(self, value: dt.datetime) -> str:
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}'"

    def date_literal(self, value: dt.date) -> str:
        return f"DATE '{value.isoformat()}'"

    # -- query composition --------------------------------------------------
    def select_all_query(self, identifiers: Sequence[str]) -> str:
        """Parity: RemoteDbType::select_all_query (table.rs:69-76)."""
        return f"SELECT * FROM {self.table_ref(identifiers)}"

    def wrap_subquery(self, query: str, alias: str = "__remote_t") -> str:
        return f"({query}) AS {self.quote_ident(alias)}"

    def compose(
        self,
        source,
        columns: Sequence[str] | None = None,
        filters: Sequence[str] = (),
        limit: int | None = None,
    ) -> str:
        """Build the SQL actually sent to the remote DB: projection +
        pushed filters + pushed limit around the source.

        Parity: RemoteDbType::rewrite_query (connection/mod.rs:267-385) —
        a TABLE source composes FLAT (``SELECT .. FROM "t" WHERE ..``,
        never a subquery wrap), a QUERY source is returned unchanged when
        nothing is pushed and wrapped in a subquery otherwise. Dialects
        whose limit is a WHERE-condition (Oracle ROWNUM) fold it into the
        filter list exactly as the reference does.
        """
        filters = list(filters)
        limit_filter = self.limit_as_filter(limit)
        if limit_filter is not None:
            filters.append(limit_filter)
            limit = None
        proj = ", ".join(self.quote_ident(c) for c in columns) if columns else "*"
        if isinstance(source, (list, tuple)):
            sql = f"SELECT {proj} FROM {self.table_ref(source)}"
        elif proj == "*" and not filters and limit is None:
            return source
        else:
            sql = f"SELECT {proj} FROM {self.wrap_subquery(source)}"
        if filters:
            sql += " WHERE " + " AND ".join(f"({f})" for f in filters)
        if limit is not None:
            sql += f" {self.limit_clause(limit)}"
        return sql

    def limit_clause(self, n: int) -> str:
        return f"LIMIT {n}"

    def limit_as_filter(self, n: int | None) -> str | None:
        """Dialects whose limit composes as a WHERE condition (Oracle
        ``ROWNUM <= n`` — connection/mod.rs:324,365) return it here; the
        rest return None and use ``limit_clause``."""
        return None

    def count_query(self, source) -> str:
        """Parity: count(1) agg pushdown — try_count1_query
        (connection/mod.rs:457-): flat ``SELECT COUNT(1) FROM "t"`` for
        table sources, subquery wrap for query sources."""
        if isinstance(source, (list, tuple)):
            return f"SELECT COUNT(1) FROM {self.table_ref(source)}"
        return f"SELECT COUNT(1) FROM {self.wrap_subquery(source)}"

    # -- relational pushdown composition (parity-plus) ----------------------
    # The reference pushes filters/limit/count (scan.rs, transform.rs);
    # grouped aggregates, ORDER BY+LIMIT top-k, and same-source joins are
    # the natural next rungs of the same SQL-rewrite ladder (DataFusion's
    # federation layer does the identical rewrite). Everything stays
    # string-level and per-dialect, like compose().

    def from_ref(self, source) -> str:
        """A FROM-clause reference: table identifiers stay flat, query
        sources wrap in a subquery."""
        if isinstance(source, (list, tuple)):
            return self.table_ref(source)
        return self.wrap_subquery(source)

    def aggregate_query(
        self,
        source,
        group_by: Sequence[str],
        aggs: Sequence[tuple[str, str]],
        filters: Sequence[str] = (),
        having: str | None = None,
    ) -> str:
        """GROUP BY pushdown: aggs are (remote SQL expression, alias)
        pairs — raw expressions by design, exactly like pushed_filters
        (the caller/unparser owns dialect-correct spelling)."""
        sel = [self.quote_ident(c) for c in group_by] + [
            f"{expr} AS {self.quote_ident(alias)}" for expr, alias in aggs
        ]
        sql = f"SELECT {', '.join(sel)} FROM {self.from_ref(source)}"
        if filters:
            sql += " WHERE " + " AND ".join(f"({f})" for f in filters)
        if group_by:
            sql += " GROUP BY " + ", ".join(self.quote_ident(c) for c in group_by)
        if having:
            sql += f" HAVING {having}"
        return sql

    def topk_query(
        self,
        source,
        order_by: Sequence[tuple[str, str]],
        k: int,
        columns: Sequence[str] | None = None,
        filters: Sequence[str] = (),
    ) -> str:
        """ORDER BY + LIMIT pushdown (top-k): the remote engine sorts and
        truncates, Spark receives k rows."""
        proj = ", ".join(self.quote_ident(c) for c in columns) if columns else "*"
        sql = f"SELECT {proj} FROM {self.from_ref(source)}"
        if filters:
            sql += " WHERE " + " AND ".join(f"({f})" for f in filters)
        sql += " ORDER BY " + self._order_clause(order_by)
        return f"{sql} {self.limit_clause(k)}"

    def _order_clause(self, order_by: Sequence[tuple[str, str]]) -> str:
        parts = []
        for col, direction in order_by:
            d = direction.upper()
            if d not in ("ASC", "DESC"):
                raise ValueError(f"order direction must be ASC or DESC, got {direction!r}")
            parts.append(f"{self.quote_ident(col)} {d}")
        return ", ".join(parts)

    def join_query(
        self,
        left_source,
        right_source,
        on: Sequence[tuple[str, str]],
        left_cols: Sequence[str],
        right_cols: Sequence[str],
        how: str = "INNER",
    ) -> str:
        """Same-source join pushdown: both sides live in one remote DB, so
        the join itself runs there and Spark sees the joined rows."""
        how = how.upper()
        if how not in ("INNER", "LEFT", "RIGHT"):
            raise ValueError(f"join type must be INNER/LEFT/RIGHT, got {how!r}")
        la, ra = self.quote_ident("__l"), self.quote_ident("__r")
        sel = [f"{la}.{self.quote_ident(c)} AS {self.quote_ident(c)}" for c in left_cols] + [
            f"{ra}.{self.quote_ident(c)} AS {self.quote_ident(c)}" for c in right_cols
        ]
        cond = " AND ".join(
            f"{la}.{self.quote_ident(a)} = {ra}.{self.quote_ident(b)}" for a, b in on
        )
        return (
            f"SELECT {', '.join(sel)} FROM {self.aliased_ref(left_source, '__l')} "
            f"{how} JOIN {self.aliased_ref(right_source, '__r')} ON {cond}"
        )

    def aliased_ref(self, source, alias: str) -> str:
        # plain space alias (no AS): Oracle rejects AS on table aliases
        if isinstance(source, (list, tuple)):
            return f"{self.table_ref(source)} {self.quote_ident(alias)}"
        return self.wrap_subquery(source, alias)

    def int_values_query(self, values: Sequence[int]) -> str:
        """A one-column query over integer literals, for ``x IN (...)``."""
        rows = ", ".join(f"({int(v)})" for v in values)
        return f"WITH {self.quote_ident('__v')}(v) AS (VALUES {rows}) SELECT v FROM {self.quote_ident('__v')}"


class SqliteDialect(Dialect):
    name = "sqlite"

    def bool_literal(self, value: bool) -> str:
        return "1" if value else "0"

    def timestamp_literal(self, value: dt.datetime) -> str:
        return "'" + value.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"

    def date_literal(self, value: dt.date) -> str:
        return f"'{value.isoformat()}'"

    def wrap_subquery(self, query: str, alias: str = "__remote_t") -> str:
        # sqlite rejects AS on parenthesized FROM subqueries with quotes off
        return f"({query}) {self.quote_ident(alias)}"


class DuckdbDialect(Dialect):
    name = "duckdb"

    def bytes_literal(self, value: bytes) -> str:
        # duckdb has no X'' literal (it parses as a string!); from_hex is
        # the blob constructor
        return f"from_hex('{value.hex()}')"


class PostgresDialect(Dialect):
    name = "postgres"

    def bytes_literal(self, value: bytes) -> str:
        # the reference's spelling (connection/mod.rs sql_binary_literal:
        # E'\\x{hex}'): explicit escape-string syntax, valid regardless of
        # standard_conforming_strings
        return f"E'\\\\x{value.hex()}'"


class MysqlDialect(Dialect):
    name = "mysql"
    quote_char = "`"
    int64_type = "SIGNED"

    def int_values_query(self, values: Sequence[int]) -> str:
        return " UNION ALL ".join(f"SELECT {int(v)}" for v in values)

    def escape_string(self, value: str) -> str:
        # MySQL's default string parser treats backslash as an escape
        # inside quoted literals (unlike ANSI), so a raw backslash must be
        # doubled or it mangles the literal — e.g. the ANSI LIKE rendering
        # "... ESCAPE '\'" would escape the closing quote and break the
        # whole statement.
        return value.replace("\\", "\\\\").replace("'", "''")


class OracleDialect(Dialect):
    name = "oracle"
    int64_type = "NUMBER(19)"

    def int_values_query(self, values: Sequence[int]) -> str:
        return " UNION ALL ".join(f"SELECT {int(v)} FROM dual" for v in values)

    def bytes_literal(self, value: bytes) -> str:
        return f"HEXTORAW('{value.hex()}')"

    def limit_as_filter(self, n: int | None) -> str | None:
        # Oracle has no LIMIT; the reference composes the pushed limit as
        # a ROWNUM condition in the WHERE clause (connection/mod.rs:324),
        # which works on every Oracle version (FETCH FIRST needs 12c+).
        # ROWNUM is assigned after the other predicates, so the combined
        # WHERE means "first n rows of the filtered set" — same semantics
        # as filter-then-limit.
        return None if n is None else f"ROWNUM <= {n}"

    def limit_clause(self, n: int) -> str:
        # only reached where a WHERE-level ROWNUM would be wrong (top-k
        # truncation AFTER ORDER BY): FETCH
        # FIRST runs after the sort (12c+; the reference never pushes
        # ORDER BY so it has no such path)
        return f"FETCH FIRST {n} ROWS ONLY"

    def wrap_subquery(self, query: str, alias: str = "__remote_t") -> str:
        return f"({query}) {self.quote_ident(alias)}"

    def timestamp_literal(self, value: dt.datetime) -> str:
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}'"


class GaussdbDialect(PostgresDialect):
    """GaussDB/OpenGauss speaks the Postgres dialect (gaussdb.rs reuses the
    Postgres wire protocol and types in the reference; rewrite_query and
    sql_binary_literal group GaussDB with Postgres)."""

    name = "gaussdb"


class DmDialect(OracleDialect):
    """DM (达梦) is Oracle-compatible for literals (HEXTORAW —
    connection/mod.rs:407) but the reference groups it with the LIMIT
    dialects in rewrite_query (mod.rs:274-281), not with Oracle's ROWNUM
    composition."""

    name = "dm"

    def limit_as_filter(self, n: int | None) -> str | None:
        return None

    def limit_clause(self, n: int) -> str:
        return f"LIMIT {n}"


class MdbDialect(Dialect):
    """Access/Jet SQL via the mdbtools ODBC driver (connection/mdb/ in
    the reference). Three Jet quirks drive every override:

    - no subquery-in-FROM: composition is FLAT — projection rewrites the
      leading ``SELECT *``, WHERE/LIMIT append to the select-all source,
      and filter fragments are NOT parenthesized ("mdb sql not support
      WHERE (..)" — reference connection/mod.rs:296-305). The reference
      accordingly gates pushdown to Table sources (mod.rs:241); query
      sources compose without pushdown here too.
    - identifiers are bracket-quoted (mod.rs:399).
    - COUNT(*) through mdbtools always returns 0 (mdb/mod.rs
      fetch_table_row_count), so ``count_query`` raises and the caller
      falls back to fetch-and-count.
    """

    name = "mdb"

    def quote_ident(self, ident: str) -> str:
        return "[" + ident.replace("]", "]]") + "]"

    def compose(
        self,
        source,
        columns: Sequence[str] | None = None,
        filters: Sequence[str] = (),
        limit: int | None = None,
    ) -> str:
        # table sources compose flat with UNparenthesized filters; query
        # sources take no pushdown at all (support_rewrite gates Mdb to
        # Table sources — mod.rs:241) and pass through unchanged
        if isinstance(source, (list, tuple)):
            proj = ", ".join(self.quote_ident(c) for c in columns) if columns else "*"
            sql = f"SELECT {proj} FROM {self.table_ref(source)}"
            if filters:
                sql += " WHERE " + " AND ".join(filters)
            if limit is not None:
                sql += f" {self.limit_clause(limit)}"
            return sql
        if columns or filters or limit is not None:
            raise NotImplementedError(
                "mdb pushdown is table-source-only (no subquery-in-FROM in Jet SQL)"
            )
        return source

    def count_query(self, source_query: str) -> str:
        raise NotImplementedError(
            "mdb count pushdown unsupported (mdbtools COUNT(*) returns 0); fetch and count instead"
        )

    def aggregate_query(
        self,
        source,
        group_by: Sequence[str],
        aggs: Sequence[tuple[str, str]],
        filters: Sequence[str] = (),
        having: str | None = None,
    ) -> str:
        # flat composition, unparenthesized filters (Jet quirks above)
        sel = [self.quote_ident(c) for c in group_by] + [
            f"{expr} AS {self.quote_ident(alias)}" for expr, alias in aggs
        ]
        sql = f"SELECT {', '.join(sel)} FROM {self.from_ref(source)}"
        if filters:
            sql += " WHERE " + " AND ".join(filters)
        if group_by:
            sql += " GROUP BY " + ", ".join(self.quote_ident(c) for c in group_by)
        if having:
            sql += f" HAVING {having}"
        return sql

    def topk_query(
        self,
        source,
        order_by: Sequence[tuple[str, str]],
        k: int,
        columns: Sequence[str] | None = None,
        filters: Sequence[str] = (),
    ) -> str:
        # Jet has no LIMIT; SELECT TOP n ... ORDER BY is the spelling
        # (note Jet's TOP includes ties on the boundary value)
        proj = ", ".join(self.quote_ident(c) for c in columns) if columns else "*"
        sql = f"SELECT TOP {k} {proj} FROM {self.from_ref(source)}"
        if filters:
            sql += " WHERE " + " AND ".join(filters)
        return sql + " ORDER BY " + self._order_clause(order_by)

    def from_ref(self, source) -> str:
        if isinstance(source, (list, tuple)):
            return self.table_ref(source)
        raise NotImplementedError("mdb cannot nest query sources (no subquery-in-FROM)")


DIALECTS: dict[str, Dialect] = {
    "sqlite": SqliteDialect(),
    "duckdb": DuckdbDialect(),
    "postgres": PostgresDialect(),
    "mysql": MysqlDialect(),
    "oracle": OracleDialect(),
    "gaussdb": GaussdbDialect(),
    "dm": DmDialect(),
    "mdb": MdbDialect(),
}


def dialect_for(backend: str) -> Dialect:
    return DIALECTS[backend]
