"""RemoteScanSpec: the serializable description of one remote scan, and
the one fetch that runs its SQL and turns the rows into Arrow batches —
for DataSource tasks, stream slices and the driver's bounded results.

Parity: /root/reference/remote-table/src/scan.rs (RemoteTableScanExec:
source + pushed filters + limit + projection) and codec.rs (the spec is
plain JSON, the Spark-native plan-serde: the driver composes it, ships
it inside the DataSource/[reader] pickle, executors rebuild connections
from it).

Scale: `fetch_partitions` + `partition_column` split the remote query
into N disjoint range predicates so N executor tasks stream in
parallel — the distributed generalization of the reference's chunked
stream (`stream_chunk_size` still bounds each Arrow batch).
"""

from __future__ import annotations

import json
from contextlib import closing, contextmanager
from dataclasses import dataclass, field
from itertools import chain
from typing import Iterator

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from .connection import connect
from .dialect import dialect_for
from .options import ConnectionOptions
from .schema import infer_schema_from_rows, remote_type_to_spark

SAMPLE_ROWS = 100  # rows a DB-API backend's column types are inferred from


@dataclass
class RemoteScanSpec:
    options: ConnectionOptions
    # source: SQL string, or list of table identifiers (RemoteSource parity)
    query: str | None = None
    table: list[str] | None = None
    columns: list[str] | None = None
    pushed_filters: list[str] = field(default_factory=list)
    limit: int | None = None
    partition_column: str | None = None
    fetch_partitions: int = 1
    # 'module:function' import path of a custom literal renderer used when
    # unparsing pushdown filters (literalize.rs `Literalize` parity); the
    # JSON spec carries only the name, the code ships with the job
    literalizer: str | None = None

    # -- source / SQL composition ------------------------------------------
    @property
    def dialect(self):
        return dialect_for(self.options.backend)

    def source_query(self) -> str:
        if self.query is not None:
            return self.query
        if self.table:
            return self.dialect.select_all_query(self.table)
        raise ValueError("RemoteScanSpec needs a query or a table")

    def remote_sql(self, extra_filters: tuple[str, ...] = ()) -> str:
        """The exact SQL sent to the remote DB (inspectable, testable —
        the analogue of the reference's plan-display assertions). Table
        sources compose flat, query sources wrap only when something is
        pushed (RemoteDbType::rewrite_query parity)."""
        return self.dialect.compose(
            self.table if self.table else self.query,
            columns=self.columns,
            filters=tuple(self.pushed_filters) + extra_filters,
            limit=self.limit,
        )

    def count_sql(self, limit: int | None = None) -> str:
        """``SELECT COUNT(1)`` over the scan's rows: the source with the
        pushed filters and limit (a projection cannot change the count),
        and at most ``limit`` rows of it when given. Nothing pushed keeps
        the flat count1 shape (try_count1_query parity). Raises
        NotImplementedError for a dialect that cannot push a count."""
        if self.limit is not None:
            limit = self.limit if limit is None else min(limit, self.limit)
        source = self.table if self.table else self.query
        if self.pushed_filters or limit is not None:
            source = self.dialect.compose(source, filters=self.pushed_filters, limit=limit)
        return self.dialect.count_query(source)

    # -- serde (codec.rs parity) -------------------------------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "options": self.options.to_dict(),
                "query": self.query,
                "table": self.table,
                "columns": self.columns,
                "pushed_filters": self.pushed_filters,
                "limit": self.limit,
                "partition_column": self.partition_column,
                "fetch_partitions": self.fetch_partitions,
                "literalizer": self.literalizer,
            }
        )

    @staticmethod
    def from_json(s: str) -> "RemoteScanSpec":
        d = json.loads(s)
        d["options"] = ConnectionOptions.from_dict(d["options"])
        return RemoteScanSpec(**d)

    # -- driver-side probes: partition planning, counts ---------------------
    def key_bounds(self, column: str) -> tuple:
        """(MIN, MAX) of ``column`` over the source, in one remote
        aggregate (an indexed one on a key column)."""
        d = self.dialect
        col = d.quote_ident(column)
        return tuple(self._fetchone(f"SELECT MIN({col}), MAX({col}) FROM {d.wrap_subquery(self.source_query())}"))

    def count(self, limit: int | None = None) -> int:
        """The scan's row count (``count_sql``), counting at most ``limit``
        rows: one remote aggregate, one integer back over the wire."""
        return int(self._fetchone(self.count_sql(limit))[0])

    def _fetchone(self, sql: str) -> tuple:
        with closing(connect(self.options)) as conn, remote_errors(self.options, sql):
            cur = conn.cursor()
            cur.execute(sql)
            return cur.fetchone()

    def partition_predicates(self) -> list[tuple[str, ...]]:
        """Compute per-task WHERE fragments. With a numeric partition
        column: probe min/max once, emit disjoint half-open ranges (first
        range also takes NULLs). Without one: a single partition.

        A pushed limit also forces a single partition: the LIMIT composes
        into each partition's remote SQL, so N ranges would return up to
        N*limit rows; a limited scan is bounded anyway, so parallel fetch
        buys nothing and single-partition keeps the row count exact."""
        if not self.partition_column or self.fetch_partitions <= 1 or self.limit is not None:
            return [()]
        lo, hi = self.key_bounds(self.partition_column)
        if lo is None or hi is None or lo == hi:
            return [()]
        col = self.dialect.quote_ident(self.partition_column)
        ranges = split_range(int(lo), int(hi) + 1, self.fetch_partitions)
        preds = [f"({col} >= {s} AND {col} < {e})" for s, e in ranges]
        preds[0] = f"({preds[0]} OR {col} IS NULL)"
        return [(p,) for p in preds]

    # -- fetch (executor tasks, and the driver for bounded results) ---------
    def fetch_arrow(
        self, extra_filters: tuple[str, ...], arrow_schema: pa.Schema | None = None
    ) -> Iterator[pa.RecordBatch]:
        """Run the scan's SQL on one connection and stream the result as
        Arrow batches of at most ``stream_chunk_size`` rows, at least one
        (possibly empty) batch. The connection closes as soon as the
        generator ends or is closed.

        Without ``arrow_schema`` (a scan with no column projection) the
        schema is ``remote_schema``'s, resolved on the same connection,
        with the first chunk as the DB-API type sample."""
        sql = self.remote_sql(extra_filters)
        size = self.options.stream_chunk_size
        with closing(connect(self.options)) as conn, remote_errors(self.options, sql):
            if self.options.backend == "duckdb":
                # native Arrow path: zero row-materialization
                if arrow_schema is None:
                    arrow_schema = to_arrow_schema(remote_schema(conn, self))
                reader = conn.execute(sql).fetch_record_batch(size)
                batches = (align_batch(b, arrow_schema) for b in reader)
            else:
                cur = conn.cursor()
                cur.execute(sql)
                rows = cur.fetchmany(size)
                if arrow_schema is None:
                    sample = [d[0] for d in cur.description], rows
                    arrow_schema = to_arrow_schema(remote_schema(conn, self, sample))
                chunks = chain([rows], iter(lambda: cur.fetchmany(size), []))
                batches = (rows_to_batch(r, arrow_schema) for r in chunks)
            first = next(batches, None)
            yield pa.RecordBatch.from_pylist([], schema=arrow_schema) if first is None else first
            yield from batches


def remote_schema(conn, spec: RemoteScanSpec, sample: tuple[list[str], list[tuple]] | None = None) -> StructType:
    """The schema rule every read shares (table.rs infer_schema parity),
    on an open connection to spec's remote.

    duckdb: DESCRIBE gives full types. sqlite/DB-API: cursor names + the
    first SAMPLE_ROWS rows for types (sqlite cursors carry no type
    metadata for query sources). ``sample`` is (names, rows) of spec's
    source already fetched on ``conn``; without it the rows are fetched
    here.
    """
    if spec.options.backend == "duckdb":
        described = conn.execute(
            f"DESCRIBE SELECT * FROM {spec.dialect.wrap_subquery(spec.source_query())}"
        ).fetchall()
        return StructType(
            [StructField(name, remote_type_to_spark(type_name), True) for name, type_name, *_ in described]
        )
    if sample is None:
        cur = conn.cursor()
        cur.execute(spec.dialect.compose(spec.table if spec.table else spec.query, limit=SAMPLE_ROWS))
        sample = [d[0] for d in cur.description], cur.fetchall()
    names, rows = sample
    return infer_schema_from_rows(names, rows[:SAMPLE_ROWS])


def split_range(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    """Consecutive (start, end) steps from ``lo`` to ``hi``, at most ``n``
    of them, as equal as integer steps allow; the caller decides which
    end is open."""
    step = max(1, (hi - lo + n - 1) // n)
    return [(s, min(s + step, hi)) for s in range(lo, hi, step)]


@contextmanager
def remote_errors(options: ConnectionOptions, sql: str):
    """Name the backend and the SQL on any error raised inside (the
    exception keeps its type, so callers' handlers still match)."""
    try:
        yield
    except Exception as e:
        e.add_note(f"remote {options.backend} query: {sql}")
        raise


def rows_to_batch(rows: list[tuple], arrow_schema: pa.Schema) -> pa.RecordBatch:
    """DB-API rows as one Arrow batch of ``arrow_schema`` (by position)."""
    cols = list(zip(*rows)) or [[] for _ in arrow_schema]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def align_batch(batch: pa.RecordBatch, schema: pa.Schema) -> pa.RecordBatch:
    if batch.schema == schema:
        return batch
    arrays = [batch.column(i).cast(schema.field(i).type) for i in range(batch.num_columns)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)
