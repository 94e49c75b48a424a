"""RemoteScanSpec: the serializable description of one remote scan, and
the executor-side fetch that turns a partition of it into Arrow batches.

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
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa

from .connection import connect
from .dialect import dialect_for
from .options import ConnectionOptions


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

    def count_sql(self) -> str:
        return self.dialect.count_query(self.table if self.table else self.query)

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

    # -- partition planning (driver side) ----------------------------------
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
        d = self.dialect
        col = d.quote_ident(self.partition_column)
        probe = f"SELECT MIN({col}), MAX({col}) FROM {d.wrap_subquery(self.source_query())}"
        conn = connect(self.options)
        try:
            lo, hi = conn.execute(probe).fetchone() if hasattr(conn, "execute") else _cursor_one(conn, probe)
        finally:
            conn.close()
        if lo is None or hi is None or lo == hi:
            return [()]
        n = self.fetch_partitions
        lo_i, hi_i = int(lo), int(hi) + 1
        step = max(1, (hi_i - lo_i + n - 1) // n)
        preds: list[tuple[str, ...]] = []
        start = lo_i
        first = True
        while start < hi_i:
            end = min(start + step, hi_i)
            pred = f"{col} >= {start} AND {col} < {end}"
            if first:
                pred = f"({pred}) OR {col} IS NULL"
                first = False
            preds.append((f"({pred})",))
            start = end
        return preds

    # -- executor-side fetch ------------------------------------------------
    def fetch_arrow(self, extra_filters: tuple[str, ...], arrow_schema: pa.Schema) -> Iterator[pa.RecordBatch]:
        sql = self.remote_sql(extra_filters)
        conn = connect(self.options)
        try:
            with remote_errors(self.options, sql):
                if self.options.backend == "duckdb":
                    # native Arrow path: zero row-materialization
                    reader = conn.execute(sql).fetch_record_batch(self.options.stream_chunk_size)
                    for batch in reader:
                        yield align_batch(batch, arrow_schema)
                    return
                cur = conn.cursor()
                cur.execute(sql)
                while True:
                    rows = cur.fetchmany(self.options.stream_chunk_size)
                    if not rows:
                        break
                    yield rows_to_batch(rows, arrow_schema)
        finally:
            conn.close()


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


def _cursor_one(conn, sql):
    cur = conn.cursor()
    cur.execute(sql)
    return cur.fetchone()
