"""PySpark Python DataSource integration for remote tables.

This is the Spark-idiomatic replacement for the reference's DataFusion
`TableProvider` (/root/reference/remote-table/src/table.rs): Catalyst
calls `pushFilters` (→ unparsed to remote dialect SQL, exact/unsupported
split), `partitions` (→ disjoint remote range predicates, one executor
task each), and `read` (→ Arrow batches streamed from the remote DB).
The writer is the insert path (insert.rs parity).

Usage:
    spark.dataSource.register(RemoteTableDataSource)
    df = (spark.read.format("remote_table")
          .schema(schema)                       # or let schema() infer
          .option("spec", spec.to_json())
          .load())
"""

from __future__ import annotations

import uuid
from contextlib import closing
from typing import Iterable, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    Filter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .connection import connect, connect_writable
from .scan import RemoteScanSpec, remote_schema
from .unparse import split_filters


def infer_remote_schema(spec: RemoteScanSpec) -> StructType:
    """Driver-side schema inference for a DataSource read: the shared
    rule on a connection of its own, pruned to spec's columns."""
    with closing(connect(spec.options)) as conn:
        schema = remote_schema(conn, spec)
    if spec.columns:
        by_name = {f.name: f for f in schema.fields}
        schema = StructType([by_name[c] for c in spec.columns])
    return schema


class RemotePartition(InputPartition):
    def __init__(self, predicates: tuple[str, ...]):
        self.predicates = predicates


class RemoteTableReader(DataSourceReader):
    def __init__(self, spec: RemoteScanSpec, schema: StructType):
        self.spec = spec
        self.schema = schema

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Exact/Unsupported split (transform.rs:52-86 parity): filters
        that unparse in the remote dialect are absorbed into the remote
        SQL; the rest are returned for Spark-side evaluation. A custom
        literalizer (spec.literalizer import path) overrides per-value
        rendering, as literalize.rs's pluggable Literalize does."""
        from .unparse import resolve_literalizer

        literal = resolve_literalizer(self.spec.literalizer)
        pushed_sql, unsupported = split_filters(list(filters), self.spec.dialect, literal)
        self.spec.pushed_filters.extend(pushed_sql)
        return unsupported

    def partitions(self) -> Sequence[InputPartition]:
        return [RemotePartition(p) for p in self.spec.partition_predicates()]

    def read(self, partition: RemotePartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        spec = self.spec
        if spec.columns is None:
            # prune the remote projection to the schema Spark asked for
            spec = RemoteScanSpec.from_json(spec.to_json())
            spec.columns = [f.name for f in self.schema.fields]
        yield from spec.fetch_arrow(tuple(partition.predicates), arrow_schema)


ATTEMPT_COLUMN = "__dfrt_attempt"  # hidden staging column: the attempt that staged a row


class RemoteCommit(WriterCommitMessage):
    """A task attempt's staged write; its rows carry ``attempt`` in the
    staging table's ATTEMPT_COLUMN."""

    def __init__(self, attempt: int):
        self.attempt = attempt


class RemoteTableWriter(DataSourceArrowWriter):
    """Insert path (insert.rs parity), all-or-nothing in both modes.

    The writer creates the job's staging table (an empty copy of the
    target's columns plus a hidden ATTEMPT_COLUMN); every task attempt
    streams its Arrow batches into it in one transaction of its own
    (chunked executemany; DuckDB ingests the Arrow batches directly),
    tags its rows with a random attempt id and returns that id in its
    RemoteCommit. Only `commit()`, after every task succeeded, copies
    the rows of the attempts named in its messages into the target by
    the writer's column list (so target defaults fill the columns the
    DataFrame lacks) and drops the staging table, in one transaction on
    one connection; overwrite first deletes the target's rows in that
    same transaction. A task that Spark re-ran after its staged insert
    had committed (executor loss, speculation) therefore has its rows
    copied once: Spark commits the messages of one attempt per task.
    `abort()` drops the staging table, so a failed or aborted job leaves
    the target untouched (the reference's insert path never leaves a
    partial write visible either).

    File-backed remotes (sqlite/duckdb) are single-writer: insert
    through coalesce(1), as RemoteTable.insert() does; server backends
    take parallel writers."""

    def __init__(self, spec: RemoteScanSpec, schema: StructType, overwrite: bool = False):
        if not spec.table:
            raise ValueError("insert requires a table source, not a query")
        self.spec = spec
        self.columns = [f.name for f in schema.fields]
        self.overwrite = overwrite
        self.staging = f"__{spec.table[-1]}_staging_{uuid.uuid4().hex[:8]}"
        d = spec.dialect
        conn = connect_writable(spec.options)
        try:
            conn.cursor().execute(
                f"CREATE TABLE {d.quote_ident(self.staging)} AS "
                f"SELECT {d.quote_ident('__t')}.*, CAST(NULL AS {d.int64_type}) AS {d.quote_ident(ATTEMPT_COLUMN)} "
                f"FROM {d.aliased_ref(spec.table, '__t')} WHERE 1 = 0"
            )
            conn.commit()
        finally:
            conn.close()

    def commit(self, messages) -> None:
        d = self.spec.dialect
        target, staging = d.table_ref(self.spec.table), d.quote_ident(self.staging)
        cols = ", ".join(d.quote_ident(c) for c in self.columns)
        conn = connect_writable(self.spec.options)
        try:
            cur = conn.cursor()
            if self.overwrite:
                cur.execute(f"DELETE FROM {target}")
            # Spark passes one message per task (an empty frame still
            # runs one task), from the attempt it committed
            attempts = d.int_values_query([m.attempt for m in messages])
            cur.execute(
                f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging} "
                f"WHERE {d.quote_ident(ATTEMPT_COLUMN)} IN ({attempts})"
            )
            cur.execute(f"DROP TABLE {staging}")
            conn.commit()
        finally:
            conn.close()

    def abort(self, messages) -> None:
        conn = connect_writable(self.spec.options)
        try:
            conn.cursor().execute(f"DROP TABLE {self.spec.dialect.quote_ident(self.staging)}")
            conn.commit()
        except Exception:
            pass  # best-effort cleanup; the target was never touched
        finally:
            conn.close()

    def write(self, iterator) -> RemoteCommit:
        attempt = uuid.uuid4().int >> 65  # random, positive, fits a BIGINT
        d = self.spec.dialect
        staging = d.quote_ident(self.staging)
        cols = ", ".join(d.quote_ident(c) for c in [*self.columns, ATTEMPT_COLUMN])
        conn = connect_writable(self.spec.options)
        try:
            if self.spec.options.backend == "duckdb":
                # Arrow-native path: register each batch and INSERT..SELECT —
                # DuckDB's executemany re-binds a prepared statement per row
                # (~600 rows/s); the relation scan ingests the Arrow buffers
                # directly (152k rows/s end to end at 1M rows, docs/SCALE.md).
                import pyarrow as pa

                conn.begin()  # a failed task stages none of its batches
                for batch in iterator:
                    tbl = pa.Table.from_batches([batch])
                    conn.register("__dfrt_insert_batch", tbl)
                    conn.execute(
                        f"INSERT INTO {staging} ({cols}) "
                        f"SELECT *, {attempt} FROM __dfrt_insert_batch"
                    )
                    conn.unregister("__dfrt_insert_batch")
                conn.commit()
                return RemoteCommit(attempt)
            style = "%s" if self.spec.options.backend in ("postgres", "mysql") else "?"
            placeholders = ", ".join([style] * (len(self.columns) + 1))
            sql = f"INSERT INTO {staging} ({cols}) VALUES ({placeholders})"
            cur = conn.cursor()
            for batch in iterator:
                rows = [(*row.values(), attempt) for row in batch.to_pylist()]
                for i in range(0, len(rows), self.spec.options.stream_chunk_size):
                    cur.executemany(sql, rows[i : i + self.spec.options.stream_chunk_size])
            conn.commit()
        finally:
            conn.close()
        return RemoteCommit(attempt)


class RemoteTableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "remote_table"

    def _spec(self) -> RemoteScanSpec:
        return RemoteScanSpec.from_json(self.options["spec"])

    def schema(self) -> StructType:
        return infer_remote_schema(self._spec())

    def reader(self, schema: StructType) -> RemoteTableReader:
        return RemoteTableReader(self._spec(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> RemoteTableWriter:
        return RemoteTableWriter(self._spec(), schema, overwrite=overwrite)
