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

from typing import Iterable, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    Filter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructField, StructType

from .connection import connect, connect_writable
from .scan import RemoteScanSpec
from .schema import infer_schema_from_rows, remote_type_to_spark
from .unparse import split_filters


SAMPLE_ROWS = 100  # rows a DB-API backend's column types are inferred from


def remote_schema(conn, spec: RemoteScanSpec, sample: tuple[list[str], list[tuple]] | None = None) -> StructType:
    """The schema rule both read paths share (table.rs infer_schema
    parity), on an open connection to spec's remote.

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


def infer_remote_schema(spec: RemoteScanSpec) -> StructType:
    """Driver-side schema inference for a DataSource read: the shared
    rule on a connection of its own, pruned to spec's columns."""
    conn = connect(spec.options)
    try:
        schema = remote_schema(conn, spec)
    finally:
        conn.close()
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


class RemoteCommit(WriterCommitMessage):
    pass


class RemoteTableWriter(DataSourceArrowWriter):
    """Insert path (insert.rs parity): each task streams its Arrow batches
    into the remote table with chunked executemany. File-backed remotes
    (sqlite/duckdb) are single-writer: insert through coalesce(1), as
    RemoteTable.insert() does; server backends take parallel writers.

    Overwrite goes through a staging table: tasks write into the staging
    copy, and only `commit()` (after every task succeeded) truncates the
    target and swaps the rows in, in one transaction on one connection —
    a failed or aborted job leaves the target untouched (the reference's
    insert path never destroys data before a successful write either)."""

    def __init__(self, spec: RemoteScanSpec, schema: StructType, overwrite: bool = False):
        if not spec.table:
            raise ValueError("insert requires a table source, not a query")
        self.spec = spec
        self.columns = [f.name for f in schema.fields]
        self.overwrite = overwrite
        if overwrite:
            import uuid

            d = spec.dialect
            self.staging = f"__{spec.table[-1]}_staging_{uuid.uuid4().hex[:8]}"
            conn = connect_writable(spec.options)
            try:
                cur = conn.cursor()
                cur.execute(
                    f"CREATE TABLE {d.quote_ident(self.staging)} AS "
                    f"SELECT * FROM {d.table_ref(spec.table)} WHERE 1 = 0"
                )
                conn.commit()
            finally:
                conn.close()
        else:
            self.staging = None

    def _target_ref(self) -> str:
        d = self.spec.dialect
        return d.quote_ident(self.staging) if self.staging else d.table_ref(self.spec.table)

    def commit(self, messages) -> None:
        if not self.overwrite:
            return
        d = self.spec.dialect
        conn = connect_writable(self.spec.options)
        try:
            cur = conn.cursor()
            cur.execute(f"DELETE FROM {d.table_ref(self.spec.table)}")
            cur.execute(
                f"INSERT INTO {d.table_ref(self.spec.table)} "
                f"SELECT * FROM {d.quote_ident(self.staging)}"
            )
            cur.execute(f"DROP TABLE {d.quote_ident(self.staging)}")
            conn.commit()
        finally:
            conn.close()

    def abort(self, messages) -> None:
        if not self.overwrite:
            return
        conn = connect_writable(self.spec.options)
        try:
            conn.cursor().execute(f"DROP TABLE {self.spec.dialect.quote_ident(self.staging)}")
            conn.commit()
        except Exception:
            pass  # best-effort cleanup; the target was never touched
        finally:
            conn.close()

    def write(self, iterator) -> RemoteCommit:
        d = self.spec.dialect
        table_ref = self._target_ref()
        cols = ", ".join(d.quote_ident(c) for c in self.columns)
        conn = connect_writable(self.spec.options)
        try:
            if self.spec.options.backend == "duckdb":
                # Arrow-native path: register each batch and INSERT..SELECT —
                # DuckDB's executemany re-binds a prepared statement per row
                # (~600 rows/s); the relation scan ingests the Arrow buffers
                # directly (~1M rows/s measured in bench_remote.py).
                import pyarrow as pa

                for batch in iterator:
                    tbl = pa.Table.from_batches([batch])
                    conn.register("__dfrt_insert_batch", tbl)
                    conn.execute(
                        f"INSERT INTO {table_ref} ({cols}) "
                        f"SELECT * FROM __dfrt_insert_batch"
                    )
                    conn.unregister("__dfrt_insert_batch")
                conn.commit()
                return RemoteCommit()
            style = "%s" if self.spec.options.backend in ("postgres", "mysql") else "?"
            placeholders = ", ".join([style] * len(self.columns))
            sql = f"INSERT INTO {table_ref} ({cols}) VALUES ({placeholders})"
            cur = conn.cursor()
            for batch in iterator:
                rows = [tuple(row.values()) for row in batch.to_pylist()]
                for i in range(0, len(rows), self.spec.options.stream_chunk_size):
                    cur.executemany(sql, rows[i : i + self.spec.options.stream_chunk_size])
            conn.commit()
        finally:
            conn.close()
        return RemoteCommit()


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
