"""Streaming remote-table source: incremental tailing of a remote table
by a monotonically increasing key column.

The reference streams a remote result set once (chunked record
batches); Structured Streaming generalizes that to an unbounded source:
each microbatch fetches rows with key > last committed offset, so a
growing remote table (CDC-style append log, autoincrement OLTP table)
feeds a Spark streaming pipeline with exactly-once offsets tracked in
the checkpoint.

Usage:
    spark.dataSource.register(RemoteTableStreamDataSource)
    stream = (spark.readStream.format("remote_table_stream")
              .schema(schema)
              .option("spec", spec.to_json())
              .option("key_column", "id")
              .load())

Scale: there is one reader, a partition-planning DataSourceStreamReader
— the driver only probes MIN/MAX of the key column per microbatch (an
indexed aggregate on the remote side), splits the (start, end] key range
into `fetch_partitions` disjoint slices, and each slice is fetched ON AN
EXECUTOR through the same Arrow path as the batch DataSource, in
`stream_chunk_size` batches rather than one fetchall() per microbatch.
Backfill of a large table therefore parallelizes like a batch read;
Spark state/offsets stay O(1). A trickle-rate tail, a non-integer key
or `fetch_partitions=1` is one slice on the same path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from .scan import RemoteScanSpec, split_range


class RemoteKeyRangePartition(InputPartition):
    """One (lo, hi] slice of the microbatch's key range."""

    def __init__(self, lo, hi):
        self.lo = lo
        self.hi = hi


class RemoteTableStreamReader(DataSourceStreamReader):
    """Partition-planning stream reader: offsets advance to the remote
    MAX(key); each microbatch's key range is split into disjoint slices
    fetched on executors (scan.py's Arrow fetch — the same path as the
    batch DataSource)."""

    def __init__(self, spec: RemoteScanSpec, key_column: str, schema: StructType):
        self.spec = spec
        self.key_column = key_column
        self.schema = schema
        if self.spec.columns is None:
            self.spec.columns = [f.name for f in schema.fields]

    # -- driver-side offset probes (indexed aggregates on the remote) -------
    def initialOffset(self) -> dict:
        return {"last_key": None}

    def latestOffset(self) -> dict:
        return {"last_key": self.spec.key_bounds(self.key_column)[1]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start.get("last_key"), end.get("last_key")
        if hi is None or (lo is not None and lo >= hi):
            return [RemoteKeyRangePartition(None, None)]  # empty microbatch
        n = max(1, self.spec.fetch_partitions)
        if n == 1 or not isinstance(hi, int):
            return [RemoteKeyRangePartition(lo, hi)]
        if lo is None:
            lo = self.spec.key_bounds(self.key_column)[0] - 1  # backfill: start below the smallest key
        return [RemoteKeyRangePartition(s, e) for s, e in split_range(lo, hi, n)]

    # -- executor-side fetch --------------------------------------------------
    def read(self, partition: RemoteKeyRangePartition):
        if partition.hi is None and partition.lo is None:
            return iter(())
        from pyspark.sql.pandas.types import to_arrow_schema

        d = self.spec.dialect
        key = d.quote_ident(self.key_column)
        preds = []
        if partition.lo is not None:
            preds.append(f"{key} > {d.literal(partition.lo)}")
        preds.append(f"{key} <= {d.literal(partition.hi)}")
        return self.spec.fetch_arrow(tuple(preds), to_arrow_schema(self.schema))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint; nothing remote to ack


class RemoteTableStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "remote_table_stream"

    def streamReader(self, schema: StructType) -> RemoteTableStreamReader:
        spec = RemoteScanSpec.from_json(self.options["spec"])
        return RemoteTableStreamReader(spec, self.options["key_column"], schema)
