"""Spans for the traced run, recorded from the benchmark's own files.

A span is (name, start, end, parent, op id, attributes). The tracer
wraps public functions of the engine's modules in this process; spans
stay in memory and are written out when the run ends. A layer's self
time is its span time minus the time its child spans cover.

Spark runs the DataSource reader and writer in Python worker processes,
which this process cannot wrap. The workloads therefore replay those
layers here, one partition at a time, under a ``replay`` span: the
driver-side spans of an operation and its replayed worker-side spans
share the operation id but are told apart by that root.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when enabled; every call is a cheap no-op when not."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        # reads captured by the RemoteTable.read wrapper, replayed later:
        # (spec json, StructType, filters Spark offers to pushFilters)
        self.captured_reads: list[tuple[str, object, list]] = []
        self.captured_writes: list[tuple[str, object]] = []
        self.offered_next: list = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent, self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        # generators closed out of order pop everything opened inside them
        while self._stack:
            top = self._stack.pop()
            if top is s:
                break
            top.end = top.end or s.end

    # -- wrapping ------------------------------------------------------------
    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace owner.attr with a traced version. ``after(span,
        result, args, kwargs)`` may add attributes once the call returns.
        Generator functions get a span that covers their iteration."""
        orig = getattr(owner, attr)
        tracer = self
        if inspect.isgeneratorfunction(orig):

            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                s = tracer.open(name)
                batches = rows = 0
                try:
                    for item in orig(*args, **kwargs):
                        if batches == 0:
                            s.attrs["first_item_s"] = time.perf_counter() - s.start
                        batches += 1
                        rows += getattr(item, "num_rows", 0)
                        yield item
                finally:
                    s.attrs.update(items=batches, rows=rows)
                    tracer.close(s)

        else:

            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                s = tracer.open(name)
                try:
                    result = orig(*args, **kwargs)
                    if after is not None:
                        after(s, result, args, kwargs)
                    return result
                finally:
                    tracer.close(s)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def patch_function(self, func, name: str, after=None) -> None:
        """Patch every module-level binding of ``func`` in the engine's
        package (modules import functions by name, so each importer
        holds its own reference)."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("datafusion_remote_table_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self.patch(mod, attr, name, after)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def install(self) -> None:
        """Wrap the engine's layer boundaries (see the per-layer metrics
        in BENCHMARK.json for which boundary feeds which metric)."""
        from datafusion_remote_table_spark import session
        from datafusion_remote_table_spark.remote import (
            connection,
            datasource,
            dialect,
            pgwire,
            predicate,
            scan,
            schema,
            table,
            unparse,
        )

        def rows_of(s, cur, args, kwargs):
            s.attrs["rows"] = max(cur.rowcount, 0)

        self.patch_function(session.load_tables, "session.load_tables")
        self.patch_function(connection.connect, "remote.connection.connect")
        self.patch_function(datasource.infer_remote_schema, "remote.datasource.infer_remote_schema")
        self.patch_function(schema.infer_schema_from_rows, "remote.schema.infer_schema_from_rows")
        self.patch_function(unparse.split_filters, "remote.unparse.split_filters")
        self.patch_function(predicate.render_predicate, "remote.predicate.render_predicate")
        self.patch(connection.PoolValve, "acquire", "remote.connection.valve_wait")
        self.patch(dialect.Dialect, "compose", "remote.dialect.compose")
        self.patch(pgwire.PgWireCursor, "execute", "remote.pgwire.execute", after=rows_of)
        self.patch(scan.RemoteScanSpec, "partition_predicates", "remote.scan.partition_predicates")
        self.patch(scan.RemoteScanSpec, "fetch_arrow", "remote.scan.fetch_arrow")
        self.patch(datasource.RemoteTableReader, "pushFilters", "remote.datasource.push_filters",
                   after=self._count_pushed)
        self.patch(datasource.RemoteTableWriter, "write", "remote.datasource.writer_write")
        self.patch(datasource.RemoteTableWriter, "commit", "remote.datasource.commit")
        self.patch(table.RemoteTable, "count", "remote.table.count")
        self.patch(table.RemoteTable, "aggregate", "remote.table.aggregate")
        self.patch(table.RemoteTable, "topk", "remote.table.topk")
        self._capture(table, scan)

    @staticmethod
    def _count_pushed(s, unsupported, args, kwargs):
        offered = list(args[1] if len(args) > 1 else kwargs["filters"])
        s.attrs.update(offered=len(offered), pushed=len(offered) - len(list(unsupported)))

    def _capture(self, table, scan) -> None:
        """RemoteTable.read and .insert serialize the scan spec they hand
        to Spark; keep that JSON (what the workers rebuild the spec from)
        with the schema, so the replay runs on exactly the worker inputs."""
        tracer = self
        read, insert, to_json = table.RemoteTable.read, table.RemoteTable.insert, scan.RemoteScanSpec.to_json
        last_json: list[str] = []
        read_sig = inspect.signature(read)

        def traced_to_json(spec):
            out = to_json(spec)
            last_json.append(out)
            return out

        def traced_read(self_, *args, **kwargs):
            with tracer.span("remote.table.read"):
                df = read(self_, *args, **kwargs)
            bound = read_sig.bind(self_, *args, **kwargs)
            columns = bound.arguments.get("columns")
            schema = self_.schema
            if columns:
                by_name = {f.name: f for f in schema.fields}
                schema = type(schema)([by_name[c] for c in columns])
            offered, tracer.offered_next = tracer.offered_next, []
            tracer.captured_reads.append((last_json[-1], schema, offered))
            return df

        def traced_insert(self_, df, *args, **kwargs):
            with tracer.span("remote.table.insert"):
                out = insert(self_, df, *args, **kwargs)
            tracer.captured_writes.append((last_json[-1], df.schema))
            return out

        for owner, attr, fn in (
            (scan.RemoteScanSpec, "to_json", traced_to_json),
            (table.RemoteTable, "read", traced_read),
            (table.RemoteTable, "insert", traced_insert),
        ):
            self._patched.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, functools.wraps(getattr(owner, attr))(fn))

    # -- analysis ------------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times_by_span(self) -> dict[int, float]:
        """Seconds per span id: its duration minus its children's."""
        kids = self.children()
        return {s.sid: s.dur - sum(c.dur for c in kids.get(s.sid, ())) for s in self.spans}

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name (per layer)."""
        out: dict[str, float] = {}
        for s, own in zip(self.spans, self.self_times_by_span().values()):
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def under(self, root_name: str) -> set[int]:
        """Ids of spans that have an ancestor (or are) named root_name."""
        by_id = {s.sid: s for s in self.spans}
        inside: set[int] = set()
        for s in self.spans:
            p: Span | None = s
            while p is not None:
                if p.name == root_name:
                    inside.add(s.sid)
                    break
                p = by_id.get(p.parent) if p.parent is not None else None
        return inside

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "self_s": self.self_times(),
                    "spans": [
                        [s.sid, s.name, round(s.start, 6), round(s.end, 6), s.parent, s.op, s.attrs]
                        for s in self.spans
                    ],
                },
                fh,
            )


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one traced call adds over an untraced call, measured on a
    trivial function in this process (the tracing overhead per span)."""

    class Probe:
        def f(self):
            return None

    t = Tracer(enabled=True)
    p = Probe()
    t0 = time.perf_counter()
    for _ in range(n):
        p.f()
    plain = time.perf_counter() - t0
    t.patch(Probe, "f", "probe")
    t0 = time.perf_counter()
    for _ in range(n):
        p.f()
    traced = time.perf_counter() - t0
    t.unpatch()
    return max(traced - plain, 0.0) / n
