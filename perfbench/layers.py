"""Per-layer metrics of a traced run, computed from its spans.

Every metric named in BENCHMARK.json's ``per_layer`` list is produced on
every workload; a layer the workload does not reach reads 0. Spans under
a ``replay`` root are the worker-side layers called in this process
(see trace.py); the others ran during the timed Spark operation.
"""

from __future__ import annotations

from .trace import Tracer
from .workloads import CORPUS_QUERIES

TABLE_CALLS = ("remote.table.read", "remote.table.aggregate", "remote.table.topk")


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(tracer: Tracer, run: dict) -> dict[str, float]:
    """``run`` carries what the spans cannot: n_ops, round_s,
    rows (per op), pg (sessions, tuples) deltas or None, op_attrs (per
    op dicts, with the op's process-tree CPU seconds as cpu_s where the
    workload moves rows), span_cost_s."""
    spans = [s for s in tracer.spans if s.end]
    replay = tracer.under("replay")
    n_ops = run["n_ops"]
    by_id = {s.sid: s for s in spans}

    def named(name, in_replay=None, in_ops=True):
        return [
            s for s in spans
            if s.name == name
            and (in_replay is None or (s.sid in replay) == in_replay)
            and (not in_ops or s.op is not None)
        ]

    def total(ss):
        return sum(s.dur for s in ss)

    def mean_ms(ss, scale=1e3):
        return _div(total(ss) * scale, len(ss))

    def outermost(ss, names):
        out = []
        for s in ss:
            p = by_id.get(s.parent)
            while p is not None and p.name not in names:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    self_s = tracer.self_times_by_span()
    m: dict[str, float] = {}
    m["session.get_spark_s"] = total(named("session.get_spark", in_ops=False))
    m["session.load_tables_s"] = total([s for s in named("session.load_tables", in_ops=False) if s.op is None])

    table_calls = [s for n in TABLE_CALLS for s in named(n, in_replay=False)]
    m["remote.table.read_ms"] = _div(total(outermost(table_calls, TABLE_CALLS)) * 1e3, n_ops)
    m["remote.table.count_ms"] = _div(total(named("remote.table.count", in_replay=False)) * 1e3, n_ops)

    infer = named("remote.datasource.infer_remote_schema", in_replay=False)
    m["remote.datasource.infer_remote_schema_ms"] = mean_ms(infer)
    m["remote.datasource.infer_calls_per_op"] = _div(len(infer), n_ops)
    m["remote.schema.infer_schema_from_rows_ms"] = mean_ms(named("remote.schema.infer_schema_from_rows"))

    pushes = named("remote.datasource.push_filters")
    m["remote.datasource.push_filters_pushed_ratio"] = _div(
        sum(s.attrs.get("pushed", 0) for s in pushes), sum(s.attrs.get("offered", 0) for s in pushes)
    )
    attrs = run["op_attrs"]
    m["spark.remote_rows_per_result_row"] = _div(
        sum(a.get("remote_rows", 0) for a in attrs), sum(a.get("result_rows", 0) for a in attrs)
    )
    m["remote.unparse.split_filters_us"] = mean_ms(named("remote.unparse.split_filters"), 1e6)
    m["remote.predicate.render_predicate_us"] = mean_ms(named("remote.predicate.render_predicate"), 1e6)
    m["remote.dialect.compose_us"] = mean_ms(named("remote.dialect.compose"), 1e6)

    m["remote.scan.partition_predicates_ms"] = mean_ms(named("remote.scan.partition_predicates"))
    fetch = named("remote.scan.fetch_arrow")
    fetch_rows = sum(s.attrs.get("rows", 0) for s in fetch)
    m["remote.scan.fetch_arrow_rows_per_s"] = _div(fetch_rows, total(fetch))
    m["remote.scan.fetch_arrow_self_s"] = _div(sum(self_s[s.sid] for s in fetch), n_ops)
    m["remote.scan.first_batch_ms"] = _div(
        sum(s.attrs.get("first_item_s", 0.0) for s in fetch) * 1e3,
        sum(1 for s in fetch if "first_item_s" in s.attrs),
    )
    m["remote.scan.batches"] = _div(sum(s.attrs.get("items", 0) for s in fetch), n_ops)
    m["remote.scan.rows"] = _div(fetch_rows, n_ops)

    execs = named("remote.pgwire.execute")
    m["remote.pgwire.execute_s"] = _div(total(execs), n_ops)
    m["remote.pgwire.decode_rows_per_s"] = _div(sum(s.attrs.get("rows", 0) for s in execs), total(execs))

    writes = named("remote.datasource.writer_write")
    written = sum(s.attrs.get("rows_written", 0) for s in named("replay"))
    write_ids = tracer.under("remote.datasource.writer_write")
    m["remote.pgwire.round_trips_per_row"] = _div(sum(1 for s in execs if s.sid in write_ids), written)
    m["remote.datasource.writer_rows_per_s"] = _div(written, total(writes))
    m["remote.datasource.commit_ms"] = mean_ms(named("remote.datasource.commit"))

    connects = named("remote.connection.connect")
    m["remote.connection.connect_ms"] = mean_ms(connects)
    m["remote.connection.connects_per_op"] = _div(len(connects), n_ops)
    m["remote.connection.valve_wait_ms"] = mean_ms(named("remote.connection.valve_wait"))

    pg = run["pg"]
    m["postgres.sessions_per_op"] = _div(pg[0], n_ops) if pg else 0.0
    m["postgres.tup_returned_per_op"] = _div(pg[1], n_ops) if pg else 0.0

    m["spark.action_ms"] = mean_ms(named("spark.action", in_replay=False))
    m["spark.tasks_per_op"] = _div(sum(a.get("tasks", 0) for a in attrs), n_ops)
    m["spark.stages_per_op"] = _div(sum(a.get("stages", 0) for a in attrs), n_ops)
    for q in CORPUS_QUERIES:
        m[f"plans.{q}_s"] = _div(total(named(f"plans.{q}")), len(named(f"plans.{q}")))
    m["proc.cpu_ms_per_krow"] = _div(sum(a.get("cpu_s", 0.0) for a in attrs) * 1e3, sum(run["rows"]) / 1e3)

    # tracing overhead: the traced run's own round time (compare with the
    # untraced round_s), and the cost of the spans inside the operations
    op_spans = sum(1 for s in spans if s.op is not None and s.sid not in replay)
    m["trace.round_s"] = run["round_s"]
    m["trace.span_cost_us"] = run["span_cost_s"] * 1e6
    m["trace.overhead_ms_per_op"] = _div(op_spans * run["span_cost_s"] * 1e3, n_ops)
    roots = named("replay")
    covered = sum(self_s[s.sid] for s in spans if s.sid in replay and s.name != "replay")
    m["trace.replay_self_share"] = _div(covered, total(roots))
    return m
