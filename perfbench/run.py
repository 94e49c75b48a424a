"""Engine benchmark: federated query latency over remote tables (with
remote scans and a write-back) and the local corpus pipeline.

    python3 perfbench/run.py --workload federated_queries --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --list-metrics

Run from the repository root. One process, one client, Spark on
local[nproc]; fetch partitions, writer tasks and open connections per
remote are each capped at nproc. ``--seed`` makes every input (tables,
inserted rows, query parameters); ``--seconds`` is the timed operation
time of the closed loop, which ends at a full round of the workload's
operation mix and runs at least two rounds.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the ``end_to_end`` metrics of BENCHMARK.json,
with --trace 1 its ``per_layer`` metrics from a traced run. Earlier
lines starting with '#' report every metric by name and unit, the
workload's own figures (query_p50_ms, per-template medians,
pipeline_s, fail_ratio, ...) and the run's validity (nproc, load
average, CPU steal). Traced runs also write their spans and per-layer
self times to perfbench/out/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def list_metrics() -> list[str]:
    s = spec()
    return [f"{kind} {m['name']} {m['unit']} {m['better']}" for kind in ("end_to_end", "per_layer") for m in s[kind]]


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from perfbench.trace import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.nproc = os.cpu_count() or 1
        self.tracer = Tracer(enabled=trace)
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=os.path.join(HERE, ".work"))
        self.op_attrs: dict = {}

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def replay_reads(self) -> None:
        """Call the reader's worker-side layers here, one partition at a
        time, on the spec and schema each traced read handed to Spark."""
        tracer = self.tracer
        if not tracer.enabled:
            return
        from datafusion_remote_table_spark.remote.datasource import RemoteTableReader
        from datafusion_remote_table_spark.remote.scan import RemoteScanSpec

        reads, tracer.captured_reads = tracer.captured_reads, []
        for spec_json, schema, offered in reads:
            with tracer.span("replay"):
                reader = RemoteTableReader(RemoteScanSpec.from_json(spec_json), schema)
                if offered:
                    list(reader.pushFilters(offered))
                for part in reader.partitions():
                    for _ in reader.read(part):
                        pass

    def replay_write(self, batch) -> bool:
        """Call the writer's worker-side layers here on the rows the last
        traced insert wrote: one write() per writer task's share, then
        commit(). Returns whether it ran (only in a traced run)."""
        tracer = self.tracer
        if not tracer.enabled:
            return False
        from datafusion_remote_table_spark.remote.datasource import RemoteTableWriter
        from datafusion_remote_table_spark.remote.scan import RemoteScanSpec

        spec_json, schema = tracer.captured_writes.pop()
        step = -(-batch.num_rows // self.nproc)
        with tracer.span("replay", rows_written=batch.num_rows):
            writer = RemoteTableWriter(RemoteScanSpec.from_json(spec_json), schema)
            writer.commit([writer.write(iter(batch.slice(k, step).to_batches()))
                           for k in range(0, batch.num_rows, step)])
        return True


MIN_ROUNDS = 2


def closed_loop(run: Run, wl, spark) -> tuple[list, int, int, list]:
    """Operations until ``seconds`` of operation time have passed, a
    round of the mix is complete and at least MIN_ROUNDS rounds ran.
    Returns (results, attempted, failed, per-operation attributes)."""
    from perfbench import sparkstats

    # reads and writes captured during warm-up are not part of an operation
    run.tracer.captured_reads.clear()
    run.tracer.captured_writes.clear()
    results, failed, attrs = [], 0, []
    timed = 0.0
    i = 0
    while timed < run.seconds or i % wl.cycle or i < MIN_ROUNDS * wl.cycle:
        run.tracer.op, run.op_attrs = i, {}
        if run.tracer.enabled:
            sparkstats.begin_op(spark, i)
        t0 = time.perf_counter()
        try:
            r = wl.op(i)
        except Exception:  # one failed operation must not end the run
            run.log(f"operation {i} failed:\n{traceback.format_exc()}")
            failed += 1
            timed += time.perf_counter() - t0
            i += 1
            continue
        if run.tracer.enabled:
            run.op_attrs["tasks"], run.op_attrs["stages"] = sparkstats.tasks_and_stages(spark, i)
        failed += 0 if r.ok else 1
        results.append(r)
        attrs.append(run.op_attrs)
        timed += r.latency_s
        i += 1
    run.tracer.op = None
    return results, i, failed, attrs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true")
    args = ap.parse_args(argv)
    if args.list_metrics:
        print("\n".join(list_metrics()))
        return 0
    sys.path.insert(0, ROOT)
    try:
        import datafusion_remote_table_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: --workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](run)
    try:
        return execute(run, wl)
    finally:
        wl.close()
        shutil.rmtree(run.work, ignore_errors=True)


def execute(run: Run, wl) -> int:
    from perfbench import layers, measure
    from perfbench.trace import span_cost_s

    validity = measure.Validity()
    rss = measure.RssSampler().start()
    tracer = run.tracer
    try:
        t0 = time.perf_counter()
        wl.build_fixtures()
        fixtures_s = time.perf_counter() - t0
        # everything below writes temp files inside the checkout
        tmp = os.path.join(run.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024))
        # The driver JVM starts with its whole heap committed and touched
        # (-Xms = spark.driver.memory, AlwaysPreTouch): otherwise its
        # resident size follows how far G1 has cycled through the heap,
        # which varied 15-20% between identical runs and hid every other
        # change. peak_rss_mb then moves with the Python processes, the
        # JVM's off-heap memory and the heap size, not with GC timing.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf 'spark.driver.defaultJavaOptions=-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            "-XX:+AlwaysPreTouch' pyspark-shell"
        )
        if tracer.enabled:
            tracer.install()
        from datafusion_remote_table_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{run.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        wl.setup(spark)
        warmup_s = time.perf_counter() - t0 - get_spark_s
        setup_s = time.perf_counter() - T_START - fixtures_s
        pg0 = wl.pg_stats() if tracer.enabled else None
        setup_peak_mb = rss.restart()
        results, attempted, failed, attrs = closed_loop(run, wl, spark)
        peak_rss_mb = rss.restart()
        pg = None
        if pg0 is not None:
            time.sleep(0.5)  # closed sessions flush their counters on exit
            pg1 = wl.pg_stats()
            pg = (pg1[0] - pg0[0], pg1[1] - pg0[1])
        wl.finish()
        stop_spark(spark)
    finally:
        rss.stop()
    attempted += wl.checks
    failed += wl.check_failures
    host = validity.finish()
    if not results:
        run.log("no operation completed")
        return 1
    e2e = end_to_end(setup_s, results, peak_rss_mb)
    own = workload_figures(run.workload, results, attempted, failed)
    own.update(fixtures_s=fixtures_s, get_spark_s=get_spark_s, registration_warmup_s=warmup_s,
               setup_peak_rss_mb=setup_peak_mb)
    bench = spec()
    if tracer.enabled:
        values = layers.layer_metrics(tracer, {
            "n_ops": len(results), "round_s": e2e["round_s"], "rows": [r.rows for r in results],
            "pg": pg, "op_attrs": attrs, "span_cost_s": span_cost_s(),
        })
        tracer.unpatch()
        own.update({f"self_s.{k}": v for k, v in sorted(tracer.self_times().items())})
        kind = "per_layer"
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{run.workload}-{run.seed}.json"),
                    {"workload": run.workload, "seed": run.seed, "validity": host, "end_to_end": e2e,
                     "layers": values})
    else:
        values, kind = e2e, "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench[kind]}
    units = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in bench[k]}
    for k, v in {**own, **{n: m["value"] for n, m in metrics.items()}, **e2e, **host}.items():
        value = f"{v:.6g}" if isinstance(v, float) else v
        print(f"# {k} = {value} {units.get(k) or unit_of(k)}".rstrip())
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exited."""
    from pyspark import SparkContext

    from perfbench.measure import tree_pids, wait_gone

    me = os.getpid()
    children = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    left = wait_gone(children)
    if left:
        print(f"[perfbench] processes still running after Spark stopped: {left}", file=sys.stderr)


def unit_of(name: str) -> str:
    """Unit of a reported figure that BENCHMARK.json does not list."""
    for suffix, unit in (("rows_per_s", "rows/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_pct", "%"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "s" if name.startswith("self_s.") else "count" if name in ("ops", "nproc") else ""


def template_latencies(results) -> dict[str, list[float]]:
    """Latencies in seconds of each operation template, in run order."""
    by: dict[str, list[float]] = {}
    for r in results:
        by.setdefault(r.note, []).append(r.latency_s)
    return dict(sorted(by.items()))


def template_medians(results) -> dict[str, float]:
    """Median latency in seconds of each operation template."""
    from perfbench.measure import median

    return {name: median(v) for name, v in template_latencies(results).items()}


def end_to_end(setup_s: float, results, peak_rss_mb: float) -> dict[str, float]:
    """``round_s`` is one round of the operation mix built from each
    template's fastest latency over the run's rounds. The first round
    after the warm-up still runs 10-30% slower while the JVM compiles,
    and a busy host only ever slows an operation down; the fastest of a
    template's rounds is the one least moved by either. A median over
    the mixed latencies would fall between two templates and jump when
    their order swaps."""
    return {
        "setup_s": setup_s,
        "round_s": sum(min(v) for v in template_latencies(results).values()),
        "peak_rss_mb": peak_rss_mb,
    }


def workload_figures(workload: str, results, attempted: int, failed: int) -> dict:
    """The figures a user of each workload reads, printed beside the metrics."""
    from perfbench.measure import median, tail_percentile

    lat = [r.latency_s for r in results]
    med = template_medians(results)
    out: dict = {"fail_ratio": failed / attempted if attempted else 0.0, "ops": len(lat)}
    if workload == "federated_queries":
        out["query_p50_ms"] = median(lat) * 1e3
        tail = tail_percentile(lat)
        if tail is not None:
            out[f"query_p{tail[0]}_ms"] = tail[1] * 1e3
        out.update({f"query_{name}_p50_ms": v * 1e3 for name, v in med.items()})
    if workload == "corpus_pipeline":
        out["pipeline_s"] = sum(med.values())
        out.update({f"plans.{name}_p50_s": v for name, v in med.items()})
    return out


if __name__ == "__main__":
    sys.exit(main())
