"""The workloads. Each builds its remote fixtures (excluded from set-up
time), registers its tables and warms up (set-up), then runs operations
in a closed loop with one client: the next operation starts only after
the previous one returned. Every operation's output is checked outside
its timed region.

- federated_queries: a fixed cycle of twelve short federated requests
  (pushdown, local join, three-source join, partitioned read, a small
  write-back) whose parameters come from the seed; each result is
  collected and compared with DuckDB, each write with the server.
- corpus_pipeline: cold runs of the relational + LLM-data query
  sequence on local parquet, one query per operation, staging caches
  cleared before each query.

An operation's template is its request shape (federated) or its query
(corpus); the loop ends at a full round of the templates.
"""

from __future__ import annotations

import gc
import os
import random
import time
from dataclasses import dataclass, field
from decimal import Decimal

from . import datagen, fixtures
from .measure import tree_cpu_s

# The 13 queries bench.py times cold (its COMPARABLE_13): relational
# TPC-H queries and LLM-data operators, no remote layer.
CORPUS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "window_topn_per_group",
    "events_sessionize", "agg_distinct", "dedup_exact", "dedup_minhash_lsh",
    "ann_cosine_topk", "text_quality_score", "text_langid",
)

FEDERATED_SF = 0.1  # mirrors small enough to sit in every cache
# A cold pass at sf0.1 takes 1.5x the sf0.01 pass, and a whole sf0.1 run
# (warm-up pass, output check) takes 90-110 s: more than the time one run
# may take when the benchmark is repeated. At sf0.01 a pass is dominated
# by per-query costs that do not grow with the data.
CORPUS_SF = 0.01


@dataclass
class OpResult:
    latency_s: float
    rows: int = 0
    ok: bool = True
    note: str = ""  # the operation's template


class Workload:
    """Base: subclasses fill in fixtures/setup/op/finish."""

    name = ""
    cycle = 1  # operations per full round of the operation mix

    def __init__(self, ctx):
        self.ctx = ctx
        self.checks = 0  # checks made outside the timed operations
        self.check_failures = 0

    def build_fixtures(self) -> None: ...

    def setup(self, spark) -> None: ...

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def finish(self) -> None:
        """End-of-run output checks (counted in attempted/failed)."""

    def close(self) -> None:
        pg = getattr(self, "pg", None)
        if pg is not None:
            pg.stop()

    def pg_stats(self) -> tuple[int, int] | None:
        """(sessions, tup_returned) of the Postgres database, if any, not
        counting the sessions the benchmark's own psql calls opened."""
        pg = getattr(self, "pg", None)
        if pg is None:
            return None
        row = pg.psql(
            "SELECT sessions, tup_returned FROM pg_stat_database WHERE datname = current_database()"
        )[0]
        return int(row[0]) - pg.psql_calls, int(row[1])

    def judge(self, ok: bool, what: str) -> bool:
        """The check of a timed operation's output (counted with the op)."""
        if not ok:
            self.ctx.log(f"check failed: {what}")
        return ok

    def record_check(self, ok: bool, what: str) -> bool:
        """A check made outside the timed operations, counted on its own."""
        self.checks += 1
        if not ok:
            self.check_failures += 1
        return self.judge(ok, what)


# -- federated_queries -------------------------------------------------------------

def _pg_key(col: str) -> str:
    return f"('x' || substr(md5({col}), 1, 8))::bit(32)::bigint"


def wide_frame(spark, batch, nproc: int):
    """A DataFrame of wide rows with one partition per writer task."""
    return spark.createDataFrame(batch.to_pandas(), datagen.WIDE_SPARK_SCHEMA).coalesce(nproc)


def check_inserted(pg, batch, what: str) -> tuple[bool, str]:
    """Server-side row count and key checksum of table ``ins`` against
    the batch written into it; empties the table for the next write."""
    got = pg.psql(f"SELECT count(*), sum(int_col), sum({_pg_key('text_col')}) FROM ins")[0]
    want = [
        str(batch.num_rows),
        str(sum(batch.column("int_col").to_pylist())),
        str(sum(datagen.text_key(t) for t in batch.column("text_col").to_pylist())),
    ]
    pg.psql("TRUNCATE ins")
    return got == want, f"{what}: server {got} != expected {want}"


FEDERATED_INSERT_ROWS = 400


@dataclass
class Request:
    """One federated request: ``run()`` returns (DataFrame or None,
    collected rows) and is the timed part; ``check(rows)`` returns (ok,
    what failed); ``offered`` are the filters Spark hands pushFilters;
    ``batch`` the rows an insert writes."""

    run: object
    check: object
    offered: list = field(default_factory=list)
    batch: object = None


def _canon(rows) -> list[tuple]:
    out = []
    for r in rows:
        out.append(tuple(round(float(v), 4) if isinstance(v, (float, Decimal)) else v for v in r))
    return sorted(out, key=repr)


class FederatedQueries(Workload):
    name = "federated_queries"
    TEMPLATES = (
        "filter", "predicate", "limit", "projection", "count", "aggregate",
        "topk", "join_pushdown", "join_local", "multi_source", "partitioned",
        "insert",
    )
    cycle = len(TEMPLATES)

    def build_fixtures(self):
        import duckdb

        ctx = self.ctx
        self.parquet = os.path.join(ctx.work, "parquet")
        tables = datagen.write_tables(self.parquet, ctx.seed, FEDERATED_SF)
        self.n_cust = tables["customer"].num_rows
        self.n_ord = tables["orders"].num_rows
        self.pg = fixtures.Postgres(ctx.work)
        fixtures.load_postgres(self.pg, tables)
        self.pg.psql(f"CREATE TABLE ins ({datagen.WIDE_DDL})")
        sqlite_path = os.path.join(ctx.work, "remote.sqlite")
        duck_path = os.path.join(ctx.work, "remote.duckdb")
        fixtures.build_sqlite(sqlite_path, tables)
        fixtures.build_duckdb(duck_path, self.parquet)
        self.oracle = duckdb.connect()
        for name in fixtures.PG_DDL:
            self.oracle.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(self.parquet, name)}.parquet')"
            )
        from datafusion_remote_table_spark.remote import DuckdbConnectionOptions, SqliteConnectionOptions

        self.sl = SqliteConnectionOptions(path=sqlite_path, pool_max_size=ctx.nproc)
        self.dk = DuckdbConnectionOptions(path=duck_path, pool_max_size=ctx.nproc)

    def setup(self, spark):
        from datafusion_remote_table_spark.session import load_tables

        self.spark = spark
        self.local = load_tables(spark, self.parquet, ("customer",))
        warm = random.Random(f"warm-{self.ctx.seed}")
        for i, name in enumerate(self.TEMPLATES):  # the first pass is 2-10x slower
            req = self.request(name, warm, 10**6 + i)
            self.record_check(*req.check(req.run()[1]))
        self.rng = random.Random(self.ctx.seed)

    def op(self, i):
        ctx = self.ctx
        name = self.TEMPLATES[i % len(self.TEMPLATES)]
        req = self.request(name, self.rng, i)
        ctx.tracer.offered_next = req.offered
        gc.collect()  # untimed: garbage the earlier requests left in this process
        cpu0 = tree_cpu_s() if ctx.tracer.enabled else 0.0
        t0 = time.perf_counter()
        df, rows = req.run()
        lat = time.perf_counter() - t0
        if ctx.tracer.enabled:
            ctx.op_attrs["cpu_s"] = tree_cpu_s() - cpu0
        ok = self.judge(*req.check(rows))
        if ctx.tracer.enabled and df is not None:
            from . import sparkstats

            ctx.op_attrs["remote_rows"] = sparkstats.scan_rows(df)
            ctx.op_attrs["result_rows"] = len(rows)
        ctx.replay_reads()
        if req.batch is not None and ctx.replay_write(req.batch):
            self.record_check(*check_inserted(self.pg, req.batch, f"replayed {name}"))
        moved = req.batch.num_rows if req.batch is not None else len(rows)  # written or delivered
        return OpResult(lat, rows=moved, ok=ok, note=name)

    def request(self, name: str, rng: random.Random, i: int) -> "Request":
        """Request ``i`` of template ``name``, parameters drawn from rng."""
        from pyspark.sql import functions as F
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThanOrEqual,
            IsNotNull,
            LessThan,
            LessThanOrEqual,
        )

        from datafusion_remote_table_spark.remote import RemoteTable

        spark, pg, sl, dk = self.spark, self.pg.options, self.sl, self.dk
        action = self.ctx.tracer.span

        def collect(df):
            with action("spark.action"):
                return df, [tuple(r) for r in df.collect()]

        def against_duckdb(sql):
            def check(rows):
                want = self.oracle.execute(sql).fetchall()
                return _canon(rows) == _canon(want), f"{name}: result differs from DuckDB ({sql})"

            return check

        def query(run, sql, offered):
            return Request(run, against_duckdb(sql), offered)

        cents = ("SUM(CAST(ROUND(o_totalprice * 100) AS INTEGER))", "total_cents")
        if name == "insert":
            batch = datagen.wide_batch(self.ctx.seed, i * FEDERATED_INSERT_ROWS, FEDERATED_INSERT_ROWS)
            df = wide_frame(spark, batch, self.ctx.nproc)

            def write():
                with action("spark.action"):
                    RemoteTable(pg, ["ins"]).insert(df, coalesce=False)
                return None, []

            return Request(write, lambda rows: check_inserted(self.pg, batch, name), batch=batch)
        if name == "filter":
            seg, bal = rng.choice(datagen.SEGMENTS), round(rng.uniform(-900, 2000), 2)
            return query(
                lambda: collect(
                    RemoteTable(pg, ["customer"]).read(spark)
                    .filter((F.col("c_mktsegment") == seg) & (F.col("c_acctbal") < bal))
                    .select("c_custkey", "c_name", "c_acctbal")
                ),
                f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = '{seg}' AND c_acctbal < {bal}",
                [IsNotNull(("c_mktsegment",)), IsNotNull(("c_acctbal",)),
                 EqualTo(("c_mktsegment",), seg), LessThan(("c_acctbal",), bal)],
            )
        if name == "predicate":
            lo = round(rng.uniform(1000, 450000), 2)
            prio, thr = rng.randint(1, 5), round(rng.uniform(300000, 490000), 2)
            pred = (
                f"(o_orderstatus = 'F' AND o_totalprice BETWEEN {lo} AND {lo + 25000}) "
                f"OR (o_orderpriority LIKE '{prio}-%' AND o_totalprice > {thr})"
            )
            return query(
                lambda: collect(
                    RemoteTable(sl, ["orders"]).read(spark, predicate=pred)
                    .select("o_orderkey", "o_orderpriority", "o_totalprice")
                ),
                f"SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE {pred}",
                [],
            )
        if name == "limit":
            k0, n = rng.randint(0, self.n_cust - 60), rng.randint(5, 50)
            sql = f"SELECT c_custkey, c_name FROM customer WHERE c_custkey >= {k0} ORDER BY c_custkey"
            return query(
                lambda: collect(RemoteTable(pg, sql).read(spark, limit=n)),
                f"{sql} LIMIT {n}",
                [],
            )
        if name == "projection":
            a = rng.randint(0, self.n_ord - 300)
            return query(
                lambda: collect(
                    RemoteTable(dk, ["orders"]).read(spark, columns=["o_orderkey", "o_totalprice"])
                    .filter(F.col("o_orderkey").between(a, a + 250))
                ),
                f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey BETWEEN {a} AND {a + 250}",
                [IsNotNull(("o_orderkey",)), GreaterThanOrEqual(("o_orderkey",), a),
                 LessThanOrEqual(("o_orderkey",), a + 250)],
            )
        if name == "count":
            k = rng.randint(0, self.n_cust)
            return query(
                lambda: (None, [(RemoteTable(pg, f"SELECT o_orderkey FROM orders WHERE o_custkey < {k}").count(),)]),
                f"SELECT count(*) FROM orders WHERE o_custkey < {k}",
                [],
            )
        if name == "aggregate":
            status = rng.choice("FOP")
            return query(
                lambda: collect(
                    RemoteTable(sl, ["orders"]).aggregate(
                        spark, group_by=["o_orderpriority"], aggs=[("COUNT(*)", "n_orders"), cents],
                        filters=(f"o_orderstatus = '{status}'",),
                        schema="o_orderpriority string, n_orders bigint, total_cents bigint",
                    )
                ),
                "SELECT o_orderpriority, count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) "
                f"FROM orders WHERE o_orderstatus = '{status}' GROUP BY o_orderpriority",
                [],
            )
        if name == "topk":
            k, nat = rng.randint(5, 30), rng.randint(0, 24)
            return query(
                lambda: collect(
                    RemoteTable(pg, ["customer"]).topk(
                        spark, order_by=[("c_acctbal", "DESC"), ("c_custkey", "ASC")], k=k,
                        columns=["c_custkey", "c_name", "c_acctbal"], filters=(f"c_nationkey = {nat}",),
                    )
                ),
                f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = {nat} "
                f"ORDER BY c_acctbal DESC, c_custkey LIMIT {k}",
                [],
            )
        if name == "join_pushdown":
            thr = round(rng.uniform(1000, 400000), 2)
            return query(
                lambda: collect(
                    RemoteTable(sl, ["orders"]).join_remote(
                        RemoteTable(sl, ["customer"]), on=[("o_custkey", "c_custkey")],
                        left_cols=["o_orderkey", "o_totalprice"], right_cols=["c_mktsegment"],
                    ).aggregate(
                        spark, group_by=["c_mktsegment"], aggs=[("COUNT(*)", "n_orders"), cents],
                        filters=(f"o_totalprice > {thr}",),
                        schema="c_mktsegment string, n_orders bigint, total_cents bigint",
                    )
                ),
                "SELECT c_mktsegment, count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) "
                f"FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > {thr} "
                "GROUP BY c_mktsegment",
                [],
            )
        if name == "join_local":
            bal = round(rng.uniform(-500, 8000), 2)
            customer = self.local["customer"]
            return query(
                lambda: collect(
                    customer.filter(F.col("c_acctbal") > bal)
                    .join(F.broadcast(RemoteTable(pg, ["nation"]).read(spark)),
                          F.col("c_nationkey") == F.col("n_nationkey"))
                    .groupBy("n_name")
                    .agg(F.count(F.lit(1)).alias("n_customers"),
                         F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total"))
                ),
                "SELECT n_name, count(*), CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) "
                f"FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {bal} GROUP BY n_name",
                [],
            )
        if name == "multi_source":
            seg = rng.choice(datagen.SEGMENTS)

            def run():
                sup = (
                    RemoteTable(sl, ["supplier"]).read(spark)
                    .groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_sup"))
                )
                nr = RemoteTable(
                    dk, "SELECT n.n_nationkey, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"
                ).read(spark)
                cust = RemoteTable(pg, ["customer"]).aggregate(
                    spark, group_by=["c_nationkey"], aggs=[("COUNT(*)", "n_cust")],
                    filters=(f"c_mktsegment = '{seg}'",), schema="c_nationkey int, n_cust bigint",
                )
                return collect(
                    nr.join(sup, F.col("n_nationkey") == F.col("s_nationkey"))
                    .join(cust, F.col("n_nationkey") == F.col("c_nationkey"))
                    .groupBy("r_name")
                    .agg(F.sum("n_sup").alias("n_suppliers"), F.sum("n_cust").alias("n_customers"))
                )

            return query(
                run,
                "WITH sup AS (SELECT s_nationkey, count(*) AS n_sup FROM supplier GROUP BY 1), "
                f"cust AS (SELECT c_nationkey, count(*) AS n_cust FROM customer WHERE c_mktsegment = '{seg}' GROUP BY 1) "
                "SELECT r_name, sum(n_sup), sum(n_cust) FROM nation JOIN region ON n_regionkey = r_regionkey "
                "JOIN sup ON n_nationkey = s_nationkey JOIN cust ON n_nationkey = c_nationkey GROUP BY r_name",
                [],
            )
        if name == "partitioned":
            k = rng.randint(self.n_cust // 20, self.n_cust // 10)
            return query(
                lambda: collect(
                    RemoteTable(pg, ["orders"]).read(
                        spark, columns=["o_orderkey", "o_custkey", "o_totalprice"],
                        partition_column="o_orderkey", fetch_partitions=self.ctx.nproc,
                    ).filter(F.col("o_custkey") < k)
                ),
                f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_custkey < {k}",
                [IsNotNull(("o_custkey",)), LessThan(("o_custkey",), k)],
            )
        raise ValueError(f"unknown template {name}")


# -- corpus_pipeline ----------------------------------------------------------------

class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    cycle = len(CORPUS_QUERIES)

    def build_fixtures(self):
        self.parquet = os.path.join(self.ctx.work, "parquet")
        datagen.write_tables(self.parquet, self.ctx.seed, CORPUS_SF)

    def setup(self, spark):
        from datafusion_remote_table_spark import plans
        from datafusion_remote_table_spark.session import load_tables

        self.spark = spark
        self.plans = plans
        plans.load_all()
        load_tables(spark, self.parquet)
        # warm-up pass; its collected results are the run's output check
        self.results = {}
        for name in CORPUS_QUERIES:
            self._clear(jvm_gc=False)  # untimed: leftover blocks slow nothing measured
            self.results[name] = plans.QUERIES[name](spark, self.parquet).toPandas()
        self._clear()

    def _clear(self, jvm_gc: bool = True) -> None:
        """Drop every query-owned staging, as bench.py does before each
        cold run, so each query pays its full plan."""
        from datafusion_remote_table_spark.operators import dedup
        from datafusion_remote_table_spark.plans import llm_data, relational

        llm_data._MINHASH_STAGE_CACHE.clear()
        relational._RANK_STAGE_CACHE.clear()
        dedup.release_persisted()
        self.spark.catalog.clearCache()
        gc.collect()
        if jvm_gc:
            # the JVM frees dropped blocks only after a driver GC; without
            # it they pile up and later queries slow down
            self.spark._jvm.System.gc()

    def op(self, i):
        """One cold query: its time, not that of the clearing before it."""
        name = CORPUS_QUERIES[i % len(CORPUS_QUERIES)]
        self._clear()
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"plans.{name}"):
            df = self.plans.QUERIES[name](self.spark, self.parquet)
            with self.ctx.tracer.span("spark.action"):
                df.write.format("noop").mode("overwrite").save()
        return OpResult(time.perf_counter() - t0, note=name)

    def finish(self):
        import duckdb

        con = duckdb.connect()
        for name in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(self.parquet, name)}.parquet')"
            )
        for name, got in self.results.items():
            want = con.execute(self.plans.ORACLE[name]).fetchdf()
            self.record_check(
                len(got) > 0 and _frame_key(got) == _frame_key(want),
                f"{name}: {len(got)} rows vs oracle {len(want)} rows or values differ",
            )
        con.close()


def _cell(v) -> str:
    """Canonical text of one result value: numbers of any type as a
    float to 6 decimals, so int64/int32/Decimal/double columns compare."""
    import math

    import numpy as np

    if hasattr(v, "tolist") and not isinstance(v, np.generic):
        v = v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, Decimal)):
        return repr(round(float(v), 6))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(str(v))


def _frame_key(pdf) -> tuple[int, str]:
    """Row count and an order-independent value hash of a result frame
    (columns by name, timestamps as text)."""
    import hashlib

    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = []
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = col.astype("datetime64[us]").astype(str)
        cols.append([_cell(v) for v in col.tolist()])
    rows = sorted("|".join(vals) for vals in zip(*cols))
    return len(pdf), hashlib.md5("\n".join(rows).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (FederatedQueries, CorpusPipeline)}
