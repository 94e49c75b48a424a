"""RemoteTable facade — the user-facing API, mirroring the reference's
`RemoteTable` (/root/reference/remote-table/src/table.rs):

    table = RemoteTable(SqliteConnectionOptions(path=...), "select ...")
    df = table.read(spark)            # filters push down via Catalyst
    table.register(spark, "remote_t") # then spark.sql over it
    table.insert(df2)                 # write-back (insert.rs parity)
    n = table.count()                 # remote count(*) pushdown

Constructor parity map:
- try_new                      → RemoteTable(options, source)
- try_new_with_schema          → RemoteTable(..., schema=StructType/DDL)
- try_new_with_remote_schema   → RemoteTable(..., schema=[(name, remote_type), ...])
- try_new_with_transform       → RemoteTable(..., transform=RemoteTransform(...))
- try_new_with_schema_transform_literalizer
                               → RemoteTable(..., literalizer="module:function")
  (the hook overrides per-value literal rendering when pushdown filters
  unparse; it is named by import path so the JSON scan spec stays
  serializable — the code ships with the job, as --py-files on a cluster)
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..session import ensure_runtime_confs
from .connection import connect
from .datasource import RemoteTableDataSource, infer_remote_schema, remote_schema
from .options import ConnectionOptions
from .scan import RemoteScanSpec, align_batch, remote_errors, rows_to_batch
from .schema import parse_user_schema
from .transform import RemoteTransform


def _register_datasource(spark: SparkSession) -> None:
    ensure_runtime_confs(spark)  # driver-supplied sessions lack our configs
    key = "_dfrt_remote_table_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(RemoteTableDataSource)
        setattr(spark, key, True)


def _datasource_frame(spark: SparkSession, spec: RemoteScanSpec, schema: StructType) -> DataFrame:
    """A lazy read of ``spec`` through the Python DataSource."""
    _register_datasource(spark)
    return spark.read.format("remote_table").schema(schema).option("spec", spec.to_json()).load()


class RemoteTable:
    def __init__(
        self,
        options: ConnectionOptions,
        source,
        schema=None,
        transform: RemoteTransform | None = None,
        literalizer: str | None = None,
    ):
        self.options = options
        self.literalizer = literalizer
        if isinstance(source, str):
            self.query: str | None = source
            self.table: list[str] | None = None
        elif isinstance(source, (list, tuple)):
            if not source:
                raise ValueError("Table source is empty")  # table.rs:226-231 parity
            self.query = None
            self.table = [str(s) for s in source]
        else:
            raise TypeError(f"source must be SQL string or table identifiers, got {type(source)}")
        if schema is not None:
            schema = parse_user_schema(schema)
        self._schema: StructType | None = schema
        self.transform = transform

    # -- spec / schema ------------------------------------------------------
    def spec(self, **overrides) -> RemoteScanSpec:
        spec = RemoteScanSpec(
            options=self.options, query=self.query, table=self.table, literalizer=self.literalizer
        )
        for k, v in overrides.items():
            setattr(spec, k, v)
        return spec

    @property
    def schema(self) -> StructType:
        if self._schema is None:
            self._schema = infer_remote_schema(self.spec())
        return self._schema

    def remote_schema(self) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in self.schema.fields]

    # -- read path ----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        limit: int | None = None,
        partition_column: str | None = None,
        fetch_partitions: int = 1,
        predicate: str | None = None,
    ) -> DataFrame:
        """Load as a DataFrame. Catalyst filter pushdown is automatic
        (reader.pushFilters); projection and limit push down through the
        explicit arguments (the Python DataSource API has no column/limit
        pushdown channel yet — scan.rs covers these inside the exec).

        ``predicate`` is the explicit pushdown escape hatch for
        expressions Catalyst's Python filter API cannot deliver —
        OR-disjunctions, BETWEEN, arithmetic (the shapes the reference
        unparses in transform.rs:52-86): a SQL boolean expression over
        the remote columns, parsed + validated here (unknown columns and
        scalar functions are rejected) and rendered in the remote
        dialect, composed into the remote query alongside any
        Catalyst-pushed filters.

        ``limit`` keeps ``read()`` a lazy DataSource scan, re-run at each
        action, unlike aggregate/topk, which fetch a bounded result on the
        driver. Every read serializing one scan spec is also what the
        traced benchmark run relies on to replay the reader
        (``perfbench/trace.py``), until the engine records its own spans."""
        pushed: list[str] = []
        if predicate is not None:
            from .predicate import render_predicate

            pushed = [
                render_predicate(
                    predicate,
                    self.spec().dialect,
                    columns=[f.name for f in self.schema.fields],
                )
            ]
        spec = self.spec(
            columns=columns,
            limit=limit,
            partition_column=partition_column,
            fetch_partitions=fetch_partitions,
            pushed_filters=pushed,
        )
        schema = self.schema
        if columns:
            by_name = {f.name: f for f in schema.fields}
            schema = StructType([by_name[c] for c in columns])
        df = _datasource_frame(spark, spec, schema)
        if limit is not None:
            df = df.limit(limit)  # remote LIMIT is per-partition; keep Spark semantics exact
        if self.transform is not None:
            df = self.transform.apply(df)
        return df

    def register(self, spark: SparkSession, name: str, **read_kwargs) -> DataFrame:
        df = self.read(spark, **read_kwargs)
        df.createOrReplaceTempView(name)
        return df

    # -- relational pushdown paths (parity-plus) ----------------------------
    def aggregate(
        self,
        spark: SparkSession,
        group_by: list[str],
        aggs: list[tuple[str, str]],
        filters: tuple[str, ...] = (),
        having: str | None = None,
        schema=None,
    ) -> DataFrame:
        """Push a grouped aggregate to the remote DB: the GROUP BY runs
        there and Spark receives one row per group — the grouped
        generalization of the reference's count(1) pushdown. ``aggs``
        are (remote SQL expression, alias) pairs; ``filters`` are raw
        remote-dialect predicates (same contract as pushed_filters).

        A result that fits in one ``stream_chunk_size`` chunk is fetched
        eagerly on the driver, as a snapshot taken at call time, and
        returned as a local frame; a larger one is read again through
        the DataSource.

        Pass ``schema`` for backends whose cursors report no aggregate
        types (sqlite infers from a value sample otherwise)."""
        spec = self.spec()
        sql = spec.dialect.aggregate_query(
            self.table or self.query, group_by, aggs, filters=filters, having=having
        )
        return self._bounded(spark, sql, schema)

    def topk(
        self,
        spark: SparkSession,
        order_by: list[tuple[str, str]],
        k: int,
        columns: list[str] | None = None,
        filters: tuple[str, ...] = (),
        schema=None,
    ) -> DataFrame:
        """Push ORDER BY + LIMIT (top-k) to the remote DB: the remote
        engine sorts and truncates, Spark receives exactly k rows (ties
        broken only if order_by ends in a unique key — caller's duty,
        same as any top-k).

        With ``k`` up to ``stream_chunk_size`` the rows are fetched
        eagerly on the driver, as a snapshot taken at call time, and
        returned as a local frame; a larger ``k`` reads through the
        DataSource."""
        spec = self.spec()
        sql = spec.dialect.topk_query(
            self.table or self.query, order_by, k, columns=columns, filters=filters
        )
        return self._bounded(spark, sql, schema, max_rows=k)

    def _bounded(self, spark: SparkSession, sql: str, schema, max_rows: int | None = None) -> DataFrame:
        """Read the result of a bounded pushdown.

        At most ``stream_chunk_size`` + 1 rows are fetched on the driver
        over one connection. A result within one chunk becomes an Arrow
        local frame: a ``LocalTableScan``, with no Python DataSource job
        and no Spark task. A larger one, or a known ``max_rows`` above
        the chunk, goes through the DataSource. The schema is the user
        schema or the DataSource's rule (``remote_schema``), with the
        fetched rows as the type sample."""
        ensure_runtime_confs(spark)
        schema = parse_user_schema(schema) if schema is not None else None
        spec = RemoteScanSpec(
            options=self.options, query=sql, columns=[f.name for f in schema.fields] if schema else None
        )
        cap = self.options.stream_chunk_size
        if max_rows is not None and max_rows > cap:
            return _datasource_frame(spark, spec, schema or infer_remote_schema(spec))
        duck = self.options.backend == "duckdb"
        sql = spec.remote_sql()
        conn = connect(self.options)
        try:
            with remote_errors(self.options, sql):
                if duck:
                    schema = schema or remote_schema(conn, spec)
                    chunk, n = [], 0
                    for batch in conn.execute(sql).fetch_record_batch(cap + 1):
                        chunk.append(batch)
                        n += batch.num_rows
                        if n > cap:
                            break
                else:
                    cur = conn.cursor()
                    cur.execute(sql)
                    chunk = []
                    while len(chunk) <= cap and (rows := cur.fetchmany(cap + 1 - len(chunk))):
                        chunk.extend(rows)
                    n = len(chunk)
                    names = [d[0] for d in cur.description]
                    schema = schema or remote_schema(conn, spec, (names, chunk))
        finally:
            conn.close()
        if n > cap:
            return _datasource_frame(spark, spec, schema)
        arrow_schema = to_arrow_schema(schema)
        batches = [align_batch(b, arrow_schema) for b in chunk] if duck else [rows_to_batch(chunk, arrow_schema)]
        return spark.createDataFrame(pa.Table.from_batches(batches, schema=arrow_schema), schema=schema)

    def join_remote(
        self,
        other: "RemoteTable",
        on: list[tuple[str, str]],
        left_cols: list[str],
        right_cols: list[str],
        how: str = "inner",
    ) -> "RemoteTable":
        """Same-source join pushdown: when both tables live in one remote
        DB, compose the join into a single remote query (returned as a
        new RemoteTable, so further pushdown — aggregate/topk/filters —
        stacks on top of the joined source)."""
        if not self.options.same_source(other.options):
            raise ValueError(
                "join_remote requires both tables on the same remote source; "
                "use read() on each and join in Spark for cross-source federation"
            )
        spec = self.spec()
        sql = spec.dialect.join_query(
            self.table or self.query,
            other.table or other.query,
            on,
            left_cols,
            right_cols,
            how=how,
        )
        return RemoteTable(self.options, sql)

    # -- pushdown-only paths ------------------------------------------------
    def count(self) -> int:
        """Remote ``SELECT count(*)`` — the count1_agg pushdown parity.

        Backends whose dialect can't push the count (mdb: mdbtools
        returns 0 for COUNT(*) — reference mdb/mod.rs
        fetch_table_row_count) stream the select-all and count rows."""
        spec = self.spec()
        try:
            count_sql = spec.count_sql()
        except NotImplementedError:
            count_sql = None
        conn = connect(self.options)
        try:
            cur = conn.cursor()
            if count_sql is not None:
                cur.execute(count_sql)
                return int(cur.fetchone()[0])
            cur.execute(spec.dialect.compose(spec.table if spec.table else spec.query))
            n = 0
            while True:
                rows = cur.fetchmany(self.options.stream_chunk_size)
                if not rows:
                    return n
                n += len(rows)
        finally:
            conn.close()

    # -- JDBC path (cluster-scale alternative) ------------------------------
    def read_jdbc(
        self,
        spark: SparkSession,
        partition_column: str | None = None,
        num_partitions: int = 1,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> DataFrame:
        """Read through Spark's built-in JDBC source — the path a real
        cluster uses when the vendor JDBC driver jar is on the classpath
        (this container has none, so this raises at connect time; the
        DB-API DataSource above is the self-contained path). Predicate
        pushdown, column pruning, and partitioned reads are handled by
        the JVM JDBC source itself."""
        url = self.jdbc_url()
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option(
                "dbtable",
                self.dialect_ref() if self.table else f"({self.query}) AS __remote_t",
            )
            .option("user", getattr(self.options, "username", ""))
            .option("password", getattr(self.options, "password", ""))
        )
        if partition_column:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", num_partitions)
                .option("lowerBound", lower_bound)
                .option("upperBound", upper_bound)
            )
        return reader.load()

    def jdbc_url(self) -> str:
        o = self.options
        urls = {
            "postgres": f"jdbc:postgresql://{getattr(o, 'host', '')}:{getattr(o, 'port', 0)}/{getattr(o, 'database', '')}",
            "gaussdb": f"jdbc:postgresql://{getattr(o, 'host', '')}:{getattr(o, 'port', 0)}/{getattr(o, 'database', '')}",
            "mysql": f"jdbc:mysql://{getattr(o, 'host', '')}:{getattr(o, 'port', 0)}/{getattr(o, 'database', '')}",
            "oracle": f"jdbc:oracle:thin:@//{getattr(o, 'host', '')}:{getattr(o, 'port', 0)}/{getattr(o, 'service_name', '')}",
            "dm": f"jdbc:dm://{getattr(o, 'host', '')}:{getattr(o, 'port', 0)}",
            "sqlite": f"jdbc:sqlite:{getattr(o, 'path', '')}",
            "mdb": f"jdbc:ucanaccess://{getattr(o, 'path', '')}",
        }
        url = urls.get(o.backend)
        if url is None:
            raise NotImplementedError(f"no JDBC url mapping for backend {o.backend}")
        return url

    def dialect_ref(self) -> str:
        from .dialect import dialect_for

        return dialect_for(self.options.backend).table_ref(self.table or [])

    # -- commands (SourceCommand parity, table.rs:55-58) --------------------
    @staticmethod
    def list_tables(options: ConnectionOptions) -> list[str]:
        """List user tables in the remote DB (the reference's
        `SourceCommand::ListMdbTables`, generalized per backend)."""
        if options.backend == "mdb":
            # Jet has no queryable catalog table; the ODBC metadata call is
            # the route (reference mdb/mod.rs list_tables via mdbtools)
            conn = connect(options)
            try:
                cur = conn.cursor()
                return sorted(r.table_name for r in cur.tables(tableType="TABLE"))
            finally:
                conn.close()
        sql = {
            "sqlite": "SELECT name FROM sqlite_master WHERE type IN ('table','view') ORDER BY name",
            "duckdb": "SELECT table_name FROM information_schema.tables ORDER BY table_name",
            "postgres": (
                "SELECT tablename FROM pg_catalog.pg_tables "
                "WHERE schemaname NOT IN ('pg_catalog','information_schema') ORDER BY tablename"
            ),
            "mysql": "SHOW TABLES",
        }.get(options.backend)
        if sql is None:
            raise NotImplementedError(f"list_tables not implemented for {options.backend}")
        conn = connect(options)
        try:
            cur = conn.cursor()
            cur.execute(sql)
            return [r[0] for r in cur.fetchall()]
        finally:
            conn.close()

    @staticmethod
    def list_columns(options: ConnectionOptions, table: str) -> list[tuple[str, int]]:
        """Ordered (column_name, position) of one remote table — the
        column-metadata command completing the `SourceCommand` surface
        next to list_tables (catalog browsing before registering a
        scan). Names only: declared type spellings vary per backend
        (sqlite permits typeless columns), while names and order are
        stable across all of them."""
        from .dialect import dialect_for

        ident = dialect_for(options.backend).quote_ident(table)
        esc = table.replace("'", "''")  # info-schema variants compare a string literal
        sql = {
            "sqlite": f"PRAGMA table_info({ident})",
            "duckdb": f"PRAGMA table_info('{esc}')",
            # scope to the visible schema/database like list_tables does —
            # an unscoped information_schema query unions same-named
            # tables from every schema into one garbled column list
            "postgres": (
                "SELECT ordinal_position - 1, column_name FROM information_schema.columns "
                f"WHERE table_name = '{esc}' AND table_schema = ANY(current_schemas(false)) "
                "ORDER BY ordinal_position"
            ),
            "mysql": (
                "SELECT ordinal_position - 1, column_name FROM information_schema.columns "
                f"WHERE table_name = '{esc}' AND table_schema = DATABASE() "
                "ORDER BY ordinal_position"
            ),
        }.get(options.backend)
        if sql is None:
            raise NotImplementedError(f"list_columns not implemented for {options.backend}")
        conn = connect(options)
        try:
            cur = conn.cursor()
            cur.execute(sql)
            rows = cur.fetchall()
        finally:
            conn.close()
        # PRAGMA table_info rows are (cid, name, type, ...); the
        # information_schema spellings are already (position, name)
        return [(str(r[1]), int(r[0])) for r in sorted(rows, key=lambda r: int(r[0]))]

    # -- write path ---------------------------------------------------------
    def insert_select(
        self,
        source_sql: str,
        columns: list[str] | None = None,
        predicate: str | None = None,
    ) -> int:
        """Remote ``INSERT INTO … SELECT`` — the write-side pushdown:
        the rows never leave the remote DB (ELT/CTAS composition; the
        reference's insert.rs always routes rows through the engine,
        so this is parity-plus). ``source_sql`` runs on the remote;
        ``predicate`` goes through the same parse/validate/render path
        as read(predicate=...) before composing into the WHERE clause.
        Returns the inserted row count."""
        if self.table is None:
            raise ValueError("insert_select requires a table target, not a query")
        from .connection import connect_writable

        d = self.spec().dialect
        sql = f"SELECT * FROM {d.wrap_subquery(source_sql)}"
        if columns:
            col_list = ", ".join(d.quote_ident(c) for c in columns)
            sql = f"SELECT {col_list} FROM {d.wrap_subquery(source_sql)}"
        if predicate is not None:
            from .predicate import render_predicate

            sql = f"{sql} WHERE {render_predicate(predicate, d)}"
        target = d.table_ref(self.table)
        cols = f" ({', '.join(d.quote_ident(c) for c in columns)})" if columns else ""
        conn = connect_writable(self.options)
        try:
            cur = conn.cursor()
            cur.execute(f"INSERT INTO {target}{cols} {sql}")
            n = cur.rowcount
            conn.commit()
            return int(n if n is not None else -1)
        finally:
            conn.close()

    def delete_where(self, predicate: str) -> int:
        """Remote ``DELETE FROM … WHERE`` — the predicate goes through
        the same parse/validate/render path as read(predicate=...); a
        bare delete-all is refused (pass an explicit TRUE comparison if
        you really mean it). Returns the deleted row count where the
        driver reports it."""
        if self.table is None:
            raise ValueError("delete_where requires a table target, not a query")
        if not predicate or not predicate.strip():
            raise ValueError("delete_where requires a predicate")
        from .connection import connect_writable
        from .predicate import render_predicate

        d = self.spec().dialect
        cols = [f.name for f in self.schema.fields]
        where = render_predicate(predicate, d, columns=cols)
        conn = connect_writable(self.options)
        try:
            cur = conn.cursor()
            cur.execute(f"DELETE FROM {d.table_ref(self.table)} WHERE {where}")
            n = cur.rowcount
            conn.commit()
            return int(n if n is not None else -1)
        finally:
            conn.close()

    def update_where(self, assignments: dict[str, str], predicate: str | None = None) -> int:
        """Remote ``UPDATE … SET … [WHERE …]``: each assignment value is
        a scalar expression over the remote columns, parsed/validated/
        rendered per dialect (scalar functions rejected — same rule as
        pushdown filters). Returns the updated row count where the
        driver reports it."""
        if self.table is None:
            raise ValueError("update_where requires a table target, not a query")
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        from .connection import connect_writable
        from .predicate import render_expression, render_predicate

        d = self.spec().dialect
        cols = [f.name for f in self.schema.fields]
        sets = ", ".join(
            f"{d.quote_ident(c)} = {render_expression(v, d, columns=cols)}"
            for c, v in assignments.items()
        )
        for c in assignments:
            if c not in cols:
                raise ValueError(f"unknown assignment column {c!r}")
        sql = f"UPDATE {d.table_ref(self.table)} SET {sets}"
        if predicate is not None:
            sql += f" WHERE {render_predicate(predicate, d, columns=cols)}"
        conn = connect_writable(self.options)
        try:
            cur = conn.cursor()
            cur.execute(sql)
            n = cur.rowcount
            conn.commit()
            return int(n if n is not None else -1)
        finally:
            conn.close()

    def add_column(
        self, name: str, remote_type: str, backfill: str | None = None
    ) -> None:
        """Remote schema evolution: ``ALTER TABLE … ADD COLUMN`` plus an
        optional backfill ``UPDATE`` — both composed and executed on the
        remote engine (the write-side counterpart of
        remote_schema_drift_audit's read-side contract check). The
        backfill value is a scalar expression over the EXISTING remote
        columns, parsed/validated/rendered per dialect exactly like
        update_where; the cached schema is invalidated so subsequent
        reads see the evolved table. The column name must be a plain
        identifier and the remote type a bare type word — anything else
        is refused before touching the remote."""
        import re as _re

        if self.table is None:
            raise ValueError("add_column requires a table target, not a query")
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid column name {name!r}")
        if not _re.fullmatch(r"[A-Za-z]+[A-Za-z0-9 ()]*", remote_type.strip()):
            raise ValueError(f"invalid remote type {remote_type!r}")
        from .connection import connect_writable
        from .predicate import render_expression

        d = self.spec().dialect
        old_cols = [f.name for f in self.schema.fields]
        if name in old_cols:
            raise ValueError(f"column {name!r} already exists")
        backfill_sql = (
            render_expression(backfill, d, columns=old_cols)
            if backfill is not None
            else None
        )
        target = d.table_ref(self.table)
        conn = connect_writable(self.options)
        try:
            cur = conn.cursor()
            cur.execute(
                f"ALTER TABLE {target} ADD COLUMN {d.quote_ident(name)} {remote_type}"
            )
            if backfill_sql is not None:
                cur.execute(
                    f"UPDATE {target} SET {d.quote_ident(name)} = {backfill_sql}"
                )
            conn.commit()
        finally:
            conn.close()
        self._schema = None  # re-infer: reads must see the evolved table

    def insert(self, df: DataFrame, mode: str = "append", coalesce: bool | None = None) -> None:
        """Insert a DataFrame into the remote table (insert.rs parity).

        All-or-nothing in both modes: the job's rows are staged and only
        copied into the table once every task succeeded (see
        RemoteTableWriter). File-backed remotes (sqlite/duckdb) are single-writer, so the
        default coalesces to one task; server backends write with full
        parallelism (one connection per partition)."""
        if self.table is None:
            raise ValueError("insert requires a table source, not a query")
        spark = df.sparkSession
        _register_datasource(spark)
        # the writer resolves "remote_table" through the calling thread's
        # active JVM session, which a thread that never ran createDataFrame
        # (or built the session) lacks; set it the way createDataFrame does
        SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(spark._jsparkSession)
        if coalesce is None:
            coalesce = self.options.backend in ("sqlite", "duckdb")
        out = df.coalesce(1) if coalesce else df
        (
            out.write.format("remote_table")
            .option("spec", self.spec().to_json())
            .mode("overwrite" if mode == "overwrite" else "append")
            .save()
        )
