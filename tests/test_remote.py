"""Remote-table engine tests, mirroring the reference's integration test
matrix (/root/reference/integration-tests/tests/{sqlite,postgres}.rs):
type roundtrip, streaming chunks, pushdown_limit, pushdown_filters,
count1 agg, projection, empty-ish projection, insert, transforms, serde.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    In,
    IsNull,
    Not,
    StringStartsWith,
)

from datafusion_remote_table_spark.remote import (
    DuckdbConnectionOptions,
    RemoteScanSpec,
    RemoteTable,
    SqliteConnectionOptions,
)
from datafusion_remote_table_spark.remote.dialect import dialect_for
from datafusion_remote_table_spark.remote.schema import remote_type_to_spark
from datafusion_remote_table_spark.remote.transform import RemoteTransform
from datafusion_remote_table_spark.remote.unparse import split_filters, unparse_filter


@pytest.fixture(scope="module")
def sqlite_db(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("remote") / "test.db")
    conn = sqlite3.connect(path)
    conn.execute(
        """CREATE TABLE supported_data_types (
             int_col INTEGER, real_col REAL, text_col TEXT,
             blob_col BLOB, null_col TEXT)"""
    )
    conn.execute(
        "INSERT INTO supported_data_types VALUES (1, 1.5, 'char', X'01', NULL)"
    )
    conn.execute("INSERT INTO supported_data_types VALUES (NULL, NULL, NULL, NULL, NULL)")
    conn.execute("CREATE TABLE simple_table (id INTEGER, name TEXT)")
    conn.executemany(
        "INSERT INTO simple_table VALUES (?, ?)", [(1, "Tom"), (2, "Jerry"), (3, "Spike")]
    )
    conn.execute("CREATE TABLE insert_target (id INTEGER, name TEXT)")
    conn.commit()
    conn.close()
    return path


# -- supported types (sqlite.rs supported_sqlite_types parity) --------------
@pytest.mark.parametrize("source", ["SELECT * from supported_data_types", ["supported_data_types"]])
def test_supported_sqlite_types(spark, sqlite_db, source):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), source)
    rows = t.read(spark).collect()
    assert len(rows) == 2
    full = next(r for r in rows if r.int_col is not None)
    assert (full.int_col, full.real_col, full.text_col, full.blob_col, full.null_col) == (
        1,
        1.5,
        "char",
        bytearray(b"\x01"),
        None,
    )


def test_count1_agg(spark, sqlite_db):
    # count(*) rewritten to a remote SELECT COUNT(*) (postgres.rs count1_agg)
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), "select count(1) from supported_data_types")
    assert t.read(spark).collect()[0][0] == 2
    assert RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["supported_data_types"]).count() == 2


# -- streaming chunks (sqlite.rs streaming_execution parity) ----------------
@pytest.mark.parametrize("source", ["SELECT * from simple_table", ["simple_table"]])
def test_streaming_execution(spark, sqlite_db, source):
    opts = SqliteConnectionOptions(path=sqlite_db, stream_chunk_size=1)
    t = RemoteTable(opts, source)
    assert t.remote_schema() == [("id", "bigint"), ("name", "string")]
    rows = sorted(t.read(spark).collect())
    assert [tuple(r) for r in rows] == [(1, "Tom"), (2, "Jerry"), (3, "Spike")]


# -- pushdown (sqlite.rs pushdown_limit / pushdown_filters parity) ----------
def test_pushdown_limit_sql(sqlite_db):
    spec = RemoteScanSpec(options=SqliteConnectionOptions(path=sqlite_db), table=["simple_table"], limit=1)
    assert spec.remote_sql().endswith("LIMIT 1")


def test_pushdown_limit_result(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), "SELECT * FROM simple_table ORDER BY id")
    assert [tuple(r) for r in t.read(spark, limit=1).collect()] == [(1, "Tom")]


def test_pushdown_filters_reach_remote_sql(sqlite_db):
    d = dialect_for("sqlite")
    pushed, unsupported = split_filters(
        [EqualTo(("id",), 1), GreaterThan(("id",), 0), In(("name",), ("Tom", "Jerry"))], d
    )
    assert pushed == ['"id" = 1', '"id" > 0', "\"name\" IN ('Tom', 'Jerry')"]
    assert unsupported == []
    spec = RemoteScanSpec(
        options=SqliteConnectionOptions(path=sqlite_db), table=["simple_table"], pushed_filters=pushed
    )
    sql = spec.remote_sql()
    assert 'WHERE ("id" = 1)' in sql and '("id" > 0)' in sql


def test_pushdown_filters_result(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    df = t.read(spark)
    assert [tuple(r) for r in df.filter(F.col("id") == 1).collect()] == [(1, "Tom")]
    assert [tuple(r) for r in df.filter(F.col("name").startswith("Sp")).collect()] == [(3, "Spike")]
    # unsupported filter (expression on column) still evaluated by Spark
    assert [tuple(r) for r in df.filter((F.col("id") % 2) == 1).orderBy("id").collect()] == [
        (1, "Tom"),
        (3, "Spike"),
    ]


def test_unparse_literals():
    d = dialect_for("postgres")
    assert unparse_filter(EqualTo(("a",), "O'Hara"), d) == "\"a\" = 'O''Hara'"
    assert unparse_filter(EqualTo(("a",), True), d) == '"a" = TRUE'
    assert unparse_filter(IsNull(("a",)), d) == '"a" IS NULL'
    assert unparse_filter(Not(EqualTo(("a",), 1)), d) == 'NOT ("a" = 1)'
    assert (
        unparse_filter(EqualTo(("a",), dt.datetime(2024, 1, 2, 3, 4, 5)), d)
        == "TIMESTAMP '2024-01-02 03:04:05.000000'".join(['"a" = ', ""])
    )
    assert unparse_filter(StringStartsWith(("a",), "x%"), d) == "\"a\" LIKE 'x\\%%' ESCAPE '\\'"
    assert dialect_for("mysql").quote_ident("x") == "`x`"
    assert dialect_for("sqlite").literal(True) == "1"
    assert dialect_for("oracle").limit_clause(5) == "FETCH FIRST 5 ROWS ONLY"


def test_mysql_backslash_escaping():
    """MySQL's string parser eats backslashes (unlike ANSI): LIKE patterns
    and plain string literals must double them or the statement is
    malformed (e.g. ESCAPE '\\' would swallow the closing quote)."""
    m = dialect_for("mysql")
    # plain literal: one backslash in the value -> two in the SQL text
    assert m.literal("C:\\temp") == "'C:\\\\temp'"
    # LIKE: pattern-level escape (\% for literal %) then string-level
    # doubling; the ESCAPE clause itself is '\\' in SQL text
    got = unparse_filter(StringStartsWith(("a",), "x%"), m)
    assert got == "`a` LIKE 'x\\\\%%' ESCAPE '\\\\'"
    # ANSI dialects keep single backslashes
    assert unparse_filter(StringStartsWith(("a",), "x%"), dialect_for("postgres")).endswith(
        "ESCAPE '\\'"
    )


# -- projection (postgres.rs table_projection parity) -----------------------
def test_projection(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    df = t.read(spark, columns=["name"])
    assert df.columns == ["name"]
    spec = t.spec(columns=["name"])
    assert spec.remote_sql().startswith('SELECT "name" FROM')


# -- user schema (try_new_with_schema / with_remote_schema parity) ----------
def test_user_remote_schema(spark, sqlite_db):
    t = RemoteTable(
        SqliteConnectionOptions(path=sqlite_db),
        ["simple_table"],
        schema=[("id", "INTEGER"), ("name", "VARCHAR(20)")],
    )
    assert t.remote_schema() == [("id", "bigint"), ("name", "string")]
    assert t.read(spark).count() == 3


def test_remote_type_mapping():
    # schema.rs README matrix spot checks
    assert remote_type_to_spark("Int2").simpleString() == "smallint"
    assert remote_type_to_spark("BIGINT UNSIGNED").simpleString() == "decimal(20,0)"
    assert remote_type_to_spark("NUMERIC(10,2)").simpleString() == "decimal(10,2)"
    assert remote_type_to_spark("VARCHAR2(30)").simpleString() == "string"
    assert remote_type_to_spark("BYTEA").simpleString() == "binary"
    assert remote_type_to_spark("TIMESTAMPTZ").simpleString() == "timestamp"
    assert remote_type_to_spark("Int4[]").simpleString() == "array<int>"
    assert remote_type_to_spark("BOOLEAN").simpleString() == "boolean"
    with pytest.raises(KeyError):
        remote_type_to_spark("GEOGRAPHIC_BLOB_OF_MYSTERY")


# -- insert (postgres.rs insert_* parity) -----------------------------------
def test_insert_roundtrip(spark, sqlite_db):
    opts = SqliteConnectionOptions(path=sqlite_db)
    t = RemoteTable(opts, ["insert_target"])
    df = spark.createDataFrame([(10, "Ann"), (11, "Bob")], "id long, name string")
    t.insert(df, mode="overwrite")
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(10, "Ann"), (11, "Bob")]
    t.insert(spark.createDataFrame([(12, "Cyd")], "id long, name string"))
    assert t.count() == 3


# -- transform (transform.rs parity) ----------------------------------------
def test_transform_batches(spark, sqlite_db):
    tr = RemoteTransform(
        lambda pdf: pdf.assign(name=pdf["name"].str.upper(), name_len=pdf["name"].str.len()),
        "id bigint, name string, name_len int",
    )
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"], transform=tr)
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(1, "TOM", 3), (2, "JERRY", 5), (3, "SPIKE", 5)]


# -- serde (codec.rs parity) -------------------------------------------------
def test_scan_spec_serde(spark, sqlite_db):
    spec = RemoteScanSpec(
        options=SqliteConnectionOptions(path=sqlite_db, stream_chunk_size=2),
        table=["simple_table"],
        pushed_filters=['"id" > 1'],
        limit=5,
        partition_column="id",
        fetch_partitions=2,
    )
    back = RemoteScanSpec.from_json(spec.to_json())
    assert back.remote_sql() == spec.remote_sql()
    assert back.options.stream_chunk_size == 2
    assert back.partition_column == "id"


# -- partitioned parallel fetch (scale path) --------------------------------
def test_partitioned_read_complete_and_disjoint(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    df = t.read(spark, partition_column="id", fetch_partitions=2)
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]


def test_limit_with_partitions_stays_exact(spark, sqlite_db):
    """A pushed LIMIT forces a single partition: the LIMIT lands in each
    partition's remote SQL, so N ranges would return up to N*limit rows
    even through the raw DataSource path (no facade df.limit guard)."""
    spec = RemoteScanSpec(
        options=SqliteConnectionOptions(path=sqlite_db),
        table=["simple_table"],
        limit=2,
        partition_column="id",
        fetch_partitions=3,
    )
    assert spec.partition_predicates() == [()]
    from datafusion_remote_table_spark.remote.table import _register_datasource

    _register_datasource(spark)
    df = (
        spark.read.format("remote_table")
        .schema("id bigint, name string")
        .option("spec", spec.to_json())
        .load()
    )
    assert df.count() == 2


# -- staged writes (insert.rs never leaves a partial write visible) ---------
def test_overwrite_stages_and_aborts_cleanly(spark, sqlite_db):
    """Both modes stage: the writer creates an empty staging table and
    leaves the target alone until commit; abort drops the staging."""
    from datafusion_remote_table_spark.remote.datasource import RemoteTableWriter
    from pyspark.sql.types import StructType

    opts = SqliteConnectionOptions(path=sqlite_db)
    t = RemoteTable(opts, ["insert_target"])
    t.insert(spark.createDataFrame([(1, "seed")], "id long, name string"), mode="overwrite")
    before = t.count()
    assert before == 1

    schema = StructType.fromDDL("id bigint, name string")
    for overwrite in (False, True):
        w = RemoteTableWriter(t.spec(), schema, overwrite=overwrite)
        # writer construction must NOT touch the target (old code DELETEd here)
        assert t.count() == before
        # staging table exists and is empty
        con = sqlite3.connect(sqlite_db)
        assert con.execute(f"SELECT COUNT(*) FROM [{w.staging}]").fetchone()[0] == 0
        con.close()
        # abort drops staging, target still intact
        w.abort([])
        con = sqlite3.connect(sqlite_db)
        names = [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")]
        con.close()
        assert w.staging not in names
        assert t.count() == before
    # a real append, then a real overwrite, still land their rows
    t.insert(spark.createDataFrame([(2, "more")], "id long, name string"))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, "seed"), (2, "more")]
    t.insert(spark.createDataFrame([(7, "new"), (8, "er")], "id long, name string"), mode="overwrite")
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(7, "new"), (8, "er")]


def _file_remote(backend: str, tmp_path, ddl: str, rows: list[tuple]):
    """Options for a fresh sqlite/duckdb file holding table t(ddl) with rows,
    and a function listing the file's table names."""
    path = str(tmp_path / f"w.{backend}")
    if backend == "sqlite":
        con = sqlite3.connect(path)
        list_sql = "SELECT name FROM sqlite_master WHERE type = 'table'"
        opts = SqliteConnectionOptions(path=path)
    else:
        import duckdb

        con = duckdb.connect(path)
        list_sql = "SELECT table_name FROM information_schema.tables"
        opts = DuckdbConnectionOptions(path=path)
    con.execute(f"CREATE TABLE t ({ddl})")
    if rows:
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' for _ in rows[0])})", rows)
    con.commit()
    con.close()

    def tables():
        c = sqlite3.connect(path) if backend == "sqlite" else duckdb.connect(path, read_only=True)
        try:
            return [r[0] for r in c.execute(list_sql).fetchall()]
        finally:
            c.close()

    return opts, tables


@pytest.mark.parametrize("overwrite", [False, True], ids=["append", "overwrite"])
@pytest.mark.parametrize("backend", ["sqlite", "duckdb"])
def test_failed_write_job_leaves_target_unchanged(tmp_path, backend, overwrite):
    """Fault injection through the writer protocol: task 1's write()
    returns, task 2 raises after its first batch, the job aborts. The
    target keeps exactly its rows and no staging table is left."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datafusion_remote_table_spark.remote.datasource import RemoteTableWriter

    opts, tables = _file_remote(backend, tmp_path, "id BIGINT, name TEXT", [(1, "a"), (2, "b"), (3, "c")])
    t = RemoteTable(opts, ["t"])
    # built without a SparkContext (fromDDL needs one), so the test runs alone
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])

    def batch(lo):
        return pa.RecordBatch.from_pylist(
            [{"id": i, "name": f"n{i}"} for i in (lo, lo + 1)],
            schema=pa.schema([("id", pa.int64()), ("name", pa.string())]),
        )

    def failing_task():
        yield batch(20)
        raise RuntimeError("injected task failure")

    w = RemoteTableWriter(t.spec(), schema, overwrite=overwrite)
    done = [w.write(iter([batch(10)]))]
    with pytest.raises(RuntimeError, match="injected"):
        w.write(failing_task())
    # a failed task's rows never reach the staging table either, so a
    # retried task cannot stage its rows twice
    assert RemoteTable(opts, [w.staging]).count() == 2
    w.abort(done)
    assert t.count() == 3
    assert not [n for n in tables() if n.startswith("__t_staging_")]


@pytest.mark.parametrize("overwrite", [False, True], ids=["append", "overwrite"])
@pytest.mark.parametrize("backend", ["sqlite", "duckdb"])
def test_retried_task_rows_are_committed_once(tmp_path, backend, overwrite):
    """A task whose staged insert committed, then re-ran (executor loss,
    speculation): commit() receives only the second attempt's message,
    and the task's rows reach the target once."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datafusion_remote_table_spark.remote.datasource import RemoteTableWriter

    opts, tables = _file_remote(backend, tmp_path, "id BIGINT, name TEXT", [(1, "a")])
    t = RemoteTable(opts, ["t"])
    batch = pa.RecordBatch.from_pylist(
        [{"id": 10, "name": "x"}, {"id": 11, "name": "y"}],
        schema=pa.schema([("id", pa.int64()), ("name", pa.string())]),
    )
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    w = RemoteTableWriter(t.spec(), schema, overwrite=overwrite)
    w.write(iter([batch]))  # first attempt: staged, then lost
    w.commit([w.write(iter([batch]))])
    path = str(tmp_path / f"w.{backend}")
    if backend == "sqlite":
        con = sqlite3.connect(path)
    else:
        import duckdb

        con = duckdb.connect(path, read_only=True)
    try:
        got = sorted(con.execute("SELECT id, name FROM t").fetchall())
    finally:
        con.close()
    assert got == ([] if overwrite else [(1, "a")]) + [(10, "x"), (11, "y")]
    assert not [n for n in tables() if n.startswith("__t_staging_")]


@pytest.mark.parametrize("mode", ["append", "overwrite"])
@pytest.mark.parametrize("backend", ["sqlite", "duckdb"])
def test_column_subset_insert_keeps_target_default(spark, tmp_path, backend, mode):
    """A DataFrame with a subset of the target's columns: the others take
    the target's defaults (the staged copy names the writer's columns)."""
    opts, tables = _file_remote(
        backend, tmp_path, "id BIGINT, name TEXT, status TEXT NOT NULL DEFAULT 'new'", [(0, "old", "done")]
    )
    t = RemoteTable(opts, ["t"])
    t.insert(spark.createDataFrame([(1, "a")], "id long, name string"), mode=mode)
    got = sorted(tuple(r) for r in t.read(spark).collect())
    want = [(1, "a", "new")] if mode == "overwrite" else [(0, "old", "done"), (1, "a", "new")]
    assert got == want
    assert not [n for n in tables() if n.startswith("__t_staging_")]


# -- duckdb backend (Arrow-native fetch) ------------------------------------
def test_duckdb_backend(spark, tmp_path):
    import duckdb

    path = str(tmp_path / "remote.duckdb")
    c = duckdb.connect(path)
    c.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', DATE '2024-01-02'), (2, 'b', NULL)) x(k, v, d)")
    c.close()
    t = RemoteTable(DuckdbConnectionOptions(path=path), ["t"])
    schema = dict(t.remote_schema())
    assert schema["k"] in ("int", "bigint") and schema["v"] == "string" and schema["d"] == "date"
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(1, "a", dt.date(2024, 1, 2)), (2, "b", None)]


# -- list tables (SourceCommand::ListMdbTables parity) ----------------------
def test_list_tables(sqlite_db):
    names = RemoteTable.list_tables(SqliteConnectionOptions(path=sqlite_db))
    assert {"simple_table", "supported_data_types", "insert_target"} <= set(names)


def test_gaussdb_dm_dialects():
    assert dialect_for("gaussdb").quote_ident("x") == '"x"'
    # the reference groups DM with the LIMIT dialects (rewrite_query,
    # connection/mod.rs:274-281), not with Oracle's ROWNUM composition
    assert dialect_for("dm").limit_clause(3) == "LIMIT 3"


def test_gaussdb_dm_backends_fully_wired():
    """Options serde round trip, dialect SQL composition, JDBC URL, and a
    clean import-gated connect error for the DM/GaussDB backends
    (reference connection/gaussdb.rs, connection/dm/) — no live server
    needed, same as the reference's dialect-level tests."""
    from datafusion_remote_table_spark.remote import (
        DmConnectionOptions,
        GaussdbConnectionOptions,
    )
    from datafusion_remote_table_spark.remote.connection import connect
    from datafusion_remote_table_spark.remote.options import ConnectionOptions

    for opts in (
        GaussdbConnectionOptions(host="h", port=5433, username="u", password="p", database="d"),
        DmConnectionOptions(host="h", port=5236, username="u", password="p", schema="s"),
    ):
        back = ConnectionOptions.from_dict(opts.to_dict())
        assert back == opts
        spec = RemoteScanSpec(options=back, table=["t"], pushed_filters=['"id" > 1'], limit=5)
        rebuilt = RemoteScanSpec.from_json(spec.to_json())
        assert rebuilt.remote_sql() == spec.remote_sql()
        # DM fails with a clear import-gated driver message, not a
        # KeyError; gaussdb now ALWAYS has a driver (psycopg2 or the
        # pgwire fallback), so its failure mode against a fake host is a
        # connection error — the live path is covered by
        # tests/test_remote_postgres_live.py::test_gaussdb_backend_live_via_pg_wire
        if back.backend == "dm":
            with pytest.raises(ImportError, match="driver|dmPython"):
                connect(back)
        else:
            with pytest.raises(OSError):
                connect(back)

    g = RemoteScanSpec(options=GaussdbConnectionOptions(), table=["t"])
    # table sources compose FLAT (rewrite_query parity — no subquery wrap)
    assert g.remote_sql(('"id" = 1',)) == 'SELECT * FROM "t" WHERE ("id" = 1)'
    d = RemoteScanSpec(options=DmConnectionOptions(), table=["t"], limit=2)
    assert d.remote_sql() == 'SELECT * FROM "t" LIMIT 2'  # LIMIT group, not ROWNUM
    from datafusion_remote_table_spark.remote import RemoteTable

    assert RemoteTable(DmConnectionOptions(host="h", port=5236), ["t"]).jdbc_url() == "jdbc:dm://h:5236"
    assert "jdbc:postgresql://" in RemoteTable(GaussdbConnectionOptions(host="h"), ["t"]).jdbc_url()


# -- empty projection (postgres.rs empty_projection parity) ------------------
def test_empty_projection_count(spark, sqlite_db):
    df = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"]).read(spark)
    assert df.count() == 3
    assert df.groupBy().count().collect()[0][0] == 3


# -- various remote SQL shapes (postgres.rs various_sqls parity) -------------
@pytest.mark.parametrize(
    "sql,expected",
    [
        ("SELECT 1 AS one", [(1,)]),
        ("SELECT id * 2 AS double_id FROM simple_table ORDER BY id", [(2,), (4,), (6,)]),
        ("SELECT COUNT(*) AS n, MIN(id) AS lo FROM simple_table", [(3, 1)]),
        ("SELECT name FROM simple_table WHERE id <> 2 ORDER BY name", [("Spike",), ("Tom",)]),
        (
            "SELECT upper(name) AS u, length(name) AS l FROM simple_table ORDER BY id LIMIT 2",
            [("TOM", 3), ("JERRY", 5)],
        ),
    ],
)
def test_various_remote_sqls(spark, sqlite_db, sql, expected):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), sql)
    assert [tuple(r) for r in t.read(spark).collect()] == expected


def test_jdbc_url_mapping(sqlite_db):
    from datafusion_remote_table_spark.remote.options import (
        MysqlConnectionOptions,
        OracleConnectionOptions,
        PostgresConnectionOptions,
    )

    assert RemoteTable(
        PostgresConnectionOptions(host="h", port=5432, database="d"), ["t"]
    ).jdbc_url() == "jdbc:postgresql://h:5432/d"
    assert RemoteTable(
        MysqlConnectionOptions(host="h", port=3306, database="d"), ["t"]
    ).jdbc_url() == "jdbc:mysql://h:3306/d"
    assert RemoteTable(
        OracleConnectionOptions(host="h", port=1521, service_name="s"), ["t"]
    ).jdbc_url() == "jdbc:oracle:thin:@//h:1521/s"
    assert RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["t"]).jdbc_url().startswith("jdbc:sqlite:")
    with pytest.raises(NotImplementedError):
        from datafusion_remote_table_spark.remote.options import DuckdbConnectionOptions
        RemoteTable(DuckdbConnectionOptions(path="x"), ["t"]).jdbc_url()


def test_filter_on_transformed_column_not_pushed(spark, sqlite_db):
    """The remote DB holds 'Tom'; the transform upper-cases it. A filter on
    the transformed value must run AFTER the hook (mapInPandas is a
    pushdown barrier), matching the reference's rule that non-default
    transforms disable pushdown of affected filters (transform.rs)."""
    tr = RemoteTransform(
        lambda pdf: pdf.assign(name=pdf["name"].str.upper()),
        "id bigint, name string",
    )
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), "SELECT id, name FROM simple_table", transform=tr)
    rows = t.read(spark).filter(F.col("name") == "TOM").collect()
    assert [tuple(r) for r in rows] == [(1, "TOM")]
    assert t.read(spark).filter(F.col("name") == "Tom").collect() == []


# -- MDB (Access) backend wiring (reference connection/mdb/) -----------------
def test_mdb_backend_fully_wired():
    """Options serde round trip, bracket-quoted flat SQL composition
    (Jet has no subquery-in-FROM and rejects parenthesized WHERE — 
    reference connection/mod.rs:241,296-305,399), count-pushdown refusal
    (mdbtools COUNT(*) returns 0 — mdb/mod.rs), insert refusal, type
    matrix, and a clean import-gated connect error."""
    from datafusion_remote_table_spark.remote import MdbConnectionOptions
    from datafusion_remote_table_spark.remote.connection import connect, connect_writable
    from datafusion_remote_table_spark.remote.options import ConnectionOptions
    from datafusion_remote_table_spark.remote.schema import remote_type_to_spark
    from pyspark.sql import types as T

    opts = MdbConnectionOptions(path="/data/x.mdb", uid="u", pwd="p", extra_params={"Exclusive": "1"})
    back = ConnectionOptions.from_dict(opts.to_dict())
    assert back == opts

    spec = RemoteScanSpec(options=back, table=["my table"], pushed_filters=["[id] > 1"], limit=5)
    rebuilt = RemoteScanSpec.from_json(spec.to_json())
    assert rebuilt.remote_sql() == spec.remote_sql()
    # flat composition: no subquery wrap, unparenthesized WHERE, brackets
    assert spec.remote_sql() == "SELECT * FROM [my table] WHERE [id] > 1 LIMIT 5"
    proj = RemoteScanSpec(options=back, table=["t"], columns=["a", "b"])
    assert proj.remote_sql() == "SELECT [a], [b] FROM [t]"

    with pytest.raises(NotImplementedError, match="count"):
        spec.count_sql()
    with pytest.raises(NotImplementedError, match="insert"):
        connect_writable(back)
    with pytest.raises(ImportError, match="pyodbc"):
        connect(back)

    assert remote_type_to_spark("Long Integer") == T.IntegerType()
    assert remote_type_to_spark("Currency") == T.DecimalType(19, 4)
    assert remote_type_to_spark("Memo") == T.StringType()
    assert remote_type_to_spark("OLE Object") == T.BinaryType()

    from datafusion_remote_table_spark.remote import RemoteTable

    assert RemoteTable(back, ["t"]).jdbc_url() == "jdbc:ucanaccess:///data/x.mdb"


def test_count_falls_back_to_fetch_when_dialect_cannot_push(sqlite_db, monkeypatch):
    """RemoteTable.count streams-and-counts when the dialect raises on
    count_query (the mdb path, exercised against sqlite)."""
    from datafusion_remote_table_spark.remote.dialect import SqliteDialect

    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    expected = t.count()

    def no_push(self, source_query):
        raise NotImplementedError("count pushdown unsupported")

    monkeypatch.setattr(SqliteDialect, "count_query", no_push)
    assert t.count() == expected


# -- relational pushdown composition (aggregate / top-k / join) -------------
def test_aggregate_pushdown_sql_and_result(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    d = dialect_for("sqlite")
    sql = d.aggregate_query(
        ["simple_table"], ["name"], [("COUNT(*)", "n")], filters=("id > 1",)
    )
    assert sql == 'SELECT "name", COUNT(*) AS "n" FROM "simple_table" WHERE (id > 1) GROUP BY "name"'
    df = t.aggregate(
        spark, group_by=[], aggs=[("COUNT(*)", "n"), ("MAX(id)", "max_id")],
        schema="n bigint, max_id bigint",
    )
    assert df.collect()[0].asDict() == {"n": 3, "max_id": 3}


def test_topk_pushdown_sql_and_result(spark, sqlite_db):
    t = RemoteTable(SqliteConnectionOptions(path=sqlite_db), ["simple_table"])
    df = t.topk(spark, order_by=[("id", "DESC")], k=2, columns=["id", "name"])
    assert [r.name for r in df.collect()] == ["Spike", "Jerry"]
    # dialect spellings: Oracle uses FETCH FIRST, Jet uses SELECT TOP
    assert dialect_for("oracle").topk_query(["t"], [("a", "ASC")], 5).endswith(
        'ORDER BY "a" ASC FETCH FIRST 5 ROWS ONLY'
    )
    assert dialect_for("mdb").topk_query(["t"], [("a", "DESC")], 5) == (
        "SELECT TOP 5 * FROM [t] ORDER BY [a] DESC"
    )


def test_join_pushdown_same_source_only(spark, sqlite_db, tmp_path):
    opts = SqliteConnectionOptions(path=sqlite_db)
    joined = RemoteTable(opts, ["simple_table"]).join_remote(
        RemoteTable(opts, ["simple_table"]),
        on=[("id", "id")], left_cols=["id"], right_cols=["name"],
    )
    got = {(r.id, r.name) for r in joined.read(spark).collect()}
    assert got == {(1, "Tom"), (2, "Jerry"), (3, "Spike")}
    # tables that differ only in client-side tuning still share a source
    tuned = SqliteConnectionOptions(path=sqlite_db, stream_chunk_size=7, pool_max_size=3)
    joined = RemoteTable(opts, ["simple_table"]).join_remote(
        RemoteTable(tuned, ["simple_table"]),
        on=[("id", "id")], left_cols=["id"], right_cols=["name"],
    )
    assert {(r.id, r.name) for r in joined.read(spark).collect()} == got
    other = SqliteConnectionOptions(path=str(tmp_path / "other.db"))
    with pytest.raises(ValueError, match="same remote source"):
        RemoteTable(opts, ["simple_table"]).join_remote(
            RemoteTable(other, ["simple_table"]), on=[("id", "id")],
            left_cols=["id"], right_cols=["name"],
        )


def test_insert_from_a_fresh_thread(spark, sqlite_db):
    # a new Python thread maps to a JVM thread with no active session,
    # which the writer's data-source lookup needs
    import threading

    opts = SqliteConnectionOptions(path=sqlite_db)
    conn = sqlite3.connect(sqlite_db)
    conn.execute("CREATE TABLE thread_sink (id INTEGER, name TEXT)")
    conn.commit()
    conn.close()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    errors: list[BaseException] = []

    def write():
        try:
            RemoteTable(opts, ["thread_sink"]).insert(df)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    th = threading.Thread(target=write)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive()
    if errors:
        raise errors[0]
    assert RemoteTable(opts, ["thread_sink"]).count() == 2


# -- bounded pushdowns answered on the driver --------------------------------
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted_rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_matches_datasource(spark, df, opts, sql, schema=None):
    """df (driver path) against the same composed SQL read through the
    DataSource: the same rows and StructType, and no Spark scan job."""
    ref = RemoteTable(opts, sql, schema=schema).read(spark)
    assert df.schema == ref.schema
    assert _sorted_rows(df) == _sorted_rows(ref)
    assert "LocalTableScan" in _plan(df) and "BatchScan" in _plan(ref)


@pytest.fixture(scope="module")
def typed_remotes(tmp_path_factory):
    """sqlite and duckdb copies of one table with a NULL-only group.
    sqlite stores no decimal or timestamp type: its decimal comes from
    integer cents under a user schema, and it has no timestamp column."""
    import duckdb

    d = tmp_path_factory.mktemp("bounded")
    rows = [
        ("a", 1234, b"\x00\xff", "it's", 1),
        ("a", None, None, None, None),
        ("b", 150, b"x", "x", 2),
        ("c", None, None, None, None),
    ]
    conn = sqlite3.connect(str(d / "t.db"))
    conn.execute("CREATE TABLE typed (g TEXT, cents INTEGER, b BLOB, s TEXT, n INTEGER)")
    conn.executemany("INSERT INTO typed VALUES (?, ?, ?, ?, ?)", rows)
    conn.commit()
    conn.close()
    conn = duckdb.connect(str(d / "t.duckdb"))
    conn.execute(
        "CREATE TABLE typed (g VARCHAR, cents INTEGER, b BLOB, s VARCHAR, n BIGINT, "
        "d DECIMAL(10,3), ts TIMESTAMP)"
    )
    for i, (g, cents, b, s_, n) in enumerate(rows):
        conn.execute(
            "INSERT INTO typed VALUES (?, ?, ?, ?, ?, ?, ?)",
            [g, cents, b, s_, n, None if cents is None else cents / 1000,
             None if n is None else dt.datetime(2026, 1, 2, 3, 4, 5, 123456 * i)],
        )
    conn.close()
    return {
        "sqlite": SqliteConnectionOptions(path=str(d / "t.db")),
        "duckdb": DuckdbConnectionOptions(path=str(d / "t.duckdb")),
    }


@pytest.mark.parametrize("backend", ["sqlite", "duckdb"])
def test_bounded_pushdowns_match_datasource(spark, typed_remotes, backend):
    opts = typed_remotes[backend]
    t = RemoteTable(opts, ["typed"])
    d = dialect_for(backend)
    aggs = [("MAX(b)", "b"), ("MAX(s)", "s"), ("SUM(n)", "n"), ("COUNT(*)", "rows")]
    if backend == "duckdb":
        aggs += [("MAX(d)", "d"), ("MAX(ts)", "ts")]
    # inferred schema: both paths must apply the same rule
    df = t.aggregate(spark, group_by=["g"], aggs=aggs)
    _assert_matches_datasource(spark, df, opts, d.aggregate_query(["typed"], ["g"], aggs))
    assert len(df.collect()) == 3
    # user schema, with a decimal
    aggs = [("SUM(cents)", "cents"), ("MAX(s)", "s")]
    schema = "g string, cents decimal(20,0), s string"
    df = t.aggregate(spark, group_by=["g"], aggs=aggs, schema=schema)
    _assert_matches_datasource(spark, df, opts, d.aggregate_query(["typed"], ["g"], aggs), schema)
    order = [("g", "ASC"), ("n", "DESC")]
    df = t.topk(spark, order_by=order, k=3)
    _assert_matches_datasource(spark, df, opts, d.topk_query(["typed"], order, 3))


@pytest.mark.parametrize("backend", ["sqlite", "duckdb"])
def test_bounded_pushdowns_past_one_chunk_use_datasource(spark, typed_remotes, backend):
    opts = typed_remotes[backend]
    t = RemoteTable(type(opts)(path=opts.path, stream_chunk_size=2), ["typed"])
    aggs = [("COUNT(*)", "rows")]
    df = t.aggregate(spark, group_by=["g"], aggs=aggs)
    assert "BatchScan" in _plan(df) and "LocalTableScan" not in _plan(df)
    assert _sorted_rows(df) == [("a", 2), ("b", 1), ("c", 1)]
    df = t.topk(spark, order_by=[("g", "ASC"), ("n", "DESC")], k=3)
    assert "BatchScan" in _plan(df) and "LocalTableScan" not in _plan(df)
    assert [r.g for r in df.collect()] == ["a", "a", "b"]
    # two rows fit the chunk
    df = t.topk(spark, order_by=[("g", "ASC"), ("n", "DESC")], k=2)
    assert "LocalTableScan" in _plan(df) and len(df.collect()) == 2
    # zero groups: an empty frame with the user schema or the inferred one
    none = ("1 = 0",)
    df = t.aggregate(spark, group_by=["g"], aggs=aggs, filters=none, schema="g string, rows bigint")
    assert df.collect() == [] and df.schema.simpleString() == "struct<g:string,rows:bigint>"
    df = t.aggregate(spark, group_by=["g"], aggs=aggs, filters=none)
    sql = dialect_for(backend).aggregate_query(["typed"], ["g"], aggs, filters=none)
    _assert_matches_datasource(spark, df, opts, sql)
    assert df.collect() == []


def test_remote_errors_name_backend_and_sql(spark, sqlite_db):
    import pyarrow as pa

    opts = SqliteConnectionOptions(path=sqlite_db)
    aggs = [("SUM(", "x")]
    sql = dialect_for("sqlite").aggregate_query(["simple_table"], ["name"], aggs)
    with pytest.raises(sqlite3.OperationalError) as err:
        RemoteTable(opts, ["simple_table"]).aggregate(spark, group_by=["name"], aggs=aggs)
    assert any("sqlite" in n and sql in n for n in err.value.__notes__)
    spec = RemoteScanSpec(options=opts, query="SELECT no_such_col FROM simple_table")
    with pytest.raises(sqlite3.OperationalError) as err:
        list(spec.fetch_arrow((), pa.schema([("no_such_col", pa.int64())])))
    assert err.value.__notes__ == [f"remote sqlite query: {spec.remote_sql()}"]


def test_mysql_join_query_quoting():
    sql = dialect_for("mysql").join_query(
        ["a"], ["b"], on=[("x", "y")], left_cols=["x"], right_cols=["z"]
    )
    assert sql == (
        "SELECT `__l`.`x` AS `x`, `__r`.`z` AS `z` FROM `a` `__l` "
        "INNER JOIN `b` `__r` ON `__l`.`x` = `__r`.`y`"
    )


# -- connection pool valve (options.rs pool_max_size parity) ----------------


def test_pool_max_size_serde_roundtrip(sqlite_db):
    spec = RemoteScanSpec(
        options=SqliteConnectionOptions(path=sqlite_db, pool_max_size=3),
        table=["simple_table"],
    )
    back = RemoteScanSpec.from_json(spec.to_json())
    assert back.options.pool_max_size == 3


def test_pool_valve_caps_concurrent_connections(sqlite_db):
    import threading

    from datafusion_remote_table_spark.remote.connection import connect

    opts = SqliteConnectionOptions(path=sqlite_db, pool_max_size=2)
    lock = threading.Lock()
    live, peak, errors = [0], [0], []

    def worker():
        try:
            con = connect(opts)
            with lock:
                live[0] += 1
                peak[0] = max(peak[0], live[0])
            import time as _t

            _t.sleep(0.15)
            with lock:
                live[0] -= 1
            con.close()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert peak[0] <= 2, f"valve leaked: {peak[0]} concurrent connections"


def test_pool_valve_reaps_dead_holder_slots(sqlite_db, tmp_path):
    from datafusion_remote_table_spark.remote.connection import PoolValve

    valve = PoolValve("reap-test", max_size=1)
    # forge the single slot as held by a pid that no longer exists
    path = f"{valve._base}.0.slot"
    with open(path, "w") as f:
        f.write("999999999")
    try:
        valve.acquire(timeout=2.0)  # must reap and succeed, not time out
        valve.release()
    finally:
        import os as _os

        if _os.path.exists(path):
            _os.unlink(path)


def test_pool_valve_times_out_when_exhausted():
    from datafusion_remote_table_spark.remote.connection import PoolValve

    a = PoolValve("timeout-test", max_size=1)
    b = PoolValve("timeout-test", max_size=1)
    a.acquire()
    try:
        with pytest.raises(TimeoutError):
            b.acquire(timeout=0.3)
    finally:
        a.release()


def test_pool_valve_zero_disables_cap(sqlite_db):
    from datafusion_remote_table_spark.remote.connection import connect

    opts = SqliteConnectionOptions(path=sqlite_db, pool_max_size=0)
    cons = [connect(opts) for _ in range(5)]
    import sqlite3 as _sq

    assert all(isinstance(c, _sq.Connection) for c in cons)  # no proxy wrap
    for c in cons:
        c.close()


def test_mixed_pushdown_split(sqlite_db):
    """IN / prefix-LIKE / IS NOT NULL unparse; a modulo predicate has no
    DataSource filter class so it must come back unsupported — the split
    the remote_filter_mixed_pushdown driver query relies on."""
    d = dialect_for("sqlite")
    pushed, unsupported = split_filters(
        [
            In(("c_mktsegment",), ("BUILDING", "MACHINERY")),
            StringStartsWith(("c_name",), "Customer#00000"),
            Not(IsNull(("c_acctbal",))),
        ],
        d,
    )
    assert len(pushed) == 3 and unsupported == []
    assert "\"c_mktsegment\" IN ('BUILDING', 'MACHINERY')" in pushed
    assert any("LIKE 'Customer#00000%'" in p for p in pushed)


# -- custom literalizer (try_new_with_schema_transform_literalizer parity) --


def sqlite_float_text_literalizer(value, dialect):
    """Render floats with explicit CAST (a dialect-quirk workaround the
    reference's pluggable Literalize exists for); defer everything else."""
    if isinstance(value, float):
        return f"CAST('{value!r}' AS REAL)"
    return None


def test_custom_literalizer_rewrites_pushed_sql(spark, sqlite_db):
    t = RemoteTable(
        SqliteConnectionOptions(path=sqlite_db),
        ["supported_data_types"],
        literalizer="tests.test_remote:sqlite_float_text_literalizer",
    )
    df = t.read(spark).filter(F.col("real_col") > 1.0).select("int_col", "real_col")
    rows = [tuple(r) for r in df.collect()]
    assert rows == [(1, 1.5)]
    # the rendered literal flows through the serialized spec
    spec = t.spec()
    from datafusion_remote_table_spark.remote.scan import RemoteScanSpec as _S
    from datafusion_remote_table_spark.remote.unparse import (
        resolve_literalizer,
        split_filters,
    )
    from pyspark.sql.datasource import GreaterThan

    lit = resolve_literalizer(_S.from_json(spec.to_json()).literalizer)
    pushed, unsupported = split_filters([GreaterThan(("real_col",), 1.0)], spec.dialect, lit)
    assert pushed == ["\"real_col\" > CAST('1.0' AS REAL)"] and not unsupported


def test_raising_literalizer_keeps_filter_unsupported():
    from datafusion_remote_table_spark.remote.dialect import dialect_for
    from datafusion_remote_table_spark.remote.unparse import split_filters
    from pyspark.sql.datasource import EqualTo

    def refuse_strings(value, dialect):
        if isinstance(value, str):
            raise TypeError("no string literals on this remote")
        return None

    pushed, unsupported = split_filters(
        [EqualTo(("name",), "Tom"), EqualTo(("id",), 1)], dialect_for("sqlite"), refuse_strings
    )
    assert pushed == ['"id" = 1']
    assert len(unsupported) == 1  # the string filter stays Spark-side


def test_custom_literalizer_applies_to_in_list_elements():
    """The hook must see each IN-list VALUE, not the list object."""
    from datafusion_remote_table_spark.remote.dialect import dialect_for
    from datafusion_remote_table_spark.remote.unparse import split_filters

    def floats_as_cast(value, dialect):
        if isinstance(value, float):
            return f"CAST('{value!r}' AS REAL)"
        return None

    pushed, unsupported = split_filters(
        [In(("x",), (1.5, 2.5))], dialect_for("sqlite"), floats_as_cast
    )
    assert pushed == ["\"x\" IN (CAST('1.5' AS REAL), CAST('2.5' AS REAL))"]
    assert not unsupported


def test_literalizer_raising_any_exception_keeps_filter_unsupported():
    from datafusion_remote_table_spark.remote.dialect import dialect_for
    from datafusion_remote_table_spark.remote.unparse import split_filters

    def refuse(value, dialect):
        raise ValueError("cannot render")

    pushed, unsupported = split_filters([EqualTo(("x",), 1)], dialect_for("sqlite"), refuse)
    assert pushed == [] and len(unsupported) == 1


# -- property roundtrip: random schemas/values through the remote engine ----
# The r2->r3 streaming bug class (unit mismatch between writer and reader)
# lives exactly at engine boundaries like this one: random tables travel
# remote-DB -> RemoteScanSpec fetch -> Spark rows -> insert writeback ->
# re-fetch, and every hop must preserve values bit-for-bit.
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_COL_TYPES = {
    "INTEGER": st.one_of(st.none(), st.integers(min_value=-(2**62), max_value=2**62)),
    "REAL": st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    ),
    "TEXT": st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
            max_size=12,
        ),
    ),
    "BLOB": st.one_of(st.none(), st.binary(max_size=12)),
}


@st.composite
def _random_table(draw):
    types = draw(
        st.lists(st.sampled_from(sorted(_COL_TYPES)), min_size=1, max_size=4)
    )
    cols = [(f"c{i}", t) for i, t in enumerate(types)]
    rows = draw(
        st.lists(
            st.tuples(*[_COL_TYPES[t] for _, t in cols]),
            min_size=0,
            max_size=8,
        )
    )
    return cols, rows


def _norm(v):
    # orderable, type-tagged form (None/bytes/str/int/float mix must sort)
    if v is None:
        return (0, "")
    if isinstance(v, (bytes, bytearray)):
        return (1, bytes(v).hex())
    if isinstance(v, float):
        # IEEE -0.0 == 0.0, and Spark's scan path normalizes the sign;
        # compare them as equal (found by hypothesis on the live pg run)
        return (2, repr(v + 0.0 if v == 0 else v))
    return (3, repr(v))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(table=_random_table())
def test_remote_roundtrip_random_tables(spark, tmp_path_factory, table):
    cols, rows = table
    path = str(tmp_path_factory.mktemp("prop") / "prop.db")
    conn = sqlite3.connect(path)
    ddl = ", ".join(f"{n} {t}" for n, t in cols)
    conn.execute(f"CREATE TABLE src ({ddl})")
    conn.execute(f"CREATE TABLE sink ({ddl})")
    conn.executemany(
        f"INSERT INTO src VALUES ({', '.join('?' for _ in cols)})", rows
    )
    conn.commit()
    conn.close()

    opts = SqliteConnectionOptions(path=path)
    t = RemoteTable(opts, ["src"])
    df = t.read(spark)
    got = sorted(tuple(_norm(v) for v in r) for r in df.collect())
    want = sorted(tuple(_norm(v) for v in r) for r in rows)
    assert got == want, "remote fetch diverged from the inserted rows"

    # writeback: insert the fetched frame and re-fetch through the engine
    RemoteTable(opts, ["sink"]).insert(df)
    back = sorted(
        tuple(_norm(v) for v in r)
        for r in RemoteTable(opts, ["sink"]).read(spark).collect()
    )
    assert back == want, "insert writeback diverged from the source rows"
