"""Golden-SQL composition tests for the never-wire-tested server
dialects (postgres / mysql / oracle / dm / gaussdb / mdb).

The reference ships live integration tests per backend
(integration-tests/tests/{postgres,mysql,oracle,dm,gaussdb,mdb}.rs);
no server can run in this sandbox, so these tests pin the COMPOSED
remote SQL to the shape `RemoteDbType::rewrite_query`
(remote-table/src/connection/mod.rs:267-385) produces for the same
(source, filters, limit) inputs:

- table sources compose FLAT — `SELECT * FROM "t" WHERE .. LIMIT n`,
  never a subquery wrap (mod.rs:274-295);
- query sources pass through unchanged when nothing is pushed, and wrap
  in a subquery otherwise (mod.rs:337-360);
- Oracle's limit is a `ROWNUM <= n` WHERE condition (mod.rs:324,365);
  DM sits in the LIMIT group despite its Oracle-style literals;
- MDB composes flat with UNparenthesized filters, bracket identifiers,
  and refuses pushdown on query sources (mod.rs:241,296-305,399);
- literals per sql_binary_literal / sql_string_literal (mod.rs:389-411).

The first real user pointing this engine at a live server exercises
exactly these strings — the test matrix is the wire test's stand-in.
"""

from __future__ import annotations

import datetime as dt

import pytest

from datafusion_remote_table_spark.remote.dialect import dialect_for
from datafusion_remote_table_spark.remote.options import (
    DmConnectionOptions,
    GaussdbConnectionOptions,
    MdbConnectionOptions,
    MysqlConnectionOptions,
    OracleConnectionOptions,
    PostgresConnectionOptions,
)
from datafusion_remote_table_spark.remote.scan import RemoteScanSpec


def _spec(opts, **kw):
    return RemoteScanSpec(options=opts, **kw)


# ---------------------------------------------------------------------------
# rewrite_query matrix: (backend, options) for the LIMIT-group dialects
_LIMIT_GROUP = [
    ("postgres", PostgresConnectionOptions()),
    ("gaussdb", GaussdbConnectionOptions()),
    ("dm", DmConnectionOptions()),
]


@pytest.mark.parametrize("backend,opts", _LIMIT_GROUP, ids=[b for b, _ in _LIMIT_GROUP])
def test_limit_group_table_composition(backend, opts):
    # pushdown_limit parity: select * from remote_table limit 1
    spec = _spec(opts, table=["simple_table"], limit=1)
    assert spec.remote_sql() == 'SELECT * FROM "simple_table" LIMIT 1'
    # pushdown_filters parity: where id = 1
    spec = _spec(opts, table=["simple_table"], pushed_filters=['"id" = 1'])
    assert spec.remote_sql() == 'SELECT * FROM "simple_table" WHERE ("id" = 1)'
    # filters + limit compose in one flat statement
    spec = _spec(opts, table=["simple_table"], pushed_filters=['"id" > 1'], limit=5)
    assert spec.remote_sql() == 'SELECT * FROM "simple_table" WHERE ("id" > 1) LIMIT 5'


@pytest.mark.parametrize("backend,opts", _LIMIT_GROUP, ids=[b for b, _ in _LIMIT_GROUP])
def test_limit_group_query_composition(backend, opts):
    q = "SELECT * FROM simple_table"
    # nothing pushed -> query passes through unchanged (mod.rs:354-356)
    assert _spec(opts, query=q).remote_sql() == q
    # pushdown wraps in a subquery (mod.rs:357-360); DM takes Oracle's
    # no-AS table alias (Oracle-compatible SQL rejects AS there)
    alias = '"__remote_t"' if backend == "dm" else 'AS "__remote_t"'
    spec = _spec(opts, query=q, pushed_filters=['"id" = 1'], limit=1)
    assert spec.remote_sql() == (
        f'SELECT * FROM (SELECT * FROM simple_table) {alias} WHERE ("id" = 1) LIMIT 1'
    )


def test_mysql_composition_backticks():
    opts = MysqlConnectionOptions()
    spec = _spec(opts, table=["simple_table"], pushed_filters=["`id` = 1"], limit=2)
    assert spec.remote_sql() == "SELECT * FROM `simple_table` WHERE (`id` = 1) LIMIT 2"
    spec = _spec(opts, table=["db", "t"], columns=["a"])
    assert spec.remote_sql() == "SELECT `a` FROM `db`.`t`"


def test_oracle_composition_rownum():
    opts = OracleConnectionOptions()
    # limit alone -> ROWNUM condition, no LIMIT/FETCH keyword (mod.rs:324)
    spec = _spec(opts, table=["simple_table"], limit=1)
    assert spec.remote_sql() == 'SELECT * FROM "simple_table" WHERE (ROWNUM <= 1)'
    # filters + limit share one WHERE, ROWNUM last (mod.rs:321-330)
    spec = _spec(opts, table=["simple_table"], pushed_filters=['"id" > 1'], limit=5)
    assert spec.remote_sql() == 'SELECT * FROM "simple_table" WHERE ("id" > 1) AND (ROWNUM <= 5)'
    # query source: wrap (Oracle table alias takes no AS) + ROWNUM
    spec = _spec(opts, query="SELECT * FROM t", limit=3)
    assert spec.remote_sql() == 'SELECT * FROM (SELECT * FROM t) "__remote_t" WHERE (ROWNUM <= 3)'
    # no pushdown -> unchanged
    assert _spec(opts, query="SELECT * FROM t").remote_sql() == "SELECT * FROM t"


def test_mdb_composition_flat_brackets():
    opts = MdbConnectionOptions(path="/data/x.mdb")
    spec = _spec(opts, table=["my table"], pushed_filters=["[id] > 1"], limit=5)
    # flat, bracket-quoted, UNparenthesized filters (mod.rs:296-305,399)
    assert spec.remote_sql() == "SELECT * FROM [my table] WHERE [id] > 1 LIMIT 5"
    # query sources take no pushdown at all (support_rewrite mod.rs:241)
    assert _spec(opts, query="SELECT * FROM t").remote_sql() == "SELECT * FROM t"
    with pytest.raises(NotImplementedError, match="table-source-only"):
        _spec(opts, query="SELECT * FROM t", limit=1).remote_sql()


# ---------------------------------------------------------------------------
# count(1) pushdown (try_count1_query parity)
def test_count1_composition():
    assert _spec(
        PostgresConnectionOptions(), table=["simple_table"]
    ).count_sql() == 'SELECT COUNT(1) FROM "simple_table"'
    assert _spec(
        MysqlConnectionOptions(), table=["t"]
    ).count_sql() == "SELECT COUNT(1) FROM `t`"
    assert _spec(
        PostgresConnectionOptions(), query="SELECT * FROM t WHERE x > 0"
    ).count_sql() == 'SELECT COUNT(1) FROM (SELECT * FROM t WHERE x > 0) AS "__remote_t"'
    # Mdb: try_count1_query returns None (COUNT(*) via mdbtools is broken)
    with pytest.raises(NotImplementedError, match="count"):
        _spec(MdbConnectionOptions(path="/x.mdb"), table=["t"]).count_sql()


# ---------------------------------------------------------------------------
# literal rendering (sql_binary_literal / sql_string_literal parity)
def test_binary_literals_per_dialect():
    payload = bytes([0x01, 0xFF])
    assert dialect_for("postgres").bytes_literal(payload) == "E'\\\\x01ff'"
    assert dialect_for("gaussdb").bytes_literal(payload) == "E'\\\\x01ff'"
    assert dialect_for("mysql").bytes_literal(payload) == "X'01ff'"
    assert dialect_for("sqlite").bytes_literal(payload) == "X'01ff'"
    assert dialect_for("oracle").bytes_literal(payload) == "HEXTORAW('01ff')"
    assert dialect_for("dm").bytes_literal(payload) == "HEXTORAW('01ff')"
    assert dialect_for("mdb").bytes_literal(payload) == "X'01ff'"
    # duckdb (our extra live backend) has no X'' literal at all
    assert dialect_for("duckdb").bytes_literal(payload) == "from_hex('01ff')"


def test_writer_attempt_sql_per_dialect():
    """The staged writer's attempt column type and committed-attempt set."""
    assert dialect_for("postgres").int_values_query([1, 2]) == 'WITH "__v"(v) AS (VALUES (1), (2)) SELECT v FROM "__v"'
    assert dialect_for("mysql").int_values_query([1, 2]) == "SELECT 1 UNION ALL SELECT 2"
    assert dialect_for("oracle").int_values_query([1, 2]) == "SELECT 1 FROM dual UNION ALL SELECT 2 FROM dual"
    assert dialect_for("dm").int_values_query([7]) == "SELECT 7 FROM dual"
    assert [dialect_for(b).int64_type for b in ("postgres", "sqlite", "duckdb", "mysql", "oracle")] == [
        "BIGINT", "BIGINT", "BIGINT", "SIGNED", "NUMBER(19)"
    ]


def test_string_literal_quote_doubling():
    for backend in ("postgres", "mysql", "oracle", "dm", "gaussdb", "mdb", "sqlite"):
        assert dialect_for(backend).literal("O'Brien") == "'O''Brien'"


def test_identifier_quote_doubling():
    assert dialect_for("postgres").quote_ident('a"b') == '"a""b"'
    assert dialect_for("mysql").quote_ident("a`b") == "`a``b`"
    assert dialect_for("mdb").quote_ident("a]b") == "[a]]b]"


def test_timestamp_and_date_literals():
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    assert (
        dialect_for("postgres").timestamp_literal(ts)
        == "TIMESTAMP '2024-01-02 03:04:05.123456'"
    )
    assert dialect_for("oracle").timestamp_literal(ts) == "TIMESTAMP '2024-01-02 03:04:05.123456'"
    # sqlite stores timestamps as text
    assert dialect_for("sqlite").timestamp_literal(ts) == "'2024-01-02 03:04:05.123456'"
    assert dialect_for("postgres").date_literal(dt.date(2024, 1, 2)) == "DATE '2024-01-02'"


# ---------------------------------------------------------------------------
# schema-probe SQL (limit_1_query_if_possible parity; ours probes LIMIT 0)
def test_probe_queries_are_dialect_valid():
    assert (
        dialect_for("postgres").limit0_query('SELECT * FROM "t"')
        == 'SELECT * FROM (SELECT * FROM "t") AS "__remote_t" LIMIT 0'
    )
    # Oracle probe must not say LIMIT
    probe = dialect_for("oracle").limit0_query('SELECT * FROM "t"')
    assert "LIMIT" not in probe and "FETCH FIRST 0 ROWS ONLY" in probe
    # Jet probe is flat
    assert dialect_for("mdb").limit0_query("SELECT * FROM [t]") == "SELECT * FROM [t] LIMIT 0"


# ---------------------------------------------------------------------------
# serde keeps the composed SQL stable for every server dialect
@pytest.mark.parametrize(
    "opts",
    [
        PostgresConnectionOptions(),
        MysqlConnectionOptions(),
        OracleConnectionOptions(),
        DmConnectionOptions(),
        GaussdbConnectionOptions(),
    ],
    ids=["postgres", "mysql", "oracle", "dm", "gaussdb"],
)
def test_spec_serde_roundtrip_composition(opts):
    spec = _spec(opts, table=["t"], pushed_filters=['"id" > 1'], limit=4, columns=["id"])
    back = RemoteScanSpec.from_json(spec.to_json())
    assert back.remote_sql() == spec.remote_sql()
