"""Federated remote-table engine (reference parity, Spark-first).

Capability map to /root/reference/remote-table/src:
- connection options / pooling   → options.py, connection.py
- per-DB dialects + literalize   → dialect.py   (literalize.rs parity)
- remote type → Arrow mapping    → schema.py    (schema.rs parity)
- filter unparse for pushdown    → unparse.py   (transform.rs:52-86 parity)
- scan exec + serde + schema rule → scan.py    (scan.rs + codec.rs parity; the one
  fetch path: DataSource tasks, stream slices and bounded driver reads)
- Spark integration (DataSource) → datasource.py, stream_datasource.py
- insert-back                    → datasource.py writer (insert.rs parity)
- per-batch transform hook       → transform.py (transform.rs parity)
- RemoteTable facade             → table.py     (table.rs parity)
"""

from .options import (  # noqa: F401
    ConnectionOptions,
    DmConnectionOptions,
    DuckdbConnectionOptions,
    GaussdbConnectionOptions,
    MdbConnectionOptions,
    MysqlConnectionOptions,
    OracleConnectionOptions,
    PostgresConnectionOptions,
    SqliteConnectionOptions,
)
from .scan import RemoteScanSpec  # noqa: F401
from .table import RemoteTable  # noqa: F401
