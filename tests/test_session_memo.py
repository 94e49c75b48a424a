"""The per-file schema memo of ``session.load_tables``.

A repeat load of an unchanged file reads with the memoized
``StructType`` (no Spark job); a changed file, a renamed-over file or a
fresh file infers again. The lazy plans, the ns→µs timestamp rewrite and
the strict missing-table error are unchanged.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from datafusion_remote_table_spark import session
from datafusion_remote_table_spark.session import TABLES, load_tables

from .conftest import SF_DIR

SF_DIRS = [SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")]


def _memo_entry(path):
    real = os.path.realpath(path)
    st = os.stat(real)
    return session._FILE_SCHEMAS.get((real, st.st_size, st.st_mtime_ns, st.st_ino))


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by a job group."""
    sc = spark.sparkContext
    group = f"memo-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_tables memo probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", SF_DIRS, ids=os.path.basename)
def test_memoized_schema_equals_inferred(spark, sf):
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    first = load_tables(spark, sf)
    again = load_tables(spark, sf)
    for name in TABLES:
        path = os.path.join(sf, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        assert _memo_entry(path)[0] == inferred, name
        assert again[name].schema == first[name].schema, name


def test_repeat_load_runs_no_spark_job(spark):
    session._FILE_SCHEMAS.clear()
    _, cold = _jobs_run(spark, lambda: load_tables(spark, SF_DIR))
    dfs, warm = _jobs_run(spark, lambda: load_tables(spark, SF_DIR))
    assert cold >= len(TABLES)  # the counter sees inference jobs
    assert warm == 0
    # the hit still returns working lazy plans over the file
    assert dfs["region"].count() == pq.ParquetFile(os.path.join(SF_DIR, "region.parquet")).metadata.num_rows


@pytest.mark.parametrize("how", ["overwrite", "rename"])
def test_rewritten_file_misses_the_memo(spark, tmp_path, how):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_tables(spark, d, ("t",))["t"].columns == ["a", "b"]
    assert load_tables(spark, d, ("t",))["t"].columns == ["a", "b"]  # memo hit
    new = pa.table({"a": [3], "c": [1.5], "d": [True]})
    if how == "overwrite":
        pq.write_table(new, path)
    else:
        pq.write_table(new, os.path.join(d, "t.tmp"))
        os.replace(os.path.join(d, "t.tmp"), path)
    df = load_tables(spark, d, ("t",))["t"]
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]
    assert spark.table("t").columns == ["a", "c", "d"]


def test_symlinked_copy_hits_the_memo(spark, tmp_path):
    load_tables(spark, SF_DIR)
    for t in os.listdir(SF_DIR):
        if t.endswith(".parquet"):
            os.symlink(os.path.join(SF_DIR, t), os.path.join(tmp_path, t))
    dfs, jobs = _jobs_run(spark, lambda: load_tables(spark, str(tmp_path)))
    assert jobs == 0
    assert dfs["nation"].count() == 25


def test_ns_timestamps_still_arrive_as_micros(spark, tmp_path):
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), None]
    nanos = pa.array([1_704_164_645_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": nanos}), os.path.join(tmp_path, "events.parquet"))
    for _ in range(2):  # miss, then hit
        df = load_tables(spark, str(tmp_path), ("events",))["events"]
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert [r.ts for r in df.orderBy("id").collect()] == ts
    # the shipped events table is µs already (and timezone-naive)
    events = load_tables(spark, SF_DIR, ("events",))["events"]
    assert events.schema["ts"].dataType == spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).schema["ts"].dataType
    assert events.schema["ts"].dataType.typeName().startswith("timestamp")


def test_missing_table_error_unchanged_after_memo(spark, tmp_path):
    load_tables(spark, SF_DIR, ("region",))
    with pytest.raises(session.TestDataNotFoundError, match=r"lacks parquet for requested tables \['nope'\]"):
        load_tables(spark, SF_DIR, ("region", "nope"))
    with pytest.raises(session.TestDataNotFoundError, match="is not a directory"):
        load_tables(spark, str(tmp_path / "absent"), ("region",))


def test_concurrent_loads_of_a_fresh_file_agree(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), os.path.join(d, "fresh.parquet"))
    with ThreadPoolExecutor(max_workers=8) as pool:
        schemas = list(pool.map(lambda _: load_tables(spark, d, ("fresh",))["fresh"].schema, range(8)))
    assert all(s == schemas[0] for s in schemas)
    assert _memo_entry(os.path.join(d, "fresh.parquet"))[0] == schemas[0]
    assert schemas[0].names == ["k", "v"]
