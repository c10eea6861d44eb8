"""The table registry's read contract (`sources/registry.py`): a table
reads the same rows and schema as its source file, with one scan task
per split and no Spark job once its handle is memoized; a handle is
never served for a rewritten source; and reading `events` changes no
session conf unless the file stores TIMESTAMP(NANOS)."""

from __future__ import annotations

import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from refitd_etl_spark.sources import registry as R

from .spark_counters import jobs_started


def _k(spark, rows: int) -> int:
    batch = int(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize"))
    return min(spark.sparkContext.defaultParallelism, math.ceil(rows / batch))


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _orders(path, n: int, row_group_size: int | None = None) -> None:
    t = pa.table({"o_orderkey": pa.array(range(n), pa.int64()),
                  "o_orderstatus": pa.array(["O", "F"] * (n // 2) + ["P"] * (n % 2))})
    pq.write_table(t, path, row_group_size=row_group_size)


@pytest.fixture(scope="module")
def sf_01(sf_dir) -> str:
    """The sf0.01 tables beside the test tables: large enough that
    several of them are split."""
    d = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(d):
        pytest.skip("no sf0.01 tables")
    return d


@pytest.mark.parametrize("name", R.TABLES)
def test_table_reads_what_the_source_holds(spark, sf_01, name):
    direct = spark.read.parquet(f"{sf_01}/{name}.parquet")
    df = R.table(spark, sf_01, name)
    assert df.schema == direct.schema
    assert _rows(df) == _rows(direct)
    assert R.row_count(spark, sf_01, name) == direct.count()


def test_lineitem_plans_k_scan_partitions(spark, sf_01):
    k = _k(spark, R.row_count(spark, sf_01, "lineitem"))
    assert k > 1
    assert R.table(spark, sf_01, "lineitem").rdd.getNumPartitions() == k


def test_source_with_k_row_groups_is_read_in_place(spark, tmp_path):
    n = 20_000
    k = _k(spark, n)
    src = tmp_path / "orders.parquet"
    _orders(src, n, row_group_size=math.ceil(n / k))
    assert pq.ParquetFile(src).metadata.num_row_groups >= k
    assert R._handle(spark, str(tmp_path), "orders").location == os.path.realpath(src)
    df = R.table(spark, str(tmp_path), "orders")
    assert df.count() == n


def test_single_row_group_source_is_split_into_k_files(spark, tmp_path):
    n = 20_000
    k = _k(spark, n)
    _orders(tmp_path / "orders.parquet", n)
    loc = R._handle(spark, str(tmp_path), "orders").location
    parts = sorted(os.listdir(loc))
    assert len(parts) == k
    sizes = [pq.ParquetFile(os.path.join(loc, p)).metadata.num_rows for p in parts]
    assert max(sizes) - min(sizes) <= 1 and sum(sizes) == n
    df = R.table(spark, str(tmp_path), "orders")
    assert df.rdd.getNumPartitions() == k
    assert _rows(df) == _rows(spark.read.parquet(str(tmp_path / "orders.parquet")))


def test_rewritten_source_is_served_fresh(spark, tmp_path):
    src = tmp_path / "orders.parquet"
    _orders(src, 10_000)
    assert R.table(spark, str(tmp_path), "orders").count() == 10_000
    _orders(src, 12_001)
    assert R.row_count(spark, str(tmp_path), "orders") == 12_001
    df = R.table(spark, str(tmp_path), "orders")
    assert df.count() == 12_001
    assert df.filter("o_orderstatus = 'P'").count() == 1


def test_memoized_table_starts_no_job(spark, sf_dir):
    for name in R.TABLES:
        R.table(spark, sf_dir, name)
    with jobs_started(spark) as jobs:
        for name in R.TABLES:
            R.table(spark, sf_dir, name)
            R.row_count(spark, sf_dir, name)
    assert jobs == []


@pytest.fixture
def nanos_conf(spark):
    """The nanos conf unset for the test, restored afterwards."""
    before = spark.conf.get(R.NANOS_KEY, None)
    spark.conf.unset(R.NANOS_KEY)
    yield
    if before is None:
        spark.conf.unset(R.NANOS_KEY)
    else:
        spark.conf.set(R.NANOS_KEY, before)


def _ts_strings(df) -> list:
    return sorted(df.selectExpr("event_id", "CAST(ts AS STRING) AS ts").collect())


def test_micros_events_leave_the_conf_alone(spark, sf_dir, tmp_path, nanos_conf):
    assert pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow.field("ts").type.unit == "us"
    shutil.copyfile(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    df = R.table(spark, str(tmp_path), "events")
    assert spark.conf.get(R.NANOS_KEY, None) is None
    assert dict(df.dtypes)["ts"].startswith("timestamp")


def test_nanos_events_read_as_micros_timestamps(spark, sf_dir, tmp_path, nanos_conf):
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t.schema.get_field_index("ts")
    t = t.set_column(ts, "ts", t.column(ts).cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    assert '"nanoseconds"' in pq.ParquetFile(tmp_path / "events.parquet").schema.column(ts).logical_type.to_json()
    nanos = R.table(spark, str(tmp_path), "events")
    assert spark.conf.get(R.NANOS_KEY) == "true"
    assert dict(nanos.dtypes)["ts"] == "timestamp"
    assert _ts_strings(nanos) == _ts_strings(R.table(spark, sf_dir, "events"))
