"""r15 optimization: streaming gates size their stateful-shuffle
partition count to the events volume (guide §2 — state machinery cost
is per-partition-per-store-per-batch, and AQE cannot coalesce stateful
streaming shuffles), restoring the session default afterward so batch
queries are untouched."""

from __future__ import annotations

import os

from refitd_etl_spark.streaming.freshness import (
    STREAM_STATE_ROWS_PER_PARTITION,
    scaled_state_partitions,
)


def test_derived_from_event_rows_and_restores(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    expected = max(2, -(-n_rows // STREAM_STATE_ROWS_PER_PARTITION))
    with scaled_state_partitions(spark, sf_dir) as n:
        assert n == expected
        assert spark.conf.get(key) == str(expected)
    assert spark.conf.get(key) == prev


def test_restores_nanos_as_long(spark, sf_dir):
    """VERDICT r15 item 7: the context manager must leave
    spark.sql.legacy.parquet.nanosAsLong as it found it. The events
    row count now comes from the registry's parquet footers, so the
    conf is never touched: unchanged inside the block and after it,
    whether the caller had it unset or pinned."""
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(nanos_key, None)
    with scaled_state_partitions(spark, sf_dir):
        assert spark.conf.get(nanos_key, None) == prev
    assert spark.conf.get(nanos_key, None) == prev
    # and when the caller had it pinned, the pinned value survives
    spark.conf.set(nanos_key, "true")
    try:
        with scaled_state_partitions(spark, sf_dir):
            pass
        assert spark.conf.get(nanos_key) == "true"
    finally:
        if prev is None:
            spark.conf.unset(nanos_key)
        else:
            spark.conf.set(nanos_key, prev)


def test_stream_events_leaves_nanos_conf_on_micros_file(spark, sf_dir, tmp_path):
    """`stream_events` takes its schema and TIMESTAMP(NANOS) flag from
    the events registry handle: on a micros file it sets no conf (and
    runs no schema-inference job), and `ts` streams as a timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from refitd_etl_spark.streaming.freshness import stream_events

    from .spark_counters import jobs_started

    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    micros = pa.timestamp("us", tz=t.schema.field("ts").type.tz)
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(micros)), tmp_path / "events.parquet")
    sf_dir = str(tmp_path)
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(nanos_key, None)
    stream_events(spark, sf_dir)  # memoizes the handle
    with jobs_started(spark) as jobs:
        df = stream_events(spark, sf_dir)
    assert jobs == []
    assert spark.conf.get(nanos_key, None) == prev
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), df.schema


def test_restores_on_error(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        with scaled_state_partitions(spark, sf_dir):
            raise RuntimeError("gate blew up")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == prev


def test_env_override_wins(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "7")
    with scaled_state_partitions(spark, sf_dir) as n:
        assert n == 7


def test_gate_reports_scaled_state_partitions(spark, sf_dir):
    """End-to-end: a wrapped gate's state operator actually ran with
    the derived partition count (read back from the last progress),
    and the session default is already restored by the time the gate
    returns its batch rollup."""
    import uuid

    from refitd_etl_spark.plans.temporal import _interval_join_pairs
    from refitd_etl_spark.streaming.freshness import await_gate, stream_events

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    joined = _interval_join_pairs(stream_events(spark, sf_dir))
    name = "test_sp_" + uuid.uuid4().hex[:8]
    with scaled_state_partitions(spark, sf_dir) as n:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_gate(q)
    assert spark.conf.get(key) == prev
    ops = q.lastProgress["stateOperators"]
    assert ops and all(o["numShufflePartitions"] == n for o in ops), ops


def test_local_default_is_not_a_core_count_constant():
    """The per-partition row target is env-parameterised; the derived
    count is a pure function of input rows, never of the core count."""
    assert STREAM_STATE_ROWS_PER_PARTITION == int(
        os.environ.get("SPARK_GRAFT_STREAM_ROWS_PER_PART", "25000")
    )
