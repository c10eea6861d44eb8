"""Table registry over the driver's parquet test tables.

Mirrors the reference's scan surface (SURVEY §2.1 S5/S6: full-table scans
with optional filter/limit pushed down) as ``spark.read.parquet`` scans —
Catalyst pushes predicates and prunes columns into the parquet reader, so
the `select("*") then filter in Python` anti-pattern of the reference
(curate.py:7421) never appears here.

Every source gets one memoized handle, keyed on its real path, the
size and ``mtime_ns`` of each of its data files (the file itself, or
the parquet files of a dataset directory) and the session's
``defaultParallelism``: a handle is never served for a different
input. It holds:

- the schema Spark infers, inferred once and kept as DDL text: every
  read is then ``spark.read.load(location, "parquet", schema)``, with
  no inference job while a plan is built;
- the row count summed from the parquet footers (`row_count`), for
  plan decisions that would otherwise run a counting job;
- the location to read. A parquet row group is the unit of a scan
  task, and the test tables are one file holding one row group, so a
  scan of the source runs as one task. When the file has fewer row
  groups than ``k = min(defaultParallelism, ceil(rows /
  spark.sql.parquet.columnarReaderBatchSize))``, the handle reads a
  copy instead: ``k`` files of consecutive, equal row ranges, written
  by pyarrow (same column types, snappy) under the atexit-swept gate
  root. ``k`` files, not one file of ``k`` row groups: Spark packs
  byte ranges of at least ``openCostInBytes`` (4 MB) into a split, so
  by its split formula a 10 MB file of four row groups plans as three
  uneven splits, while ``k`` files plan as ``k``. A file that already has ``k`` row groups
  (any table at scale), and a dataset directory, are read in place;
  only the schema memo applies.

At 100 TB these would be partitioned/bucketed Delta tables; the registry
is the one place that would change (path + format + partition spec).
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .tempstore import gate_tmpdir

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


class _Handle(NamedTuple):
    schema: str  # DDL of the schema Spark inferred from the source
    rows: int
    location: str  # the source file, or a directory of k split files
    nanos: bool  # `ts` is stored as TIMESTAMP(NANOS)


_HANDLES: dict[tuple, _Handle] = {}


def _ts_is_nanos(pf) -> bool:
    """Some generations of events.parquet store TIMESTAMP(NANOS), which
    the vectorized Spark reader rejects unless it reads them as long."""
    names = pf.schema_arrow.names
    if "ts" not in names:
        return False
    logical = pf.schema.column(names.index("ts")).logical_type
    return logical.type == "TIMESTAMP" and '"nanoseconds"' in logical.to_json()


def _write_splits(pf, k: int, prefix: str) -> str:
    """The file's rows as `k` parquet files of consecutive, equal row
    ranges, streamed batch by batch."""
    import pyarrow.parquet as pq

    out = gate_tmpdir(prefix)
    rows = pf.metadata.num_rows
    ends = [rows * (i + 1) // k for i in range(k)]
    part, done, writer = 0, 0, None
    try:
        for batch in pf.iter_batches(batch_size=65536):
            while batch.num_rows:
                if writer is None:
                    path = os.path.join(out, f"part-{part:05d}.parquet")
                    writer = pq.ParquetWriter(path, pf.schema_arrow, compression="snappy")
                take = min(batch.num_rows, ends[part] - done)
                writer.write_batch(batch.slice(0, take))
                batch, done = batch.slice(take), done + take
                if done == ends[part]:
                    writer.close()
                    writer, part = None, part + 1
    finally:
        if writer is not None:
            writer.close()
    return out


def _data_files(path: str) -> list[str]:
    """The source file itself, or the data files of a dataset directory
    (as Spark lists them: names starting with `_` or `.` are skipped)."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for d, dirs, names in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        files += [os.path.join(d, x) for x in sorted(names) if not x.startswith(("_", "."))]
    return files


def _build_handle(spark: SparkSession, path: str, name: str) -> _Handle:
    import pyarrow.parquet as pq

    footers = [pq.ParquetFile(f) for f in _data_files(path)]
    nanos = any(_ts_is_nanos(pf) for pf in footers)
    if nanos:
        spark.conf.set(NANOS_KEY, "true")
    schema = ", ".join(
        f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
        for f in spark.read.parquet(path).schema
    )
    rows = sum(pf.metadata.num_rows for pf in footers)
    batch = int(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize"))
    k = min(spark.sparkContext.defaultParallelism, math.ceil(rows / batch))
    location = path
    if len(footers) == 1 and footers[0].metadata.num_row_groups < k:
        location = _write_splits(footers[0], k, f"{name}_split_")
    return _Handle(schema, rows, location, nanos)


def _handle(spark: SparkSession, sf_dir: str, name: str) -> _Handle:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.realpath(f"{sf_dir}/{name}.parquet")
    stats = [(f, os.stat(f)) for f in _data_files(path)]
    files = tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)
    key = (path, files, spark.sparkContext.defaultParallelism)
    h = _HANDLES.get(key)
    if h is None:
        h = _HANDLES[key] = _build_handle(spark, path, name)
    return h


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    h = _handle(spark, sf_dir, name)
    if h.nanos:
        # nanos read as long, then truncated to micros (integer div,
        # matching DuckDB's ns→us truncation). The reader consults the
        # conf when the scan runs, so it stays set. Micros files read
        # as a plain timestamp and leave the session conf alone.
        from pyspark.sql import functions as F

        spark.conf.set(NANOS_KEY, "true")
        df = spark.read.load(h.location, "parquet", h.schema)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return spark.read.load(h.location, "parquet", h.schema)


def row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The table's row count from its parquet footer: no Spark job."""
    return _handle(spark, sf_dir, name).rows


def parallel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` hash-partitioned on `doc_id` across the default
    parallelism.

    The scan already runs one task per split file (at most one per
    4,096 rows, so 2 at sf0.1); this repartition spreads the CPU-heavy
    per-document work (shingling, regex) over every core whatever the
    corpus size, and its `doc_id` partitioning is what the cached
    shingle table and its doc-keyed aggregates reuse.
    """
    n = spark.sparkContext.defaultParallelism
    return table(spark, sf_dir, "documents").repartition(n, "doc_id")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql plans."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
