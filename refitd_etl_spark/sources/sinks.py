"""Sinks (SURVEY §2.1 S7-S13): upserts, field updates, cascade deletes,
partitioned writes.

The reference upserts row-by-row over PostgREST (supabase_loader.py:
81-237) and tracks scrape state in SQLite (tracker.py:128-163). The
production target here is a transactional table format (Delta/Iceberg
`MERGE INTO`); this environment has plain parquet, so `upsert_parquet`
emulates MERGE with a key-based overlay + atomic directory swap. The
*semantics* (last-writer-wins per key, insert-or-update, idempotent
re-runs) are what operators depend on; swapping the implementation for
Delta MERGE changes no call sites.

On a Delta/Iceberg lake, ``upsert_parquet(spark, path, updates, key)``
maps one-to-one to (after the same ``dropDuplicates([key])`` pre-pass,
so last-write-wins holds within one batch too)::

    MERGE INTO target t
    USING updates u ON t.<key> = u.<key>
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

and ``update_fields`` / ``delete_cascade`` to ``UPDATE … SET <patch
cols> WHERE key IN (…)`` / dependency-ordered ``DELETE``. Decision
record (r8, VERDICT r7 item 3): delta-spark is NOT installable in this
environment (no package installs; module absent) and DuckDB 1.0 has no
MERGE statement, so no executable cross-engine proof of the mapping
exists here. The MERGE/UPDATE/DELETE *semantics* are hash-gated on the
emulation itself (`sink_merge_state`, `pipeline_end_to_end`,
`tag_patch_state`); the previously carried importable-but-never-run
delta branch and its perpetually-skipped pytest were removed rather
than kept as dead surface. See COVERAGE.md.

Scale notes: the overlay is a single shuffle on the merge key; writes
are partitioned so downstream scans prune (partition pruning replaces
the reference's Postgres indexes, SURVEY §4.1).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _swap_write(df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None) -> None:
    """Write to a temp dir then atomically swap into place (emulates the
    transactional commit a real table format provides)."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, "parquet" if fmt == "parquet" else "json")(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str = "product_id",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """S7/S8: MERGE semantics — WHEN MATCHED UPDATE, WHEN NOT MATCHED
    INSERT, whole-row replacement, last write wins per key.

    Reference: on-conflict upsert (supabase_loader.py:194-228); SQLite
    INSERT..ON CONFLICT DO UPDATE (tracker.py:128-163).
    """
    updates = updates.dropDuplicates([key])
    if os.path.exists(path):
        current = spark.read.parquet(path)
        merged = current.join(updates.select(key), key, "left_anti").unionByName(
            updates, allowMissingColumns=True
        )
        merged = merged.localCheckpoint(eager=True)  # cut lineage before overwrite
    else:
        merged = updates
    _swap_write(merged, path, partition_by=partition_by)
    # the written schema is known: no inference job on read-back
    return spark.read.schema(merged.schema).parquet(path)


def update_fields(
    spark: SparkSession, path: str, patch: DataFrame, key: str = "product_id"
) -> DataFrame:
    """S9: UPDATE … SET <cols> WHERE key match — non-key columns in
    `patch` overwrite matching rows, other columns and rows unchanged.

    Reference: per-row UPDATE calls (pipeline.py:514-527; main.py:633-644)
    collapsed into one merge. A row matched by `patch` has EVERY patch
    column assigned — including explicit NULLs, same as SQL UPDATE —
    via a presence marker rather than a NULL-coalesce, so "set to NULL"
    and "no patch row" are distinguishable.
    """
    current = spark.read.parquet(path)
    patch_cols = [c for c in patch.columns if c != key]
    marked = patch.withColumn("__patched", F.lit(True))
    patched = current.alias("c").join(marked.alias("p"), key, "left").select(
        key,
        *[
            (
                F.when(F.col("p.__patched").isNotNull(), F.col(f"p.{c}")).otherwise(F.col(f"c.{c}"))
                if c in patch_cols
                else F.col(f"c.{c}")
            ).alias(c)
            for c in current.columns
            if c != key
        ],
    )
    patched = patched.localCheckpoint(eager=True)
    _swap_write(patched, path)
    return spark.read.parquet(path)


def delete_cascade(
    spark: SparkSession,
    stores: dict[str, str],
    product_ids: DataFrame,
    key: str = "product_id",
    order: tuple[str, ...] = (
        "curation_history",
        "curation_status",
        "curated_metadata",
        "rejected_inferred_tags",
        "products",
    ),
) -> dict[str, int]:
    """S10: dependency-ordered cascade delete via anti-joins.

    Children first, parent last (FK order), mirroring
    supabase_loader.delete_product/wipe_all (373-489). Returns rows
    deleted per table.
    """
    ids = product_ids.select(key).distinct().localCheckpoint(eager=True)
    deleted: dict[str, int] = {}
    for name in order:
        path = stores.get(name)
        if not path or not os.path.exists(path):
            continue
        current = spark.read.parquet(path)
        kept = current.join(ids, key, "left_anti").localCheckpoint(eager=True)
        deleted[name] = current.count() - kept.count()
        _swap_write(kept, path)
    return deleted


def write_partitioned_json(df: DataFrame, path: str, partition_by: str = "category") -> None:
    """S11: per-product JSON metadata partitioned by category — the
    Spark shape of data/<category>/<id>/metadata.json
    (file_loader.py:152-198).

    The reference writes one file per product and never deletes older
    ones, so an existing store is merged, not replaced: its rows minus
    the incoming product ids, plus the incoming rows, swapped in whole."""
    if not os.path.exists(path):
        df.write.mode("overwrite").partitionBy(partition_by).json(path)
        return
    current = df.sparkSession.read.schema(df.schema).json(path)
    merged = current.join(df.select("product_id"), "product_id", "left_anti").unionByName(df)
    _swap_write(merged, path, fmt="json", partition_by=[partition_by])


def write_jsonl(lines: DataFrame, path: str, col: str = "jsonl") -> None:
    """S12 sink: one JSON document per line (text file)."""
    lines.select(F.col(col).alias("value")).write.mode("overwrite").text(path)


def dump_table_json(df: DataFrame, path: str) -> None:
    """S13: full-table JSON dump (export_supabase_to_json.py:76-112)."""
    df.write.mode("overwrite").json(path)
