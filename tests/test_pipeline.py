"""End-to-end pipeline: bronze → silver → sensor → policy → embeddings →
stores, incremental re-run, then search + export off the store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refitd_etl_spark.operators.fixtures import bronze_fixture
from refitd_etl_spark.pipeline import run_pipeline

from .spark_counters import jobs_started


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    store_dir = str(tmp_path_factory.mktemp("pipeline_store"))
    result = run_pipeline(spark, bronze_fixture(spark), store_dir)
    return store_dir, result


def test_full_run_populates_stores(store):
    _, r = store
    assert r.n_candidates == 6  # b6/b7 dropped by P1
    assert r.n_new == 6
    rows = {p["product_id"]: p for p in r.products.collect()}
    assert len(rows) == 6
    for p in rows.values():
        assert p["curation_status"] in ("approved", "needs_review", "needs_fix")
        assert p["tags_final"]["formality"] is not None  # policy defaulted
        assert len(p["embedding"]) == 16
        assert p["tag_policy_version"] == "tag_policy_v2.5"
    assert r.tracking.count() == 6


def test_incremental_rerun_is_noop(spark, store):
    store_dir, _ = store
    again = run_pipeline(spark, bronze_fixture(spark), store_dir)
    assert again.n_candidates == 6
    assert again.n_new == 0  # tracking anti-join skipped everything
    assert again.products.count() == 6


def test_force_rerun_reprocesses(spark, store):
    store_dir, _ = store
    forced = run_pipeline(spark, bronze_fixture(spark), store_dir, force=True)
    assert forced.n_new == 6
    assert forced.products.count() == 6  # MERGE, not append


def test_search_and_export_compose_off_store(spark, store):
    store_dir, _ = store
    from refitd_etl_spark.operators.export import build_training_examples
    from refitd_etl_spark.operators.search import semantic_search

    # re-read: the force-rerun test swapped the store directory, so any
    # DataFrame captured before it points at replaced files
    products = spark.read.parquet(store_dir + "/products")
    hits = semantic_search(
        products, "Slim Fit Chinos | Category: trousers", k=3, threshold=-1.0,
        id_col="product_id",
    ).collect()
    assert len(hits) == 3
    records = products.select(
        "product_id",
        F.col("name").alias("product_name"),
        "category",
        "description",
        F.lit("Zara").alias("brand_name"),
        F.col("tags_final").alias("corrected_tags"),
    )
    examples = build_training_examples(records)
    assert examples.count() == 6
    assert all(r["est_tokens"] > 0 for r in examples.collect())


def test_models_run_once_per_representative(spark, tmp_path):
    """The sensor sees each variant group's representative exactly once
    and the embedder each new product exactly once, although the
    curated rows feed three writes (products, tracking, metadata)."""
    from refitd_etl_spark.operators.sensor import MockEmbedder, MockTagSensor
    from refitd_etl_spark.operators.transform import transform_products

    sensor_rows = spark.sparkContext.accumulator(0)
    embed_rows = spark.sparkContext.accumulator(0)

    class CountingSensor(MockTagSensor):
        def tag_batch(self, batch):
            sensor_rows.add(len(batch))
            return super().tag_batch(batch)

    class CountingEmbedder(MockEmbedder):
        def embed_batch(self, texts):
            embed_rows.add(len(texts))
            return super().embed_batch(texts)

    bronze = bronze_fixture(spark)
    reps = (
        transform_products(bronze)
        .select(F.coalesce("parent_product_id", "product_id"))
        .distinct()
        .count()
    )
    r = run_pipeline(
        spark, bronze, str(tmp_path), sensor=CountingSensor(), embedder=CountingEmbedder()
    )
    assert sensor_rows.value == reps
    assert embed_rows.value == r.n_new == 6


def test_incremental_run_with_new_products(spark, tmp_path):
    """A run over a store that already tracks part of the batch tags
    and writes only the new products — and succeeds: the metadata write
    must not re-read tracking files the tracking upsert replaced. The
    metadata JSON keeps every product, and a forced rerun duplicates none."""
    from refitd_etl_spark.operators.fixtures import BRONZE_FIXTURE_ROWS, BRONZE_SCHEMA

    first = spark.createDataFrame(BRONZE_FIXTURE_ROWS[:4], schema=BRONZE_SCHEMA)
    base = run_pipeline(spark, first, str(tmp_path))
    again = run_pipeline(spark, bronze_fixture(spark), str(tmp_path))
    assert 0 < again.n_new < again.n_candidates == 6
    assert again.n_new == 6 - base.n_new
    assert again.products.count() == again.tracking.count() == 6
    # the metadata store keeps the earlier products: it is merged, not replaced
    meta = spark.read.json(str(tmp_path / "metadata"))
    assert meta.select("product_id").distinct().count() == 6
    forced = run_pipeline(spark, bronze_fixture(spark), str(tmp_path), force=True)
    assert forced.n_new == 6
    ids = [r["product_id"] for r in spark.read.json(str(tmp_path / "metadata")).collect()]
    assert len(ids) == len(set(ids)) == 6


def test_empty_batch_into_empty_store(spark, tmp_path):
    """An empty batch into a store with no tables yet creates the
    tables empty, with the schema a real run writes, and a later run
    merges into them."""
    store_dir = str(tmp_path / "store")
    empty = run_pipeline(spark, bronze_fixture(spark).limit(0), store_dir)
    assert empty.n_candidates == empty.n_new == 0
    assert empty.products.count() == empty.tracking.count() == 0
    full = run_pipeline(spark, bronze_fixture(spark), store_dir)
    assert full.n_new == 6
    assert full.products.count() == full.tracking.count() == 6
    assert empty.products.schema.simpleString() == full.products.schema.simpleString()
    assert empty.tracking.schema.simpleString() == full.tracking.schema.simpleString()


# Spark jobs of a backfill of the fixture into an empty store: the silver
# checkpoint and its count, the final checkpoint (its shuffle stages run
# as jobs of their own under adaptive execution), two upsert writes with
# their dedup shuffles, and the JSON write.
BACKFILL_JOB_BUDGET = 12


def test_backfill_job_budget(spark, tmp_path):
    """One backfill runs the transform once and no dead jobs: no
    re-count over the bronze, no checkpoint before writing a new table,
    no schema-inference read-backs, no broadcast of a lookup table."""
    with jobs_started(spark) as jobs:
        run_pipeline(spark, bronze_fixture(spark), str(tmp_path))
    assert 0 < len(jobs) <= BACKFILL_JOB_BUDGET


def test_transform_is_one_projection(spark):
    """P18's slot mapping is a literal map lookup: the silver plan has no
    join and no broadcast exchange."""
    import re

    from refitd_etl_spark.operators.transform import transform_products

    plan = transform_products(bronze_fixture(spark))._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"[A-Z]\w*Join\b", plan), plan
    assert "BroadcastExchange" not in plan, plan
