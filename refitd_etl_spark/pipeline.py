"""The composed batch pipeline — the engine's `main.py run()` analog
(SURVEY §3.1: extract → transform → load → tag, pipeline.py:89-146).

The reference executes four sequential per-row phases with a network
round trip per product. Here the whole lifecycle is one DataFrame
composition per stage over a store directory:

    bronze rows ──transform──▶ silver ──anti-join──▶ new products
        │                                            │
        └──────────── tracking table ◀───mark────────┘
    silver ──sensor (mapInPandas, one call/variant-group)──▶ tagged
    tagged ──tag policy (pure columns)──▶ curated products
    curated ──embedder──▶ embedding column ──▶ semantic search ready
    curated ──MERGE──▶ products store; tracking MERGE; JSON metadata

Incrementality is the tracking anti-join (J1) — re-running over the
same bronze input is a no-op, exactly like the reference's
``--force``-less scrape loop, but set-at-a-time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sensor import Embedder, Sensor, embedding_text, tag_representatives, with_embeddings
from .operators.tag_policy import (
    DEFAULT_THRESHOLDS,
    PolicyThresholds,
    apply_tag_policy,
    merge_composition,
)
from .operators.transform import transform_products
from .sources import sinks


@dataclass
class PipelineResult:
    n_candidates: int
    n_new: int
    n_tagged: int
    products: DataFrame
    tracking: DataFrame


def run_pipeline(
    spark: SparkSession,
    bronze: DataFrame,
    store_dir: str,
    sensor: Sensor | None = None,
    embedder: Embedder | None = None,
    thresholds: PolicyThresholds = DEFAULT_THRESHOLDS,
    force: bool = False,
    write_metadata_json: bool = True,
) -> PipelineResult:
    """Full bronze→gold run against a store directory.

    Stores: ``{store_dir}/products`` (parquet), ``{store_dir}/tracking``
    (parquet), ``{store_dir}/metadata`` (partitioned JSON, optional).
    """
    products_path = os.path.join(store_dir, "products")
    tracking_path = os.path.join(store_dir, "tracking")

    # TRANSFORM (P1-P22): normalize + validate + derive, materialized
    # once: the counts, the anti-join and both branches of the final
    # checkpoint (representatives, fan-out) read it instead of re-running
    # the transform
    silver = transform_products(bronze).localCheckpoint(eager=True)
    n_candidates = silver.count()

    # INCREMENTAL ANTI-JOIN (J1): skip already-tracked ids unless --force
    if not force and os.path.exists(tracking_path):
        tracked = spark.read.schema("product_id string").parquet(tracking_path)
        new = silver.join(tracked, "product_id", "left_anti")
        n_new = new.count()
    else:
        new = silver
        n_new = n_candidates

    # an empty batch into an empty store still runs the writes, so the
    # tables exist afterwards (empty, with their real schema) as a MERGE
    # into a new table would leave them
    if n_new > 0 or not os.path.exists(products_path):
        # AI TAG (X1+J4): one sensor call per variant group, fanned out,
        # then the deterministic policy layer (T1-T9)
        tagged = tag_representatives(new, sensor=sensor)
        curated = apply_tag_policy(
            tagged.withColumns({"product_name": F.col("name"), "subcategory": F.col("category")}),
            thresholds=thresholds,
        ).drop("product_name", "subcategory")
        # T8: fold the scraped composition into tags_final so the
        # generator reads one struct (reference pipeline.py:501-509)
        curated = merge_composition(curated)

        # EMBED (X3/P24): persisted embedding column for semantic search
        embed_src = curated.withColumn(
            "embed_text",
            embedding_text(
                F.col("name"),
                F.col("category"),
                F.col("description"),
                F.col("colors"),
                F.col("tags_final")["style_identity"],
                F.col("price_current"),
            ),
        )
        # ONE eager materialization feeds all three writes: mapInPandas
        # is opaque to pruning, so each write would otherwise re-run the
        # sensor and embedder — and re-read the tracking files that the
        # tracking upsert swaps out
        final = (
            with_embeddings(embed_src, embedder=embedder)
            .drop("embed_text")
            .localCheckpoint(eager=True)
        )

        # LOAD (S7/S8/S11): MERGE into products + tracking; JSON metadata
        products = sinks.upsert_parquet(spark, products_path, final, key="product_id")
        mark = final.select(
            "product_id",
            "url",
            "category",
            "name",
            F.col("price_current").alias("price"),
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("scraped_at"),
        )
        tracking = sinks.upsert_parquet(spark, tracking_path, mark, key="product_id")
        if write_metadata_json:
            sinks.write_partitioned_json(
                final.select("product_id", "name", "category", "price_current", "image_count"),
                os.path.join(store_dir, "metadata"),
            )
    else:
        products = spark.read.parquet(products_path)
        tracking = spark.read.parquet(tracking_path)

    return PipelineResult(
        n_candidates=n_candidates,
        n_new=n_new,
        n_tagged=n_new,
        products=products,
        tracking=tracking,
    )
