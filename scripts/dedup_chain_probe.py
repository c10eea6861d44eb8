#!/usr/bin/env python
"""100× dedup-chain probe (VERDICT r6 item 7): minhash → LSH band join
→ connected components at 100× the sf0.1 documents table, WITH the
hot-bucket skew guard provably firing.

Corpus = every sf0.1 document replicated N× (text perturbed per
replica — the near-dup structure a crawl snapshot has) PLUS one
boilerplate clique of `hot` identical documents, sized past
LSH_HOT_BUCKET so the band join's hot-key path engages (the
row-count gate already passes at N×: docs × N_BANDS >> GUARD_MIN_ROWS).

Protocol note: stage outputs are COUNTED, not collected — at ~40M+
candidate pairs the driver transfer would dominate and measure the
wrong thing (earlier 20×/50× probes collected because outputs were
≤7M rows; their numbers stand under their own protocol).

Usage: python scripts/dedup_chain_probe.py [N] [hot_clique]
(default 100 and 6000). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch")
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    hot = int(sys.argv[2]) if len(sys.argv) > 2 else 6000
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from refitd_etl_spark.plans.dedup import (
        BAND_SIZE,
        LSH_HOT_BUCKET,
        N_BANDS,
        label_propagation_components,
        minhash_lsh_pairs,
    )
    from refitd_etl_spark.session import get_spark
    from refitd_etl_spark.sources.registry import table

    spark = get_spark(app_name="dedup-chain-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.count()
    reps = [
        docs.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.when(F.lit(i) == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(f" replica{i}")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(n)
    ]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    # the boilerplate clique: `hot` ids, ONE shared text — every band
    # signature identical, a single (band, band_h) bucket of `hot`
    # members per band. hot > LSH_HOT_BUCKET forces the guard's hot
    # path; the C(hot,2) pair blowup is join OUTPUT, the case AQE's
    # input-bytes skew detection cannot see.
    boiler = (
        spark.range(hot)
        .select((F.col("id") + 2_000_000_000).alias("doc_id"))
        .crossJoin(
            docs.orderBy("doc_id")
            .limit(1)
            .select("text", "lang", "source", "n_chars")
        )
    )
    big = big.unionByName(boiler)
    scaled = os.path.join(SCRATCH, f"dedup_chain_x{n}")
    shutil.rmtree(scaled, ignore_errors=True)
    big.write.parquet(os.path.join(scaled, "documents.parquet"))
    for t in os.listdir(sf_dir):
        dst = os.path.join(scaled, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, t), dst)

    out: dict = {
        "n": n,
        "base_docs": base,
        "total_docs": base * n + hot,
        "hot_clique": hot,
        "lsh_hot_bucket": LSH_HOT_BUCKET,
    }

    # hot-bucket evidence: the band-bucket histogram the guard probes
    from refitd_etl_spark.plans.dedup import _minhash_sigs

    sigs = _minhash_sigs(spark, scaled).cache()
    sigs.count()
    band_idx = F.array(*[F.lit(i) for i in range(N_BANDS)])
    buckets = (
        sigs.select("doc_id", F.explode(band_idx).alias("band"), "sig")
        .select(
            "band",
            F.xxhash64(
                "band",
                F.concat_ws("|", F.slice(F.col("sig"), F.col("band") * BAND_SIZE + 1, BAND_SIZE)),
            ).alias("band_h"),
        )
        .groupBy("band", "band_h")
        .count()
    )
    hist = buckets.agg(
        F.max("count").alias("max_bucket"),
        F.sum((F.col("count") > LSH_HOT_BUCKET).cast("int")).alias("n_hot_keys"),
    ).first()
    out["max_bucket"] = hist["max_bucket"]
    out["n_hot_keys"] = int(hist["n_hot_keys"])
    sigs.unpersist()
    spark.catalog.clearCache()

    # stage 1: minhash -> LSH candidate pairs (guard engaged)
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(spark, scaled).select("doc_a", "doc_b")
    n_pairs = pairs.count()
    out["minhash_lsh_s"] = round(time.perf_counter() - t0, 1)
    out["n_pairs"] = n_pairs

    # stage 2: components (the chain-safe jumping loop), its Spark jobs
    # counted under one job group
    sc = spark.sparkContext
    t0 = time.perf_counter()
    pairs2 = minhash_lsh_pairs(spark, scaled).select("doc_a", "doc_b")
    d = spark.read.parquet(os.path.join(scaled, "documents.parquet")).select("doc_id")
    sc.setJobGroup("dedup-chain-components", "label_propagation_components")
    comp = label_propagation_components(d, pairs2, jump=True)
    sc.setJobGroup(None, None)
    agg = comp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).first()
    out["components_s"] = round(time.perf_counter() - t0, 1)
    out["components_jobs"] = len(sc.statusTracker().getJobIdsForGroup("dedup-chain-components"))
    out["n_clusters"] = int(agg["n_clusters"])
    out["docs_labeled"] = int(agg["n_docs"])

    print(json.dumps(out))


if __name__ == "__main__":
    main()
