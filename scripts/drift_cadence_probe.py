#!/usr/bin/env python
"""Focused drift-audit cadence probe (r15 — VERDICT r14 item 6): the
monitoring family at N×, with BOTH per-ingest batch-table arms.

The full serving probe (pq_serving_probe.py) re-reads every build and
serving tier and runs 90+ min at 2M; this probe isolates the round's
monitoring question in ~1/2 the wall: the two registered audits
(codebook + coarse) at 1× and N×, their corpus-standing-in delta
cadence, and the TRUE per-ingest shape for BOTH — the arriving batch
written to its own parquet (untimed; production already holds it) and
audited from an O(|batch|) scan, value identity asserted against the
full audit's delta row bit-for-bit. The coarse batch arm is the r15
addition: the gate docstring claims the pq_drift_delta_arm pattern
"applies unchanged" — this is the proof by measurement.

Store builds happen inside each arm's untimed warm-up (the memoized
`_pq_store` builder), so timed numbers are pure audit cost, the gate's
cadence. Timing: per-arm clearCache + uniform min-of-3 (the r13
protocol). Checkpoints the partial record after each phase (the r15
lesson — a killed session must still leave its numbers).

Usage: python scripts/drift_cadence_probe.py [N] (default 1000 → 2M
vectors from sf0.1). Prints one JSON line.
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
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from refitd_etl_spark.plans import ALL_QUERIES
    from refitd_etl_spark.plans import similarity as sim
    from refitd_etl_spark.session import get_spark

    spark = get_spark(app_name="drift-cadence-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_count = emb.count()
    scaled = emb.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        "label",
        F.concat(
            F.array(
                (F.element_at("embedding", 1) + F.col("rep") / 1000.0).cast("float")
            ),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    scaled_dir = os.path.join(SCRATCH, f"drift_cadence_x{n}")
    shutil.rmtree(scaled_dir, ignore_errors=True)
    scaled.write.parquet(os.path.join(scaled_dir, "embeddings.parquet"))

    out: dict = {"n": n, "base_vectors": base_count, "scaled_vectors": base_count * n}
    ckpt_path = os.path.join(SCRATCH, f"drift_cadence_x{n}_ckpt.json")

    def ckpt() -> None:
        with open(ckpt_path, "w") as f:
            f.write(json.dumps(out))

    def _min3(run):
        spark.catalog.clearCache()
        run()  # warm-up (first call builds any memoized store, untimed)
        best = rows = None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = run()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best, rows

    drift = ALL_QUERIES["pq_codebook_drift_audit"]
    audit_rows = {}
    for arm_name, arm_fn in (
        ("drift_audit", lambda s, d: drift.raw(s, d)),
        ("drift_delta_arm", sim.pq_drift_delta_arm),
        ("coarse_drift_audit", sim.coarse_centroid_drift_audit),
    ):
        for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
            best, rows = _min3(lambda: arm_fn(spark, d).collect())
            out[f"{arm_name}_{tag}_s"] = round(best, 3)
            audit_rows[(arm_name, tag)] = rows
            ckpt()
    [full_delta] = [
        r for r in audit_rows[("drift_audit", f"{n}x")] if r["snapshot"] == "delta"
    ]
    [arm_row] = audit_rows[("drift_delta_arm", f"{n}x")]
    out["delta_arm_equals_full_delta_at_scale"] = (
        arm_row["n_vectors"] == full_delta["n_vectors"]
        and arm_row["mean_sq_err"] == full_delta["mean_sq_err"]
        and arm_row["max_sq_err"] == full_delta["max_sq_err"]
    )
    ckpt()

    # the arriving batch as its own parquet (untimed write), shared by
    # both batch-table arms
    batch_dir = os.path.join(SCRATCH, f"drift_cadence_batch_x{n}")
    shutil.rmtree(batch_dir, ignore_errors=True)
    store = sim._pq_store(spark, scaled_dir, sim.IVF_PQ_TRAINED_STORE)
    (
        sim._pq_append_delta(sim.table(spark, scaled_dir, "embeddings"))
        .select("vec_id", "embedding")
        .write.parquet(batch_dir)
    )
    cbn = sim._read_level(spark, store + "/codebook")

    def _batch_audit():
        rows = spark.read.parquet(batch_dir)
        return (
            sim._pq_recon_arm(sim._pq_train_rows(rows), cbn, "delta")
            .withColumnRenamed("codebook", "snapshot")
            .collect()
        )

    best, batch_rows = _min3(_batch_audit)
    out[f"drift_batch_table_arm_{n}x_s"] = round(best, 3)
    [batch_row] = batch_rows
    out["batch_table_arm_equals_full_delta_at_scale"] = (
        batch_row["n_vectors"] == full_delta["n_vectors"]
        and batch_row["mean_sq_err"] == full_delta["mean_sq_err"]
        and batch_row["max_sq_err"] == full_delta["max_sq_err"]
    )
    ckpt()

    # the COARSE gate's batch-table cadence arm (the r15 addition)
    pcent = sim._read_level(spark, store + "/centroids")

    def _coarse_batch_audit():
        rows = spark.read.parquet(batch_dir)
        best_cos = sim._km_assign(
            rows.select("vec_id", "embedding"), pcent, with_cos=True
        )
        return (
            best_cos.agg(
                F.count("*").alias("n_vectors"),
                (
                    F.sum(F.col("_cos").cast("decimal(28,12)")).cast("double")
                    / F.count("*")
                ).alias("mean_cos"),
                F.min("_cos").alias("min_cos"),
            )
            .select(
                F.lit("delta").alias("snapshot"), "n_vectors", "mean_cos", "min_cos"
            )
            .collect()
        )

    best, coarse_batch_rows = _min3(_coarse_batch_audit)
    out[f"coarse_batch_table_arm_{n}x_s"] = round(best, 3)
    [coarse_batch_row] = coarse_batch_rows
    [coarse_full_delta] = [
        r for r in audit_rows[("coarse_drift_audit", f"{n}x")]
        if r["snapshot"] == "delta"
    ]
    out["coarse_batch_arm_equals_full_delta_at_scale"] = (
        coarse_batch_row["n_vectors"] == coarse_full_delta["n_vectors"]
        and coarse_batch_row["mean_cos"] == coarse_full_delta["mean_cos"]
        and coarse_batch_row["min_cos"] == coarse_full_delta["min_cos"]
    )
    ckpt()

    # print BEFORE asserting (r10 code-review convention)
    print(json.dumps(out))
    assert out["delta_arm_equals_full_delta_at_scale"], (
        "per-ingest delta arm diverged from the full audit's delta row"
    )
    assert out["batch_table_arm_equals_full_delta_at_scale"], (
        "codebook batch-table arm diverged from the full audit's delta row"
    )
    assert out["coarse_batch_arm_equals_full_delta_at_scale"], (
        "coarse batch-table arm diverged from the full audit's delta row"
    )
    spark.stop()


if __name__ == "__main__":
    main()
