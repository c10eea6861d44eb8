#!/usr/bin/env python
"""Materialized-index serving scale probe (r9): replicate `embeddings`
N× (same replication as pq_adc_probe.py — ids shifted into disjoint
ranges, one dimension deterministically perturbed per replica) and time
the INLINE-ENCODE vs SERVED-FROM-STORE tiers at 1× and N×.

What it verifies empirically (not by assertion): serving from the
materialized code column removes the per-query encode arithmetic, so
the served tiers' advantage over their inline arms should WIDEN with
the corpus (the encode cost scales with rows; the LUT build is
constant); and the IVF-partitioned store reads only the probed
directories, so `ivf_pq_codes_serving` should scale with n_probe/k of
the corpus, not the corpus. Index-build time is reported separately —
it's the offline cost the serving numbers amortize.

Usage: python scripts/pq_serving_probe.py [N] (default 100 → 200k
vectors from sf0.1). Scratch parquet under .scratch/ (gitignored);
prints one JSON line.
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from refitd_etl_spark.plans import ALL_QUERIES
    from refitd_etl_spark.plans import similarity as sim
    from refitd_etl_spark.session import get_spark

    spark = get_spark(app_name="pq-serving-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_count = emb.count()
    scaled = emb.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        "label",
        F.concat(
            F.array((F.element_at("embedding", 1) + F.col("rep") / 1000.0).cast("float")),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    scaled_dir = os.path.join(SCRATCH, f"emb_x{n}")
    shutil.rmtree(scaled_dir, ignore_errors=True)
    scaled.write.parquet(os.path.join(scaled_dir, "embeddings.parquet"))

    out = {"n": n, "base_vectors": base_count, "scaled_vectors": base_count * n}

    # r15: the session is 90+ min at 2M and the artifact of record is
    # ONE end-of-run JSON line — a timeout used to lose every reading
    # (the first r15 attempt died in the serving loop with nothing
    # printed). Checkpoint the partial record after each phase so a
    # killed run still leaves its numbers.
    ckpt_path = os.path.join(SCRATCH, f"pq_serving_probe_x{n}_ckpt.json")

    def ckpt() -> None:
        with open(ckpt_path, "w") as f:
            f.write(json.dumps(out))

    # index-build (offline) cost, reported but not part of serving time
    for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.PQ_CODES)
        out[f"codes_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.PQ_IVF_CODES)
        out[f"ivf_codes_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        ckpt()

    # r10: the append-lifecycle store (base snapshot + delta-only
    # encode). Build cost covers BOTH writes; the point of comparison
    # is the delta share — at scale a snapshot append re-encodes
    # ~1/PQ_APPEND_MOD of the corpus, never all of it.
    for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.PQ_CODES_APPEND)
        out[f"append_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        ckpt()

    # r10: trained-codebook cost (per-subspace Lloyd, LLOYD_ITERS
    # iterations) — training scales with rows, which is exactly why
    # the 100 TB story trains on a deterministic sample; the probe
    # quantifies the slope the sample avoids.
    from refitd_etl_spark.sources.registry import table as _table

    for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
        t0 = time.perf_counter()
        cb = sim._pq_train_cb(_table(spark, d, "embeddings")).collect()
        assert len(cb) == sim.PQ_M * sim.PQ_K, len(cb)
        out[f"pq_train_{tag}_s"] = round(time.perf_counter() - t0, 3)
        ckpt()

    # r11: trained-store build (training + encode + both-artifact
    # persist) and the cid x snap composed-store build — read against
    # the seed flat store / one-shot IVF store costs above.
    for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.PQ_TRAINED_CODES)
        out[f"trained_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.PQ_IVF_APPEND_CODES)
        out[f"ivf_append_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        ckpt()

    # r11: SAMPLE-trained codebook (VERDICT r10 item 5 — makes the
    # "at 100 TB training runs on a deterministic sample" docstring
    # executable): seed from the full corpus, run the SAME Lloyd loop
    # (`_lloyd`, bound as `_pq_train_cb` binds it) over a deterministic
    # md5-bucket ~10% sample, then measure the FULL-corpus
    # reconstruction error of sample-trained vs full-trained. The band asserted here is the claim: sampling the
    # training set costs almost nothing in codebook quality while the
    # training job reads ~1/10 of the rows.
    e_full = _table(spark, sf_dir, "embeddings")
    sample = e_full.filter(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10 == 0
    )
    out["train_sample_rows"] = sample.count()
    t0 = time.perf_counter()
    cb_sample = sim._lloyd(
        sim._pq_train_rows(sample),
        sim._pq_seed_cb_d(e_full),
        ("m",),
        sim._pq_sub_assign,
        keep_empty=True,
    )
    out["pq_train_sample_s"] = round(time.perf_counter() - t0, 3)
    tr_full = sim._pq_train_rows(e_full)
    mse = {}
    # the full-trained codebook is read BACK from the store built
    # above — measuring the persisted artifact, and never paying the
    # training job twice in one probe run (r11 code review)
    cb_full = sim._read_level(
        spark, sim._pq_store(spark, sf_dir, sim.PQ_TRAINED_CODES) + "/codebook"
    )
    for name, cb in (
        ("seed", sim._pq_seed_cb_d(e_full)),
        ("full", cb_full),
        ("sample", cb_sample),
    ):
        mse[name] = sim._pq_recon_arm(tr_full, cb, name).first()["mean_sq_err"]
        out[f"recon_mse_{name}"] = round(mse[name], 6)
    out["sample_vs_full_mse_ratio"] = round(mse["sample"] / mse["full"], 4)
    ckpt()

    # r12: the FULLY-trained two-level store (trained coarse centroids
    # x trained sub-codebooks, append-built cid x snap). Build cost
    # is the coarse training plus the two snapshot encodes (the
    # sub-codebook artifact was trained once, for the trained-codes
    # store above) — the offline price the serve numbers amortize;
    # the serve itself
    # should sit at the composed-store price (probe pruning works the
    # same on trained cids as on seed cids).
    for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
        t0 = time.perf_counter()
        sim._pq_store(spark, d, sim.IVF_PQ_TRAINED_STORE)
        out[f"trained_store_build_{tag}_s"] = round(time.perf_counter() - t0, 3)
        ckpt()

    # ONE timing protocol for the whole audit family (r13 code
    # review: the r12 drift loop kept a >5s one-shot break while the
    # new arm loops ran min-of-3 — mixing protocols inside the very
    # comparison the numbers exist for is the bench.py asymmetric-
    # filter bug again): untimed warm-up, then uniform min-of-3.
    def _min3(run):
        # cross-query cache isolation (ADVICE r13 item 1): caches
        # pinned by earlier probe stages (store builds, serving
        # loops) must not leak into the audit-family timings — clear
        # once per arm, exactly what the gated entry's clearCache
        # gave the r12 protocol, then uniform min-of-3 on the raw fn.
        spark.catalog.clearCache()
        run()  # warm-up (first call also builds any memoized store)
        best = rows = None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = run()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best, rows

    # r12: the full drift audit — the periodic monitoring sweep
    # (broadcast frozen codebook, map-side-combined argmin, rollups).
    # r13: the PER-INGEST cadences — the delta-only codebook arm
    # (snap=1 partition-pruned store scan; the raw-vector side joins
    # the corpus here, standing in for the arriving batch a real
    # ingest holds) and the coarse-centroid arm (the second trained
    # artifact's staleness number).
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
    assert len(audit_rows[("drift_audit", "1x")]) == 2
    # value identity at N×, from the rows the timing loops already
    # collected: the per-ingest arm must report the SAME number the
    # O(|corpus|) sweep reports for the delta snapshot
    [arm_row] = audit_rows[("drift_delta_arm", f"{n}x")]
    [full_delta] = [
        r for r in audit_rows[("drift_audit", f"{n}x")]
        if r["snapshot"] == "delta"
    ]
    out["delta_arm_equals_full_delta_at_scale"] = (
        arm_row["n_vectors"] == full_delta["n_vectors"]
        and arm_row["mean_sq_err"] == full_delta["mean_sq_err"]
        and arm_row["max_sq_err"] == full_delta["max_sq_err"]
    )

    # r14 (VERDICT r13 item 5): the TRUE per-ingest shape — the
    # arriving batch as its OWN table. pq_drift_delta_arm's raw-vector
    # side joins the full embeddings table as a stand-in (the gate
    # corpus has no batch table), so its measured win reflects compute
    # savings, not a pruned vector scan. Here the batch IS written to
    # its own parquet (untimed — production already holds it), and the
    # audit reads vectors FROM it: an O(|batch|) scan end-to-end, the
    # number the docstring could previously only argue.
    batch_dir = os.path.join(SCRATCH, f"drift_batch_x{n}")
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

    # r15 (VERDICT r14 item 6): the COARSE gate's batch-table cadence
    # arm — the same swap proven for the codebook audit above (batch
    # parquet in, snapshot predicate out), applied to the coarse-
    # centroid staleness number. The gate docstring claims the
    # pq_drift_delta_arm pattern "applies unchanged"; this arm is the
    # proof: vectors from the O(|batch|) parquet, frozen centroids
    # from the store artifact, norms hoisted exactly as the registered
    # gate hoists them, and the profile row must equal the full
    # audit's delta row bit-for-bit.
    pcent = sim._read_level(spark, store + "/centroids")

    def _coarse_batch_audit():
        rows = spark.read.parquet(batch_dir)
        best_cos = sim._km_assign(
            rows.select("vec_id", "embedding"), pcent, with_cos=True
        )
        return best_cos.agg(
            F.count("*").alias("n_vectors"),
            (
                F.sum(F.col("_cos").cast("decimal(28,12)")).cast("double")
                / F.count("*")
            ).alias("mean_cos"),
            F.min("_cos").alias("min_cos"),
        ).select(
            F.lit("delta").alias("snapshot"), "n_vectors", "mean_cos", "min_cos"
        ).collect()

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

    pairs = (
        ("pq_adc_topk", "pq_codes_serving"),
        ("ivf_pq_topk", "ivf_pq_codes_serving"),
        ("pq_codes_serving", "pq_codes_append_serving"),
        ("pq_codes_serving", "pq_trained_codes_serving"),
        ("ivf_pq_codes_serving", "ivf_pq_codes_append_serving"),
        ("ivf_pq_codes_append_serving", "ivf_pq_trained_store_serving"),
    )
    timed: set[str] = set()
    for inline, served in pairs:
        for name in (inline, served):
            if name in timed:
                continue
            timed.add(name)
            q = ALL_QUERIES[name]
            for tag, d in (("1x", sf_dir), (f"{n}x", scaled_dir)):
                q.fn(spark, d).collect()  # warm-up (store already built)
                best = None
                for _ in range(3):
                    t0 = time.perf_counter()
                    rows = q.raw(spark, d).collect()
                    dt = time.perf_counter() - t0
                    best = dt if best is None or dt < best else best
                assert len(rows) == 10, (name, tag, len(rows))
                out[f"{name}_{tag}_s"] = round(best, 3)
                ckpt()

    # value cross-check at N×: the append-built store must serve rows
    # identical to the single-snapshot store (monotone-id equivalence
    # at probe scale, not just at the gate SF)
    a = [tuple(r) for r in ALL_QUERIES["pq_codes_append_serving"].raw(spark, scaled_dir).collect()]
    b = [tuple(r) for r in ALL_QUERIES["pq_codes_serving"].raw(spark, scaled_dir).collect()]
    out["append_vs_flat_identical_at_scale"] = a == b
    # r11: the composed store must serve identical to the one-shot
    # IVF store at probe scale too
    c = [tuple(r) for r in ALL_QUERIES["ivf_pq_codes_append_serving"].raw(spark, scaled_dir).collect()]
    d_ = [tuple(r) for r in ALL_QUERIES["ivf_pq_codes_serving"].raw(spark, scaled_dir).collect()]
    out["composed_vs_oneshot_identical_at_scale"] = c == d_
    # print BEFORE asserting: on divergence the run's timings are the
    # diagnostic artifact — don't discard them (r10 code review)
    print(json.dumps(out))
    assert a == b, "append store diverged from full re-encode at scale"
    assert out["delta_arm_equals_full_delta_at_scale"], (
        "per-ingest delta arm diverged from the full audit's delta row"
    )
    assert out["coarse_batch_arm_equals_full_delta_at_scale"], (
        "coarse batch-table arm diverged from the full audit's delta row"
    )
    assert c == d_, "composed store diverged from one-shot build at scale"
    assert mse["full"] < mse["seed"], "full-trained must beat seed (Lloyd)"
    assert mse["sample"] < mse["seed"], (
        "sample-trained must still beat the seed codebook"
    )
    assert mse["sample"] <= mse["full"] * 1.10, (
        f"sample-trained corpus MSE {mse['sample']} more than 10% above "
        f"full-trained {mse['full']} — the train-on-a-sample claim needs "
        "a bigger sample at this distribution"
    )
    spark.stop()


if __name__ == "__main__":
    main()
