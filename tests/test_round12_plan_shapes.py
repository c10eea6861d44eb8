"""Round-12 policy pins: driver-window staleness rotation (the 42
r8-stale queries must head the r12 window — the frontier the r11
handoff pre-derived and the r12 recompute from CORRECTNESS_r01-r11
confirmed exactly, set AND order; third consecutive verified handoff).
Gate-specific plan/value pins for the r12 gates (fully-trained IVF-PQ
store with delta append, gated sample-training band, GIF container
tier) live beside them below as they land. The changed-queries
containment itself is the DYNAMIC test in test_round5_plan_shapes.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from refitd_etl_spark.plans import ALL_QUERIES

# The r8-stale staleness pin (R8_STALE must head the r12 window) was
# an obligation of the ROUND-12 window only: every one of those 42
# queries was re-checked green in the r12 driver window
# (CORRECTNESS_r12), so the obligation moved to the NEXT stale block —
# R9_STALE in test_round13_plan_shapes.py (same discharge pattern as
# the r6/r7/r8 pins before it). The gate-specific r12 pins below are
# permanent regression pins and stay.


def test_pq_train_ctes_defaults_reproduce_the_r11_sql_exactly():
    """The r12 src/prefix parameterization of `_pq_train_ctes` (needed
    so `pq_sample_train_profile` can run the full-corpus and
    sample-corpus training chains in ONE oracle) must be a pure
    generalization: with the default arguments the generated CTE chain
    and the whole `_pq_train_oracle` statement are byte-for-byte the
    r11 strings (hashes captured from the HEAD definition before the
    edit), so `pq_trained_profile` and `pq_trained_codes_serving`
    cannot have drifted."""
    import hashlib

    from refitd_etl_spark.plans.similarity import _pq_train_ctes, _pq_train_oracle

    ctes_md5 = hashlib.md5("\n".join(_pq_train_ctes()).encode()).hexdigest()
    oracle_md5 = hashlib.md5(_pq_train_oracle().encode()).hexdigest()
    assert ctes_md5 == "d45c729cad1e9dfa0b6bd68bb804bf7f"
    assert oracle_md5 == "fee08aed7c81913a632d7b6eba032d0c"


def test_fully_trained_store_serve_plan_trains_nothing(spark, sf_dir):
    """The r12 composed gate's serve path: the code-store scan reads
    ONLY codes (never the embedding) under dynamic partition pruning
    on cid, BOTH persisted artifacts appear as parquet scans
    (`/centroids` for the probes, `/codebook` for the LUT), and the
    plan contains no Lloyd residue (`ExistingRDD`/`Scan rdd`) — the
    pq_trained_codes_serving pin, now covering the COARSE level too:
    neither training loop runs at serve time."""
    df = ALL_QUERIES["ivf_pq_trained_store_serving"].raw(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    code_scans = [ln for ln in plan.splitlines()
                  if "ivf_pq_trained_store_" in ln and "/codes" in ln]
    assert code_scans, plan
    assert all("embedding" not in ln for ln in code_scans), code_scans
    for artifact in ("/centroids", "/codebook"):
        assert any("ivf_pq_trained_store_" in ln and artifact in ln
                   for ln in plan.splitlines()), (artifact, plan)
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan
    assert "dynamicpruning" in plan.lower(), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_fully_trained_store_delta_append_reads_delta_only(spark, sf_dir):
    """The trained-store ingest invariant (VERDICT r11 item 3): the
    delta batch is encoded by `_pq_encode_batch` against the
    PERSISTED artifacts — its lineage scans the embeddings slice plus
    the two artifact parquets, never the base `/codes` store and never
    a training iteration (no ExistingRDD) — and the snap partitions
    hold exactly the base/delta row splits."""
    from pyspark.sql import functions as F

    from refitd_etl_spark.plans.similarity import (
        IVF_PQ_TRAINED_STORE,
        _pq_append_base,
        _pq_append_delta,
        _pq_encode_batch,
        _pq_store,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    path = _pq_store(spark, sf_dir, IVF_PQ_TRAINED_STORE)
    delta_job = _pq_encode_batch(
        spark, e, path, IVF_PQ_TRAINED_STORE, _pq_append_delta(e)
    )
    plan = delta_job._jdf.queryExecution().executedPlan().toString()
    assert "/codes" not in plan, plan
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan
    assert any("/centroids" in ln for ln in plan.splitlines()), plan
    assert any("/codebook" in ln for ln in plan.splitlines()), plan
    assert delta_job.count() == _pq_append_delta(e).count()

    store = spark.read.parquet(path + "/codes")
    by_snap = {r["snap"]: r["cnt"] for r in
               store.groupBy("snap").agg(F.count("*").alias("cnt")).collect()}
    assert by_snap == {0: _pq_append_base(e).count(),
                       1: _pq_append_delta(e).count()}, by_snap


def test_fully_trained_store_rows_match_one_shot_full_encode(spark, sf_dir):
    """Append-built trained store == one-shot full encode against the
    same persisted artifacts, row for row (vec_id, cid, codes) — the
    r11 composed-store identity, now on TRAINED artifacts: incremental
    construction changes the write schedule, never the artifact."""
    from pyspark.sql import functions as F

    from refitd_etl_spark.plans.similarity import (
        IVF_PQ_TRAINED_STORE,
        _pq_encode_batch,
        _pq_store,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    path = _pq_store(spark, sf_dir, IVF_PQ_TRAINED_STORE)
    inc = spark.read.parquet(path + "/codes")
    one = _pq_encode_batch(
        spark, e, path, IVF_PQ_TRAINED_STORE, e.filter(F.col("vec_id") != 0)
    )
    k = lambda r: r[0]
    inc_rows = sorted(
        ((r["vec_id"], r["cid"], tuple(r["codes"])) for r in inc.collect()), key=k
    )
    one_rows = sorted(
        ((r["vec_id"], r["cid"], tuple(r["codes"])) for r in one.collect()), key=k
    )
    assert inc_rows == one_rows


def test_sample_train_band_holds(spark, sf_dir):
    """The promoted probe assertion (VERDICT r11 item 4): Lloyd
    monotonicity (trained_full <= seed) plus the sample band —
    training on the ~50% md5-bucket sample costs at most
    PQ_SAMPLE_BAND x the full-corpus reconstruction MSE. Measured
    1.008x at sf0.001; the band leaves room for SF drift without
    letting the claim rot."""
    from refitd_etl_spark.plans.similarity import PQ_SAMPLE_BAND

    rows = {r["codebook"]: r for r in
            ALL_QUERIES["pq_sample_train_profile"].raw(spark, sf_dir).collect()}
    assert set(rows) == {"seed", "trained_full", "trained_sample"}
    assert rows["trained_full"]["mean_sq_err"] <= rows["seed"]["mean_sq_err"]
    assert (rows["trained_sample"]["mean_sq_err"]
            <= PQ_SAMPLE_BAND * rows["trained_full"]["mean_sq_err"]), rows
    assert rows["trained_sample"]["mean_sq_err"] > 0

def test_gif_gate_synthesis_is_jvm_side_single_arrow_stage(spark, sf_dir):
    """The GIF gate's shape (the media_webp_metadata pin, r12 tier):
    payload synthesis — including the sub-block chain transform — is
    pure column expressions on the scan side (no Python builds bytes),
    the parse is the single MapInPandas stage, the documents scan
    reads only doc_id/text with the doc_id%3 slice filtered at the
    scan, and nothing shuffles."""
    df = ALL_QUERIES["media_gif_metadata"].raw(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan[:500]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan, plan[:500]
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("documents" in ln or "FileScan" in ln for ln in scans)
    sch = scans[0].split("ReadSchema:")[-1]
    assert "text" in sch and "doc_id" in sch
    assert "lang" not in sch and "source" not in sch, sch  # pruned
    assert any(
        "Filter" in ln and "doc_id" in ln and ("% 3" in ln or "%3" in ln)
        for ln in plan.splitlines()
    ), plan[:800]


def test_drift_audit_reads_frozen_codebook_and_never_trains(spark, sf_dir):
    """The drift audit's whole point is measuring under the FROZEN
    artifact: its plan reads the persisted codebook parquet and
    contains no Lloyd residue (no ExistingRDD — the audit never
    retrains); the two snapshot arms count exactly the base/delta row
    splits; and on the gate corpus (interleaved slices of one
    distribution, no true drift) the delta's reconstruction error sits
    within 10% of the base's — the band a REAL drift must leave to
    fire the retrain decision."""
    from refitd_etl_spark.plans.similarity import (
        _pq_append_base,
        _pq_append_delta,
    )
    from refitd_etl_spark.sources.registry import table

    df = ALL_QUERIES["pq_codebook_drift_audit"].raw(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any("pq_trained_codebook_" in ln and "/codebook" in ln
               for ln in plan.splitlines()), plan
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan

    e = table(spark, sf_dir, "embeddings")
    rows = {r["snapshot"]: r for r in df.collect()}
    assert set(rows) == {"base", "delta"}
    assert rows["base"]["n_vectors"] == _pq_append_base(e).count()
    assert rows["delta"]["n_vectors"] == _pq_append_delta(e).count()
    b, d = rows["base"]["mean_sq_err"], rows["delta"]["mean_sq_err"]
    assert b > 0 and d > 0
    assert abs(d - b) / b < 0.10, (b, d)


def test_drift_audit_detects_real_drift(spark, sf_dir):
    """The no-drift band above proves agreement on same-distribution
    slices; this proves the monitor FIRES when drift is real: a delta
    whose embeddings are shifted off the training distribution (a
    constant offset on every dimension — the classic embedding-model
    version bump) must reconstruct strictly worse under the frozen
    codebook, by enough to clear any reasonable alert threshold."""
    from pyspark.sql import functions as F

    from refitd_etl_spark.plans.similarity import (
        PQ_TRAINED_CODES,
        _pq_append_base,
        _pq_append_delta,
        _pq_recon_arm,
        _pq_store,
        _pq_train_rows,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    cb = spark.read.parquet(
        _pq_store(spark, sf_dir, PQ_TRAINED_CODES) + "/codebook"
    )
    base_mse = _pq_recon_arm(
        _pq_train_rows(_pq_append_base(e)), cb, "base"
    ).first()["mean_sq_err"]
    drifted = _pq_append_delta(e).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double") + F.lit(0.5)),
    )
    drifted_mse = _pq_recon_arm(
        _pq_train_rows(drifted), cb, "drifted"
    ).first()["mean_sq_err"]
    assert drifted_mse > 2.0 * base_mse, (base_mse, drifted_mse)


def test_sample_membership_invariant_under_repartitioning(spark, sf_dir):
    """The sample gate's 100 TB story rests on the md5 bucket being a
    pure function of the KEY — the same vectors are sampled no matter
    how the data is partitioned or ordered (df.sample() cannot promise
    this). Pin it: membership identical across three physical
    layouts."""
    from refitd_etl_spark.plans.similarity import _pq_sample
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    ids = sorted(r["vec_id"] for r in _pq_sample(e).select("vec_id").collect())
    assert ids, "sample must be non-empty"
    for layout in (e.repartition(17), e.repartition(3, "label"),
                   e.orderBy(F.col("vec_id").desc())):
        got = sorted(
            r["vec_id"] for r in _pq_sample(layout).select("vec_id").collect()
        )
        assert got == ids
