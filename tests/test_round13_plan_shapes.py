"""Round-13 gate pins: the `_km_train` coarse-Lloyd fold and the
|delta|-only drift-audit arm. The r13 window-rotation pins were
retired at r14 when its rotation superseded them (the standing
pattern — the CURRENT rotation is pinned in
test_round14_plan_shapes.py); the changed-queries containment is the
DYNAMIC test in test_round5_plan_shapes.py.
"""

from __future__ import annotations

import inspect
import re

from refitd_etl_spark.plans import ALL_QUERIES

def test_km_train_fold_consumers_share_one_lloyd_definition():
    """The r13 `_km_train` fold (r12 code-review debt / VERDICT r12
    item 2), since extended to ONE Lloyd loop for both trained levels:
    the coarse seed-select must exist ONCE (inside `_km_train`) and the
    assign/update/localCheckpoint loop ONCE (inside `_lloyd`, which the
    coarse and the PQ chains both bind) — no consumer or chain retains
    an inline copy. Pinned structurally so a copy cannot creep back in;
    behavior is pinned by the consumers' unchanged DuckDB oracles
    (`test_oracle_parity`), which the folds did not touch."""
    from pathlib import Path

    import refitd_etl_spark.plans.similarity as sim

    src = Path(sim.__file__).read_text()
    seeds = re.findall(r'F\.col\("vec_id"\) < KMEANS_K', src)
    assert len(seeds) == 1, (
        f"expected exactly one coarse-Lloyd seed-select (inside "
        f"_km_train); found {len(seeds)}"
    )
    # and the loop itself: one LLOYD_ITERS-driven assign/update loop,
    # and no other iteration constant or update body beside it
    loops = re.findall(r"for _ in range\(LLOYD_ITERS\)", src)
    assert len(loops) == 1, f"expected one Lloyd loop, found {len(loops)}"
    assert not re.search(
        r"\b(KMEANS_ITERS|PQ_TRAIN_ITERS|_km_update|_pq_sub_update)\b", src
    )
    # both chains are bindings of that loop, with no loop of their own
    for chain in (sim._km_train, sim._pq_train_cb):
        body = inspect.getsource(chain)
        assert "_lloyd(" in body and "localCheckpoint" not in body, body


def test_delta_drift_arm_prunes_to_the_snap_partition(spark, sf_dir):
    """The per-ingest drift audit (VERDICT r12 what's-missing 1): the
    arm's store read must prune to the snap=1 PARTITION — the base
    partition is never scanned (the `test_round10_plan_shapes.py`
    append-job pattern, applied to the audit side) — its plan must hold
    no training residue (no ExistingRDD), and its drift number must be
    IDENTICAL to the registered full gate's delta arm, which scans the
    corpus with the delta predicate instead."""
    from refitd_etl_spark.plans.similarity import (
        _pq_append_delta,
        pq_drift_delta_arm,
    )
    from refitd_etl_spark.sources.registry import table

    df = pq_drift_delta_arm(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()

    # (1) the codes scan prunes by partition: PartitionFilters carries
    # snap = 1, and no scan line reads the store without it
    store_scans = [
        ln for ln in plan.splitlines() if "ivf_pq_trained_store_" in ln
        and "/codes" in ln
    ]
    assert store_scans, plan
    assert all(
        "PartitionFilters" in ln and re.search(r"snap#\d+ = 1", ln)
        for ln in store_scans
    ), "\n".join(store_scans)

    # (2) no training residue: the audit reads artifacts, never a
    # localCheckpoint'd Lloyd iteration
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan

    # (3) the arm audits exactly the delta batch, and its number IS the
    # full gate's delta row
    e = table(spark, sf_dir, "embeddings")
    n_delta = _pq_append_delta(e).count()
    [arm] = df.collect()
    assert arm["snapshot"] == "delta" and arm["n_vectors"] == n_delta

    gate = ALL_QUERIES["pq_codebook_drift_audit"].raw(spark, sf_dir)
    [gate_delta] = [r for r in gate.collect() if r["snapshot"] == "delta"]
    assert arm["n_vectors"] == gate_delta["n_vectors"]
    assert arm["mean_sq_err"] == gate_delta["mean_sq_err"]
    assert arm["max_sq_err"] == gate_delta["max_sq_err"]


def test_coarse_drift_arm_matches_duckdb(spark, sf_dir, duck):
    """The coarse-centroid drift arm (r13 — VERDICT r12 what's-missing
    2; @query registration is r14's pre-budgeted slot) is held to the
    driver's own bar from day one: exact cross-engine value equality
    against `_coarse_drift_oracle`, which unrolls the SAME Lloyd chain
    `_km_train` persists into the `<store>/centroids` artifact."""
    from refitd_etl_spark.plans.similarity import (
        _coarse_drift_oracle,
        coarse_centroid_drift_audit,
    )

    from .oracle_compare import rows_to_multiset

    sdf = coarse_centroid_drift_audit(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(_coarse_drift_oracle())
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert rows_to_multiset(sdf.columns, srows) == rows_to_multiset(dcols, drows)
    # and the no-drift band: the two snapshots are interleaved slices
    # of one distribution, so their assignment profiles agree (built
    # from the already-collected rows — no second job)
    snap_i = sdf.columns.index("snapshot")
    mean_i = sdf.columns.index("mean_cos")
    rows = {r[snap_i]: r for r in srows}
    b, d = rows["base"][mean_i], rows["delta"][mean_i]
    assert abs(d - b) / abs(b) < 0.10, (b, d)


def test_coarse_drift_arm_reads_frozen_centroids_and_never_trains(spark, sf_dir):
    """The arm must audit under the PERSISTED trained-centroids
    artifact — a parquet scan in the plan — and never re-run the Lloyd
    iterations (no localCheckpoint residue)."""
    from refitd_etl_spark.plans.similarity import coarse_centroid_drift_audit

    plan = (
        coarse_centroid_drift_audit(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert any(
        "pq_trained_centroids_" in ln and "/centroids" in ln
        for ln in plan.splitlines()
    ), plan
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan


def test_coarse_drift_arm_detects_real_drift(spark, sf_dir):
    """The monitor must FIRE on real drift: a delta shifted off the
    training distribution (constant per-dimension offset — the
    embedding-model version bump) must assign materially worse under
    the frozen centroids (measured: 0.2555 → 0.1928 mean_cos at
    sf0.001, a 25% drop; the pin takes half that margin)."""
    from pyspark.sql import functions as F

    from refitd_etl_spark.plans.similarity import (
        IVF_PQ_TRAINED_STORE,
        _km_assign,
        _pq_append_delta,
        _pq_store,
        coarse_centroid_drift_audit,
    )
    from refitd_etl_spark.sources.registry import table

    rows = {
        r["snapshot"]: r
        for r in coarse_centroid_drift_audit(spark, sf_dir).collect()
    }
    pcent = spark.read.parquet(
        _pq_store(spark, sf_dir, IVF_PQ_TRAINED_STORE) + "/centroids"
    )
    e = table(spark, sf_dir, "embeddings")
    drifted = _pq_append_delta(e).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double") + F.lit(0.5)),
    )
    a = _km_assign(drifted.select("vec_id", "embedding"), pcent, with_cos=True)
    drifted_mean = a.agg(F.avg("_cos").alias("m")).first()["m"]
    assert drifted_mean < 0.88 * rows["delta"]["mean_cos"], (
        drifted_mean, rows["delta"]["mean_cos"]
    )
