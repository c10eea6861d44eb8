"""r16 convergence-check piggyback (VERDICT r15 item 5): pins for the
two Spark facts the rewrite rests on.

`dedup_clusters` now reads its per-round changed-count from an
`observe()` metric collected during the eager localCheckpoint
materialization (one job per round, no join-back count job);
`largestar_components` tests its edge-set fixpoint with ONE
symmetric-difference emptiness job instead of two exceptAll counts.
Value identity of both queries is pinned by the sf0.001 oracle-parity
suite; these tests pin the mechanisms.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F


def test_observe_metric_fires_on_eager_local_checkpoint(spark):
    """The load-bearing Spark fact: CollectMetrics reports through an
    eager localCheckpoint's materialization, so Observation.get returns
    without a separate action. If a Spark upgrade stopped treating the
    checkpoint materialization as a metrics-reporting execution, this
    would hang/fail here — not silently in the clustering loop."""
    obs = Observation()
    df = (
        spark.range(100)
        .select("id", (F.col("id") % 7 == 0).alias("_changed"))
        .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n_changed"))
        .localCheckpoint()
    )
    assert obs.get["n_changed"] == 15  # 0,7,...,98
    assert df.count() == 100


def test_observe_sum_none_when_all_null(spark):
    """The loop treats a NULL sum as converged: `nbr_min < cluster_id`
    is NULL when nbr_min is NULL (isolated nodes), and an all-NULL sum
    is NULL — the zero-edges graph must terminate after one round."""
    obs = Observation()
    (
        spark.range(10)
        .select("id", F.lit(None).cast("boolean").alias("_changed"))
        .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n_changed"))
        .localCheckpoint()
    )
    assert not obs.get["n_changed"]


def test_changed_condition_equals_label_inequality(spark):
    """new != old ⟺ nbr_min < old, given new = least(old,
    coalesce(nbr_min, old)) — the row-local rewrite of the retired
    join-back convergence count, including the NULL case."""
    rows = spark.createDataFrame(
        [(10, 3), (10, 10), (10, 15), (10, None)],
        "cluster_id long, nbr_min long",
    ).select(
        "cluster_id",
        "nbr_min",
        F.least(
            F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
        ).alias("new_lbl"),
        (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
    )
    for r in rows.collect():
        assert bool(r._changed) == (r.new_lbl != r.cluster_id), r


def test_symmetric_difference_emptiness_matches_exceptall(spark):
    """The large-star fixpoint test: for two distinct() edge sets,
    union + groupBy count==1 is empty iff both exceptAll directions
    are empty — equal sets, subset, superset, disjoint, overlap."""
    def edges(pairs):
        return spark.createDataFrame(pairs, "u long, v long").distinct()

    cases = [
        ([(1, 2), (3, 4)], [(1, 2), (3, 4)]),   # equal
        ([(1, 2)], [(1, 2), (3, 4)]),           # subset
        ([(1, 2), (3, 4)], [(1, 2)]),           # superset
        ([(1, 2)], [(3, 4)]),                   # disjoint
        ([(1, 2), (5, 6)], [(1, 2), (7, 8)]),   # overlap
    ]
    for a_pairs, b_pairs in cases:
        a, b = edges(a_pairs), edges(b_pairs)
        one_job = (
            a.unionByName(b).groupBy("u", "v").count()
            .filter(F.col("count") == 1).isEmpty()
        )
        two_jobs = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert one_job == two_jobs, (a_pairs, b_pairs)


def _chain(spark, n):
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    return docs, pairs


def test_label_propagation_converges_within_its_cap(spark, monkeypatch):
    """A chain of n nodes has diameter n-1: n rounds suffice, and every
    node gets the chain's minimum id."""
    from refitd_etl_spark.plans import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 6)
    docs, pairs = _chain(spark, 6)
    rows = dedup.label_propagation_components(docs, pairs).collect()
    assert sorted((r.doc_id, r.cluster_id) for r in rows) == [(i, 0) for i in range(6)]


def test_label_propagation_raises_past_its_cap(spark, monkeypatch):
    """A chain longer than the round cap fails loudly with the named
    error instead of looping on."""
    import pytest

    from refitd_etl_spark.plans import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 4)
    docs, pairs = _chain(spark, 10)
    with pytest.raises(dedup.ComponentsDidNotConverge, match="4 rounds"):
        dedup.label_propagation_components(docs, pairs)
