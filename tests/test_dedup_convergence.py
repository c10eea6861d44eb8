"""Pins for the connected-components loop
(`plans/dedup.label_propagation_components`) and the Spark facts it
rests on.

Each round reads its count of lowered labels from an `observe()`
metric collected during the round's eager localCheckpoint (one
action per round, no join-back count job), and that checkpoint keeps
only (doc_id, cluster_id). Value identity of both registered callers
is pinned by the sf0.001 oracle-parity suite; these tests pin the
mechanism and the round bounds of both `jump` modes.
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
    """The loop treats a NULL sum as converged: a sum over no non-NULL
    value is NULL — an empty docs frame must terminate after one
    round."""
    obs = Observation()
    (
        spark.range(10)
        .select("id", F.lit(None).cast("boolean").alias("_changed"))
        .observe(obs, F.sum(F.col("_changed").cast("long")).alias("n_changed"))
        .localCheckpoint()
    )
    assert not obs.get["n_changed"]


def test_changed_condition_equals_label_inequality(spark):
    """new != old ⟺ new < old, given new = least(old,
    coalesce(nbr_min, old)) — the loop's lowered-label count is its
    changed-label count, including the NULL-neighbour case."""
    rows = spark.createDataFrame(
        [(10, 3), (10, 10), (10, 15), (10, None)],
        "cluster_id long, nbr_min long",
    ).select(
        "cluster_id",
        "nbr_min",
        F.least(
            F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
        ).alias("new_lbl"),
    ).withColumn("_changed", F.col("new_lbl") < F.col("cluster_id"))
    for r in rows.collect():
        assert bool(r._changed) == (r.new_lbl != r.cluster_id), r


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


def test_jump_converges_on_a_long_chain_within_its_cap(spark, monkeypatch):
    """Hooking plus pointer jumping needs about log2(diameter) rounds:
    a 1,000-node chain, 1,000 rounds for plain propagation, converges
    in 10, so a 12-round cap holds it."""
    from refitd_etl_spark.plans import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 12)
    docs, pairs = _chain(spark, 1000)
    rows = dedup.label_propagation_components(docs, pairs, jump=True).collect()
    assert len(rows) == 1000
    assert all(r.cluster_id == 0 and r.is_canonical == (r.doc_id == 0) for r in rows)


def test_jump_raises_past_its_cap(spark, monkeypatch):
    """The jumping loop is bounded by the same cap and the same named
    error."""
    import pytest

    from refitd_etl_spark.plans import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 4)
    docs, pairs = _chain(spark, 1000)
    with pytest.raises(dedup.ComponentsDidNotConverge, match="4 rounds"):
        dedup.label_propagation_components(docs, pairs, jump=True)


def test_round_checkpoint_keeps_two_columns(spark, monkeypatch):
    """Every frame the loop checkpoints (the edge list, then one label
    frame per round) holds two columns: the changed flag rides the
    observe() aggregate, never the checkpointed rows."""
    from refitd_etl_spark.plans import dedup

    docs, pairs = _chain(spark, 6)
    cls = type(docs)
    real = cls.localCheckpoint
    for jump in (False, True):
        seen: list[list[str]] = []

        def recording(self, *args, **kwargs):
            seen.append(self.columns)
            return real(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(cls, "localCheckpoint", recording)
            dedup.label_propagation_components(docs, pairs, jump=jump)
        assert seen[0] == ["src", "dst"], jump
        assert len(seen) >= 3 and all(c == ["doc_id", "cluster_id"] for c in seen[1:]), (
            jump,
            seen,
        )
