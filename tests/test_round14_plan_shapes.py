"""Round-14 gate pins: the LUT/adc fold's single definitions and the
coarse-centroid drift gate's map-side-combinable argmin + norm hoist.
The r14 window-rotation pins were retired at r15 when its rotation
superseded them (the standing pattern — the CURRENT rotation is
pinned in test_round15_plan_shapes.py); the changed-queries
containment is the DYNAMIC test in test_round5_plan_shapes.py.
"""

from __future__ import annotations

import re

from refitd_etl_spark.plans import ALL_QUERIES


def test_lut_and_adc_fold_consumers_share_one_definition():
    """The r14 LUT/adc fold (r11 code-review debt, twice-rescheduled,
    landed with the seed family in the frontier): the LUT-row
    construction and the q/enc/adc codec SQL tail must each exist ONCE
    — `_pq_lut_row` is a thin binding of `_pq_lut_row_from` to the
    seed codebook, `_pq_adc_ctes` prepends its seed-cb CTE to the
    shared `_pq_adc_tail`. Pinned structurally (the
    test_round13_plan_shapes.py `_km_train` pattern) so a copy cannot
    creep back; behavior is pinned by the ten consumers' byte-unchanged
    oracles (`test_oracle_parity` — the fold's generated SQL was
    verified byte-identical to the pre-fold text at fold time).
    `_pq_adc_scored`'s fused encode+lookup arm is a DIFFERENT operator
    (inline asymmetric scoring, no materialized LUT row), not a copy.
    """
    from pathlib import Path

    import refitd_etl_spark.plans.similarity as sim

    src = Path(sim.__file__).read_text()
    # the LUT-row construction: one lut_block factory, one array-of-
    # blocks assembly (both inside _pq_lut_row_from)
    assert len(re.findall(r"def lut_block\(", src)) == 1
    assert src.count('F.array(*[lut_block(m) for m in range(PQ_M)])') == 1
    # the codec SQL tail: one enc->adc rollup (inside _pq_adc_tail)
    assert src.count("FROM enc GROUP BY vec_id, label") == 1
    # and the seed binding is delegation, not a body
    assert "return _pq_lut_row_from(e, _pq_codebook_flat(e))" in src


def test_coarse_drift_gate_plan_is_windowless_and_reads_frozen_centroids(
    spark, sf_dir
):
    """The r14-registered coarse-centroid drift gate (VERDICT r13
    item 1): the argmin must be MAP-SIDE COMBINABLE — a partial max
    per vec_id before any exchange, never `_km_assign`'s row_number
    window (an Exchange + sort of corpus×k rows) — AND the norms must
    be HOISTED out of the pair loop (the measured dominant cost at
    2M: per-pair `V.cosine` re-evaluates both operands' norms, 3
    higher-order folds per pair where the dot needs 1; 178 s → 63 s
    at 2M, SCALE.md round-14). Pins: (1) no Window node,
    (2) nothing sorts the cosine column (the only Sort is the 2-row
    snapshot ORDER BY), (3) the per-vector max aggregates map-side
    (partial_max), (4) the audit reads the PERSISTED centroids
    artifact and never trains (no ExistingRDD — carried from the r13
    arm pins), (5) the pair-level project (the one evaluating the
    zip_with dot) holds no SQRT — norms are computed once, in the
    pre-join projections.

    r15 SUPERSESSION of pin (3): the optimization round replaced the
    per-vector `groupBy(vec_id).agg(max(_cos))` — which still blew
    each vector up k× through the nested-loop join and paid a
    corpus-row Exchange — with `array_max` over a per-row fold of the
    ONE broadcast centroid-array row (a pure map on the corpus scan;
    value identity pinned in tests/test_argmax_semantics.py). The pin
    now asserts the stronger shape: the fold is present and NO
    exchange partitions by vec_id (the per-vector merge is gone
    entirely). Pins (1)(2)(4)(5) are unchanged."""
    df = ALL_QUERIES["coarse_centroid_drift_audit"].raw(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()

    assert "Window" not in plan, plan
    # ADVICE r14 item 3: match 'Sort [' as a substring so whole-stage-
    # codegen-prefixed lines ('+- *(2) Sort [...]') are collected too —
    # the prefix-anchored regex would have let a reformatted plan make
    # this pin vacuously pass
    sort_lines = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert all("_cos#" not in ln for ln in sort_lines), "\n".join(sort_lines)
    assert "array_max(transform(_cents#" in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert any(
        "pq_trained_centroids_" in ln and "/centroids" in ln
        for ln in plan.splitlines()
    ), plan
    assert "ExistingRDD" not in plan and "Scan rdd" not in plan, plan
    pair_projects = [ln for ln in plan.splitlines() if "zip_with(" in ln]
    assert pair_projects and all("SQRT(" not in ln for ln in pair_projects), (
        "norms not hoisted out of the pair loop:\n" + "\n".join(pair_projects)
    )
