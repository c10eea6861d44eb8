"""Round-10 policy + plan-shape pins: driver-window staleness rotation
(the 42 r6-stale queries must head the r10 window — the CORRECTED
frontier, VERDICT r9 What's-wrong item 1: the r9 handoff pre-derived
45, but 8 of the r6 block were re-checked in r7-r9, not 5), the
trained-PQ gate's Lloyd-monotonicity guarantee, and the append-built
code store's delta-only-encode / codes-only-serve properties. The
changed-queries containment itself is the DYNAMIC test in
test_round5_plan_shapes.py (re-derived from the git diff every run) —
this file pins only what that test can't know: which queries the
staleness policy owes a slot this round, and the physical-plan /
value properties the r10 gates exist to prove."""

from __future__ import annotations

from pyspark.sql import functions as F

from refitd_etl_spark.plans import ALL_QUERIES

# The r6-stale staleness pin (R6_STALE must head the r10 window) was
# round-bound by construction: all 42 were re-checked green in the
# r10 driver window (CORRECTNESS_r10), so the obligation moved to the
# NEXT stale block — R7_STALE in test_round11_plan_shapes.py (same
# supersession chain as r8 -> r9 -> r10). The dynamic changed-set
# containment test in test_round5_plan_shapes.py is unaffected.


def test_trained_codebook_beats_seed(spark, sf_dir):
    """pq_trained_profile's reason to exist: per-subspace Lloyd
    training must strictly reduce corpus reconstruction error vs the
    seed codebook (Lloyd guarantees ≤; the strict win on the gate
    corpus is what makes the trained tier worth serving). Verified
    strict at sf0.001/0.01/0.1 during r10 development (~37% lower
    mean_sq_err at every SF)."""
    rows = {r["codebook"]: r for r in
            ALL_QUERIES["pq_trained_profile"].raw(spark, sf_dir).collect()}
    assert set(rows) == {"seed", "trained"}
    assert rows["trained"]["n_vectors"] == rows["seed"]["n_vectors"]
    assert rows["trained"]["mean_sq_err"] < rows["seed"]["mean_sq_err"], rows
    # NOTE deliberately no max_sq_err pin: Lloyd bounds the SUM of
    # squared errors, not the per-vector max (a trained centroid can
    # move toward cluster mass and away from an outlier) — a max
    # comparison would be an empirical pin that can fail on a correct
    # implementation at some future SF (r10 code review).


def test_pq_training_sse_is_monotone_per_iteration(spark, sf_dir):
    """Lloyd's guarantee checked at every step, not just endpoint-vs-
    seed: total reconstruction SSE under the iteration-k codebook is
    non-increasing in k (assignment and update steps are each
    non-increasing; empty cells keep their previous centroid, which
    preserves the bound). A regression here means the update
    arithmetic or the empty-cell rule broke even if the endpoint pin
    still happens to pass."""
    from pyspark.sql import functions as F2

    from refitd_etl_spark.plans.similarity import (
        LLOYD_ITERS,
        _lloyd_step,
        _pq_seed_cb_d,
        _pq_sub_assign,
        _pq_train_rows,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    tr = _pq_train_rows(e)
    cb = _pq_seed_cb_d(e)
    sses = []
    for _ in range(LLOYD_ITERS + 1):
        assign = _pq_sub_assign(tr, cb)
        sses.append(
            assign.agg(
                F2.sum(F2.col("d2").cast("decimal(28,12)")).alias("sse")
            ).collect()[0]["sse"]
        )
        cb = _lloyd_step(tr, assign, cb, ("m",), keep_empty=True).localCheckpoint(
            eager=True
        )
    assert all(a >= b for a, b in zip(sses, sses[1:])), sses
    assert sses[-1] < sses[0], sses  # training actually moved


def test_append_store_serving_matches_full_reencode(spark, sf_dir):
    """The incremental store must be indistinguishable from a full
    re-encode at serve time: same rows as the inline-encode ADC top-k
    (they share one oracle; pinned engine-side here too)."""
    a = ALL_QUERIES["pq_codes_append_serving"].raw(spark, sf_dir).collect()
    b = ALL_QUERIES["pq_adc_topk"].raw(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_append_serving_scans_codes_not_embeddings(spark, sf_dir):
    """Same serving contract as pq_codes_serving (r9): the scan over
    the append-built store reads ONLY the code column — never the
    64-float embedding — and stays shuffle-free into the two-stage
    top-k. The embeddings table appears only under the broadcast LUT
    artifact."""
    df = ALL_QUERIES["pq_codes_append_serving"].raw(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "pq_codes_append_" in ln]
    assert scans, plan
    assert all("embedding" not in ln for ln in scans), scans
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_append_encodes_only_the_delta(spark, sf_dir):
    """The point of the lifecycle gate: index maintenance under corpus
    append costs |delta| encode work, not |corpus|. Pins (1) the delta
    encode job's input is the delta predicate alone — its plan never
    touches the code store (nothing is re-encoded) and its row count
    is the delta count; (2) the materialized store holds the two
    snapshots disjointly (snap=0 base + snap=1 delta partitions
    totalling corpus-1 rows)."""
    from refitd_etl_spark.plans.similarity import (
        PQ_APPEND_MOD,
        _pq_append_base,
        _pq_append_delta,
        _pq_codebook_flat,
        PQ_CODES_APPEND,
        _pq_encode,
        _pq_store,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    n_delta = _pq_append_delta(e).count()
    n_base = _pq_append_base(e).count()
    assert n_delta + n_base == n - 1  # query row excluded, split disjoint
    assert 0 < n_delta < n_base  # the delta is a minority batch

    delta_codes = _pq_encode(_pq_append_delta(e), _pq_codebook_flat(e))
    plan = delta_codes._jdf.queryExecution().executedPlan().toString()
    assert "pq_codes_append_" not in plan, plan  # base store never read
    # the delta predicate survives into the encode job's scan: the mod
    # token (derived from PQ_APPEND_MOD, never a bare literal) must sit
    # on a Filter/PushedFilters line specifically — not anywhere in the
    # plan string (ADVICE r10 item 2: plan-wide substring match was
    # brittle and could pass vacuously)
    filter_lines = [
        ln for ln in plan.splitlines() if "Filter" in ln or "PushedFilters" in ln
    ]
    mod = str(PQ_APPEND_MOD)
    assert any(
        f"% {mod}" in ln or f"%{mod}" in ln or ("pmod" in ln and mod in ln)
        for ln in filter_lines
    ), "\n".join(filter_lines) or plan
    assert delta_codes.count() == n_delta

    store = spark.read.parquet(_pq_store(spark, sf_dir, PQ_CODES_APPEND) + "/codes")
    by_snap = {r["snap"]: r["cnt"] for r in
               store.groupBy("snap").agg(F.count("*").alias("cnt")).collect()}
    assert by_snap == {0: n_base, 1: n_delta}, by_snap


def test_trained_codebook_composes_with_the_encode_arm(spark, sf_dir):
    """The docstring claim that ANY (m, cid, c_sub) codebook — seed or
    trained — feeds the same `_pq_flat_row` → `_pq_encode` index
    build, executed: encode the corpus against the TRAINED codebook,
    assert every code is a valid sub-centroid id, and that training
    actually changed at least one vector's code versus the seed
    encoding (the codebooks demonstrably differ)."""
    from pyspark.sql import functions as F2

    from refitd_etl_spark.plans.similarity import (
        PQ_K,
        PQ_M,
        _pq_codebook_flat,
        _pq_encode,
        _pq_flat_row,
        _pq_train_cb,
    )
    from refitd_etl_spark.sources.registry import table

    e = table(spark, sf_dir, "embeddings")
    cand = e.filter(F2.col("vec_id") != 0)
    trained = _pq_encode(cand, _pq_flat_row(_pq_train_cb(e))).select(
        "vec_id", F2.col("codes").alias("t_codes")
    )
    seed = _pq_encode(cand, _pq_codebook_flat(e)).select(
        "vec_id", F2.col("codes").alias("s_codes")
    )
    joined = trained.join(seed, "vec_id")
    stats = joined.agg(
        F2.count("*").alias("n"),
        F2.sum(
            (F2.col("t_codes") != F2.col("s_codes")).cast("int")
        ).alias("n_moved"),
        F2.min(F2.array_min("t_codes")).alias("lo"),
        F2.max(F2.array_max("t_codes")).alias("hi"),
        F2.min(F2.size("t_codes")).alias("m_lo"),
        F2.max(F2.size("t_codes")).alias("m_hi"),
    ).collect()[0]
    assert stats["n"] == cand.count()
    assert stats["m_lo"] == stats["m_hi"] == PQ_M
    assert 0 <= stats["lo"] and stats["hi"] < PQ_K, stats
    assert stats["n_moved"] > 0, "training changed no vector's code"


def test_unified_codebook_feeds_all_pq_gates():
    """VERDICT r9 item 2 regression pin: ONE codebook definition. The
    inline duplicate in _pq_adc_scored is gone — every builder of the
    flat codebook row in plans/similarity.py goes through
    _pq_flat_row(_pq_seed_cb(...)) (i.e. _pq_codebook_flat) or a
    trained (m, cid, c_sub) frame through the same _pq_flat_row.
    AST-level: exactly one sort_array(collect_list(struct(m, cid,
    c_sub))) site in the module."""
    import ast
    import inspect

    from refitd_etl_spark.plans import similarity

    tree = ast.parse(inspect.getsource(similarity))
    # scope the walk to the ENCLOSING FUNCTION of each sort_array site
    # (ADVICE r10 item 3: a raw module-wide sort_array count would fail
    # misleadingly on any future unrelated sort_array use) — the pin is
    # that _pq_flat_row is the ONLY function that builds the flat row
    def _sort_array_calls(root):
        return {
            id(node): node
            for node in ast.walk(root)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sort_array"
        }

    all_calls = _sort_array_calls(tree)
    owners: set[str] = set()
    in_functions: set[int] = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node_id in _sort_array_calls(fn):
            owners.add(fn.name)
            in_functions.add(node_id)
    # a module-level sort_array site (e.g. a flat-row column constant)
    # has no enclosing function — it must fail the pin, not escape it
    if set(all_calls) - in_functions:
        owners.add("<module>")
    assert owners == {"_pq_flat_row"}, (
        f"codebook flat-row (sort_array) built outside _pq_flat_row: "
        f"{sorted(owners)} — the r10 unification requires exactly one site"
    )
