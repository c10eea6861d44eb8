"""Round-5 policy tests.

The changed-queries-go-first driver-window rule is now DERIVED from the
git diff (VERDICT r4 item 2): scripts/changed_queries.py attributes
diff hunks vs the round boundary commit to top-level symbols and
propagates through shared helpers, so a refactor like r4's
`_ivf_search` can't silently sit outside the driver's first-50 window.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from refitd_etl_spark.plans import ALL_QUERIES

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from scripts.changed_queries import changed_queries, round_base_ref  # noqa: E402

WINDOW = 50


def _git_available() -> bool:
    try:
        subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, check=True, capture_output=True
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(not _git_available(), reason="not a git checkout")
def test_driver_window_contains_changed_queries():
    """Every query behaviorally changed since the last round boundary
    (per the git-derived closure, shared-helper edits included) must
    sit inside the driver's first-50 window. If more than 50 changed,
    the window must at least be saturated with changed queries."""
    base = round_base_ref()
    assert base is not None, "no round boundary commit found"
    changed = changed_queries(base)
    window = list(ALL_QUERIES)[:WINDOW]
    if len(changed) <= WINDOW:
        missing = [q for q in changed if q not in window]
        assert not missing, (
            f"queries changed since {base[:9]} but outside the driver window: "
            f"{missing} — reorder _PRIORITY in plans/__init__.py "
            f"(regenerate with `python scripts/changed_queries.py`)"
        )
    else:
        not_changed = [q for q in window if q not in changed]
        assert not not_changed, (
            f">{WINDOW} queries changed; window slots wasted on unchanged: "
            f"{not_changed}"
        )


# the round-4 boundary commit: diffing from here always includes the
# KNOWN round-5 edits, regardless of which round the checkout is in
# (r6 fix: this test used round_base_ref(), which moves every round —
# at r6 the pinned r5 facts no longer sat in the current round's diff)
R4_BOUNDARY = "101e588b7059d9d74cd20c2fc31fb6da853ac5a2"


def _has_commit(sha: str) -> bool:
    try:
        subprocess.run(
            ["git", "cat-file", "-e", sha], cwd=REPO, check=True, capture_output=True
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not (_git_available() and _has_commit(R4_BOUNDARY)),
    reason="not a git checkout with full history",
)
def test_changed_queries_catches_shared_helper_edits():
    """Self-check of the derivation on KNOWN round-5 history: the
    round-5 diff edits the shared `skew_safe_join` helper and the
    `_await_gate` barrier — the closure must reach queries that only
    TOUCH those helpers (minhash_lsh_pairs; every streaming gate),
    exactly the class of dependency the r4 hand-kept list missed.
    Diffed from the PINNED round-4 boundary (superset of the r5 diff),
    so the assertions stay true in later rounds too."""
    changed = set(changed_queries(R4_BOUNDARY))
    # direct edit
    assert "streaming_dim_enrichment" in changed
    # reached only through shared helpers
    assert "minhash_lsh_pairs" in changed  # via skew_safe_join
    assert "streaming_hourly_rollup" in changed  # via _await_gate


def test_largestar_handles_chain_and_star_topologies(spark, monkeypatch):
    """The connected-components loop, with and without pointer jumping,
    must label pathological shapes correctly — a 64-node CHAIN (the
    worst case for plain min-label propagation: 64 rounds, so that mode
    runs under a 64-round cap; with jumping it takes a handful) plus a
    star and isolated nodes, all in one graph. Every node must land on
    its component minimum."""
    from refitd_etl_spark.plans import dedup

    # chain 0-1-2-...-63, star 100<-{101..110}, isolates 200, 201
    chain = [(i, i + 1) for i in range(63)]
    star = [(100, i) for i in range(101, 111)]
    nodes = list(range(64)) + list(range(100, 111)) + [200, 201]
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    pairs = spark.createDataFrame(chain + star, "doc_a long, doc_b long")
    for jump in (False, True):
        with monkeypatch.context() as m:
            if not jump:
                m.setattr(dedup, "CC_MAX_ROUNDS", 64)
            got = {
                r["doc_id"]: (r["cluster_id"], r["is_canonical"])
                for r in dedup.label_propagation_components(docs, pairs, jump=jump).collect()
            }
        assert all(got[i] == (0, i == 0) for i in range(64)), jump
        assert all(got[i] == (100, i == 100) for i in range(100, 111)), jump
        assert got[200] == (200, True) and got[201] == (201, True), jump


def test_round5_queries_prune_columns(spark, sf_dir):
    """Every round-5 scan must reach the parquet reader with ONLY the
    columns it needs (ReadSchema) — a scan reading all columns for a
    2-column projection is wrong at 100 TB. Bounded-side broadcast
    crossJoins (1-row bounds, 5-row query sets, 16-row codebooks) are
    the only permitted nested-loop joins."""
    import re

    from refitd_etl_spark.plans import ALL_QUERIES

    want = {
        "zorder_layout_plan": {"o_custkey", "o_orderdate"},
        "media_exact_dedup": {"doc_id", "text"},
        "lsh_threshold_calibration": {"doc_id", "text"},
        "batch_semantic_topk": {"vec_id", "embedding"},
        "embedding_pq_profile": {"vec_id", "embedding"},
        "dedup_clusters_largestar": {"doc_id", "text"},
    }
    for name, allowed in want.items():
        plan = (
            ALL_QUERIES[name]
            .raw(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            cols = {c.split(":")[0] for c in schema.split(",") if ":" in c}
            extra = cols - allowed
            assert not extra, f"{name} scans unneeded columns: {extra}"
        assert "CartesianProduct" not in plan, name


def test_largestar_random_graphs_match_union_find(spark):
    """Property-style check on deterministic pseudo-random graphs (md5
    edge selection — no banned random()): the connected-components
    loop, with and without pointer jumping, must agree with a
    pure-Python union-find reference on every node, across densities
    from forest-sparse to near-complete."""
    import hashlib

    from refitd_etl_spark.plans.dedup import label_propagation_components

    def h(i, j):  # deterministic edge coin
        return int(hashlib.md5(f"{i}-{j}".encode()).hexdigest(), 16) % 100

    n = 40
    for density in (3, 10, 45):
        nodes = list(range(n))
        edges = [(i, j) for i in range(n) for j in range(i + 1, n) if h(i, j) < density]
        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: min(y for y in nodes if find(y) == find(x)) for x in nodes}

        docs = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "doc_a long, doc_b long"
        )  # a (0,0) self-loop changes no label — empty-edge stand-in
        for jump in (False, True):
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in label_propagation_components(docs, pairs, jump=jump).collect()
            }
            assert got == want, f"density={density} jump={jump}"


def test_decile_diagnostics_align_with_gate(spark, sf_dir):
    """The un-gated diagnostics twins (ADVICE r4) must expose raw
    values consistent with the booleans the gate pins: 10 deciles with
    monotonic boundaries, sketch estimates within the 2% bound."""
    from refitd_etl_spark.plans.relational import (
        revenue_decile_diagnostics,
        sketch_profile_diagnostics,
    )

    deciles = revenue_decile_diagnostics(spark, sf_dir).collect()
    assert [r["decile"] for r in deciles] == list(range(1, 11))
    bounds = deciles[0]["boundaries"]
    assert len(bounds) == 9 and all(a <= b for a, b in zip(bounds, bounds[1:]))
    assert all(r["n_customers"] > 0 for r in deciles)

    prof = sketch_profile_diagnostics(spark, sf_dir).collect()[0]
    assert abs(prof["approx_custkeys"] - prof["exact_custkeys"]) <= (
        0.02 * prof["exact_custkeys"]
    )
    assert abs(prof["approx_p50"] - prof["exact_p50"]) <= 0.02 * prof["exact_p50"]
    assert abs(prof["approx_p90"] - prof["exact_p90"]) <= 0.02 * prof["exact_p90"]
