"""The bench CLI is a driver surface: a stale name in its EXTENDED
tuple (a gate renamed, a typo in a round addition) fails the driver's
per-round bench run at runtime, on the driver's clock. Pin the
contract here instead — every EXTENDED name must be a registered
query, with no duplicates (the headline set needs no pin: it derives
from the registry's own `bench` flags).

The headline queries are also the interactive latency floor, so their
plan construction is pinned: no Spark job and a bounded number of py4j
round trips per build."""

from __future__ import annotations

import importlib.util
import os

import pytest

from refitd_etl_spark.plans import ALL_QUERIES

from .spark_counters import jobs_started, py4j_round_trips

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_extended_bench_name_is_registered():
    bench = _load_bench()
    missing = [n for n in bench.EXTENDED if n not in ALL_QUERIES]
    assert not missing, f"bench EXTENDED names not in ALL_QUERIES: {missing}"
    dupes = [n for n in set(bench.EXTENDED) if bench.EXTENDED.count(n) > 1]
    assert not dupes, f"duplicate EXTENDED entries: {dupes}"


# py4j round trips one `raw(spark, sf_dir)` call of a bench query may
# make once its tables are memoized. Built from Column objects, every
# literal, lambda and field access was its own round trip
# (`minhash_lsh_pairs` made about 1,700, `pricing_summary` about 940);
# as SQL text no bench query needs more than about 140.
BUILD_ROUND_TRIP_BUDGET = 200


@pytest.mark.parametrize(
    "name", sorted(n for n, q in ALL_QUERIES.items() if q.bench)
)
def test_bench_query_build_budget(spark, sf_dir, name):
    """Building a bench query's plan starts no Spark job (no schema
    inference, no counting job) and stays within the round-trip
    budget."""
    raw = ALL_QUERIES[name].raw
    raw(spark, sf_dir)  # memoizes the registry handles it reads
    with jobs_started(spark) as jobs, py4j_round_trips() as trips:
        raw(spark, sf_dir)
    assert jobs == []
    assert len(trips) <= BUILD_ROUND_TRIP_BUDGET, len(trips)
