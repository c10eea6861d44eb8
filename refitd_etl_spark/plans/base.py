"""Query registry: name → (Spark plan, optional DuckDB oracle SQL).

Determinism contract for oracle-checked queries (the driver hashes
values order-insensitively but exactly, with columns sorted by name):

- Never ``round()`` a double for output: Spark rounds doubles via their
  shortest decimal representation (HALF_UP on ``BigDecimal.valueOf``)
  while DuckDB rounds the binary value, so ``round(2.675, 2)`` differs.
- Sums over doubles are order-dependent → cast each row to an exact
  DECIMAL first (scale strictly wider than the true value's scale, so
  the cast never lands on a rounding boundary), SUM the decimals
  (exact), and cast the final result to DOUBLE.
- Averages/ratios: CAST(exact-decimal-sum AS DOUBLE) / COUNT — IEEE
  division of identical inputs is identical.
- LIMIT only ever follows an ORDER BY with a total (tie-broken) key.
- Timestamps are formatted to strings ('yyyy-MM-dd HH:mm:ss', UTC
  session TZ) so engine-side type/zone handling can't diverge.
- Every computed column is aliased identically in Spark and SQL.
- (r6, from the sf0.1 full-oracle pass) In DuckDB oracles, bridge
  double↔decimal conversions through VARCHAR whenever the decimal's
  unscaled value can exceed 2^53 or the double is not a short decimal:
  DuckDB's direct DECIMAL→DOUBLE cast double-rounds (int128→double,
  then ÷10^scale) and its direct DOUBLE→DECIMAL cast rounds the
  binary value, while Spark rounds the shortest decimal repr
  (BigDecimal.valueOf + HALF_UP). `CAST(CAST(x AS VARCHAR) AS ...)`
  matches Java exactly in both directions (shortest-repr print,
  HALF_UP decimal parse, correctly-rounded strtod).
- (r6) When an oracle mirrors a NATIVE Spark operator (session_window,
  interval join), compare event times at FULL microsecond precision —
  truncating each timestamp to seconds before differencing shifts
  sub-second gaps across unit boundaries (a 1799.5s gap floor-diffs
  to 1800) and diverges once the data is dense enough to hit it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn  # cache-hygiene-gated plan (what the driver consumes)
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    survey_ops: str  # SURVEY.md §2 operator ids this query covers
    bench: bool = False  # include in bench.py headline set
    raw: QueryFn | None = None  # ungated plan — steady-state bench timing


ALL_QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None, survey_ops: str, bench: bool = False):
    """Decorator registering a (spark, sf_dir) -> DataFrame plan."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in ALL_QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def gated(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Session hygiene: several plans cache() shared intermediates
            # (shingles, minhash sigs, bigram explodes). A consumer that
            # runs many queries through one small-heap session — the
            # correctness driver runs ~50 in a vanilla 1g JVM — would
            # otherwise accumulate them in the non-evictable storage
            # fraction until execution memory OOMs (observed at sf0.01:
            # heap exhaustion ~9 queries in). Clearing at entry bounds
            # live cache to the current query's own.
            spark.catalog.clearCache()
            return fn(spark, sf_dir)

        gated.__name__ = fn.__name__
        gated.__doc__ = fn.__doc__
        ALL_QUERIES[name] = Query(
            name=name, fn=gated, oracle=oracle, survey_ops=survey_ops, bench=bench, raw=fn
        )
        return fn

    return deco


def dec_sum(expr: str, scale: int = 2, precision: int = 28) -> str:
    """Order-independent SUM of a double SQL expression, as SQL text:
    exact decimal sum → double. Wrap it in ``F.expr`` where a Column is
    needed."""
    return f"CAST(sum(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"
