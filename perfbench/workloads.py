"""The benchmark's workloads.

Each workload has a ``setup`` (inputs, store pre-load, warm-up) and a
``unit`` that runs one closed-loop unit of ops and checks their output:
one ``run_pipeline`` call for the catalog workloads, one pass over the
query list in a seeded order for the query workloads. An op whose output
is wrong, or that raises, counts as failed. Time spent checking outputs
is added to ``ctx.check_s`` so the caller can leave it out of set-up
time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import time
import traceback
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

import refitd_etl_spark.pipeline as pipeline
from refitd_etl_spark.operators.fixtures import BRONZE_SCHEMA
from refitd_etl_spark.operators.sensor import EMBED_DIM
from refitd_etl_spark.plans import ALL_QUERIES
from refitd_etl_spark.sources import sinks
from tests.oracle_compare import rows_to_multiset

from . import bronze
from .models import CountingEmbedder, CountingSensor, model_counts
from .trace import STAGE_FIELDS, Tracer

GOLD_QUERIES = sorted(name for name, q in ALL_QUERIES.items() if q.bench)
LLM_PREP_QUERIES = [
    "dedup_clusters", "dedup_clusters_largestar", "semantic_dedup_clusters",
    "pq_sample_train_profile", "lsh_recall_report", "training_export_scale",
    "streaming_interval_join",
]


@dataclass
class Context:
    spark: object
    seed: int
    sf_dir: str  # inputs of the timed ops
    work_dir: str  # scratch space inside the checkout, removed after the run
    cache_dir: str  # kept between runs in the same checkout
    check_s: float = 0.0  # time spent checking outputs, outside set-up

    @property
    def sc(self):
        return self.spark.sparkContext

    @contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)  # traced runs only
    info: dict[str, float] = field(default_factory=dict)


def error_class(exc: BaseException) -> str:
    """Exception type plus the Spark error classes in its message, outer
    first (a stage failure names its cause after itself)."""
    found = re.findall(r"\[([A-Z][A-Z0-9_]+(?:\.[A-Z0-9_]+)*)\]", str(exc))
    classes = list(dict.fromkeys(found))[:3]
    return type(exc).__name__ + (f" [{', '.join(classes)}]" if classes else "")


def _failed(name: str, seconds: float, exc: BaseException) -> Op:
    traceback.print_exception(exc)
    return Op(name, seconds, ok=False, error=error_class(exc))


def _stage_sums(spans) -> dict[str, float]:
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for s in spans:
        for k in STAGE_FIELDS:
            out[k] += s.stats.get(k, 0.0)
    return out


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def _result_digest(cols: list[str], rows: list[tuple]) -> dict:
    """Row-multiset digest under the oracle gate's comparison rule."""
    text = "\n".join(rows_to_multiset(cols, rows))
    return {"cols": sorted(cols), "rows": len(rows), "md5": hashlib.md5(text.encode()).hexdigest()}


class OracleCache:
    """DuckDB oracle digests, computed once per input and SQL text and
    kept in the work directory across runs in the same checkout."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._con = None
        stamp = sorted(
            (f, os.path.getsize(os.path.join(sf_dir, f)), os.path.getmtime(os.path.join(sf_dir, f)))
            for f in os.listdir(sf_dir)
        )
        self._input_key = repr((os.path.abspath(sf_dir), stamp))

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, f)
                    self._con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def digest(self, name: str) -> dict:
        sql = ALL_QUERIES[name].oracle
        key = hashlib.sha1((self._input_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        res = self._duck().execute(sql)
        d = _result_digest([c[0] for c in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(d, f)
        os.replace(path + ".tmp", path)
        return d


class QueryMix:
    """Registry queries run round-robin, each op one ``fn(spark, sf)``
    call followed by ``collect()``; the order of each pass is seeded."""

    # The first timed pass after the warm-up still runs about a fifth
    # slower than the next (the JIT is still compiling), so a run times
    # two, and one pass's luck does not decide it.
    min_units = 2

    def __init__(self, names: list[str]):
        self.names = names
        self.oracle: dict[str, dict] = {}

    def setup(self, ctx: Context) -> None:
        with ctx.checking():
            cache = OracleCache(ctx.sf_dir, os.path.join(ctx.cache_dir, "oracle"))
            self.oracle = {n: cache.digest(n) for n in self.names}
        for name in self.names:  # warm-up pass, in registry order
            df = ALL_QUERIES[name].fn(ctx.spark, ctx.sf_dir)
            rows = df.collect()
            with ctx.checking():
                self._check(name, df.columns, rows)

    def _check(self, name: str, cols: list[str], rows) -> None:
        got = _result_digest(cols, [tuple(r) for r in rows])
        if got != self.oracle[name]:
            raise AssertionError(f"{name}: result {got} differs from the oracle {self.oracle[name]}")

    def order(self, seed: int, unit: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{seed}:{unit}").shuffle(names)
        return names

    def unit(self, ctx: Context, k: int, tracer: Tracer | None) -> list[Op]:
        return [self._op(ctx, name, tracer) for name in self.order(ctx.seed, k)]

    def _op(self, ctx: Context, name: str, tracer: Tracer | None) -> Op:
        q = ALL_QUERIES[name]
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = q.fn(ctx.spark, ctx.sf_dir)
                rows = df.collect()
                seconds = time.perf_counter() - t0
                layers = {}
            else:
                rows, df, layers = self._traced(ctx, q, tracer)
                seconds = time.perf_counter() - t0
            with ctx.checking():
                self._check(name, df.columns, rows)
        except Exception as exc:  # the op fails; the run goes on
            return _failed(name, time.perf_counter() - t0, exc)
        return Op(name, seconds, ok=True, layers=layers)

    @staticmethod
    def _traced(ctx: Context, q, tracer: Tracer):
        module = q.raw.__module__.rsplit(".", 1)[1]
        with tracer.span(f"plans.{module}.{q.name}") as op:
            with tracer.span("build") as build:
                df = q.fn(ctx.spark, ctx.sf_dir)
            with tracer.span("compile") as compile_:
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec") as exec_:
                rows = df.collect()
        spans = [op, build, compile_, exec_]
        layers = {
            f"plans.{module}.build_s": build.seconds,
            f"plans.{module}.build_jobs": build.jobs + op.jobs,
            f"plans.{module}.compile_s": compile_.seconds,
            f"plans.{module}.exec_s": exec_.seconds,
            f"plans.{module}.exec_jobs": exec_.jobs + compile_.jobs,
        }
        stages = _stage_sums(spans)
        layers.update({f"spark.{k}": v for k, v in stages.items() if not k.startswith("input_")})
        layers["sources.registry.input_bytes"] = stages["input_bytes"]
        layers["sources.registry.input_rows"] = stages["input_rows"]
        return rows, df, layers


# ---------------------------------------------------------------------------
# Catalog workloads
# ---------------------------------------------------------------------------

# run_pipeline's stage functions, as bound in its module, and the span
# each runs under in a traced op
PIPELINE_STAGES = [
    (pipeline, "transform_products", "operators.transform"),
    (pipeline, "tag_representatives", "operators.sensor"),
    (pipeline, "with_embeddings", "operators.sensor"),
    (pipeline, "apply_tag_policy", "operators.tag_policy"),
    (pipeline, "merge_composition", "operators.tag_policy"),
    (sinks, "upsert_parquet", "sources.sinks.upsert"),
    (sinks, "write_partitioned_json", "sources.sinks.json"),
]


@contextmanager
def traced_stages(tracer: Tracer):
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in PIPELINE_STAGES]
    try:
        for mod, attr, span in PIPELINE_STAGES:
            setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _write_bronze(ctx: Context, rows: list[tuple], path: str):
    """Write generated rows as parquet without a Spark job and read them
    back under the bronze schema."""
    schema = ctx.spark.createDataFrame([], BRONZE_SCHEMA).schema
    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema))
    pq.write_table(table, path)
    return ctx.spark.read.schema(schema).parquet(path)


def _bytes_since(path: str, t0_wall: float) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= t0_wall:
                total += st.st_size
    return total


class Catalog:
    """``run_pipeline`` with default arguments on a seeded bronze batch
    of one product per two ``part`` rows. Backfill loads the batch into an
    empty store on every op; incremental pre-loads it once and then adds
    a fresh delta of about 2% new products per op."""

    # An op takes most of a run; a second timed op would make a run a
    # quarter longer, which the benchmark's run budget does not allow.
    min_units = 1

    def __init__(self, incremental: bool):
        self.incremental = incremental
        self.ref_hash = None
        self.deltas = 0  # delta batches generated so far

    def setup(self, ctx: Context) -> None:
        self.sensor = CountingSensor(ctx.sc)
        self.embedder = CountingEmbedder(ctx.sc)
        self.part = bronze.read_part(ctx.sf_dir)
        # one product per two part rows (10,000 at sf0.1), so that a run
        # holds a full-size warm-up op and a timed one
        self.n = max(1, len(self.part["p_partkey"]) // 2)
        self.base_rows = bronze.base_rows(self.part, ctx.seed, self.n)
        self.base = _write_bronze(ctx, self.base_rows, os.path.join(ctx.work_dir, "bronze-base.parquet"))
        self.store_ids = sorted(bronze.product_id(r) for r in self.base_rows)
        # The pre-load (incremental) or one untimed op (backfill) warms
        # the JVM up at full size: after a small warm-up batch the first
        # full-size op still spends a third of its time compiling.
        store = os.path.join(ctx.work_dir, "store" if self.incremental else "store-warmup")
        self._op(ctx, "setup", self.base, self.base_rows, store, None, raise_on_fail=True)
        if self.incremental:
            self.store = store
        else:
            with ctx.checking():
                shutil.rmtree(store, ignore_errors=True)

    def unit(self, ctx: Context, k: int, tracer: Tracer | None) -> list[Op]:
        if not self.incremental:
            store = os.path.join(ctx.work_dir, f"store-{k}")
            op = self._op(ctx, "backfill", self.base, self.base_rows, store, tracer)
            with ctx.checking():
                shutil.rmtree(store, ignore_errors=True)
            return [op]
        batch = self.deltas
        self.deltas += 1
        delta_rows = bronze.delta_rows(self.part, ctx.seed, batch, max(1, self.n // 50))
        delta = _write_bronze(ctx, delta_rows, os.path.join(ctx.work_dir, f"bronze-delta-{batch}.parquet"))
        self.store_ids = sorted(self.store_ids + [bronze.product_id(r) for r in delta_rows])
        return [self._op(ctx, "incremental", self.base.unionByName(delta), self.base_rows + delta_rows,
                         self.store, tracer, n_new=len(delta_rows))]

    def _op(self, ctx, name, bronze_df, rows, store, tracer, n_new=None, raise_on_fail=False) -> Op:
        n_new = len(rows) if n_new is None else n_new
        before = model_counts(self.sensor, self.embedder)
        wall0 = time.time()
        t0 = time.perf_counter()
        seconds, error = None, None
        try:
            with ExitStack() as stack:
                if tracer is not None:
                    stack.enter_context(traced_stages(tracer))
                    span = stack.enter_context(tracer.span("pipeline"))
                result = pipeline.run_pipeline(
                    ctx.spark, bronze_df, store, sensor=self.sensor, embedder=self.embedder
                )
            seconds = time.perf_counter() - t0
            with ctx.checking():
                self._check(ctx, result, len(rows), n_new)
        except Exception as exc:  # the op fails; the run goes on
            if raise_on_fail:
                raise
            seconds = seconds or time.perf_counter() - t0
            error = exc
        after = model_counts(self.sensor, self.embedder)
        counts = {k: after[k] - before[k] for k in after}
        reps = bronze.groups(rows[-n_new:])
        written = _bytes_since(store, wall0)
        info = {
            "products_per_s": len(rows) / seconds,
            "sensor_rows_per_rep": counts["sensor_rows"] / reps,
            "embed_rows_per_product": counts["embed_rows"] / n_new,
            "write_bytes_per_new_product": written / n_new,
        }
        layers = {}
        if tracer is not None:  # a failed op still reports the layers it went through
            layers = self._layers(tracer, span, counts, reps, written)
            if error is None:
                layers.update({f"catalog.{k}": v for k, v in info.items()})
        if error is not None:
            traceback.print_exception(error)
            return Op(name, seconds, ok=False, error=error_class(error), layers=layers)
        return Op(name, seconds, ok=True, layers=layers, info=info)

    def _check(self, ctx: Context, result, n_candidates: int, n_new: int) -> None:
        problems = []
        if (result.n_candidates, result.n_new) != (n_candidates, n_new):
            problems.append(f"candidates/new {result.n_candidates}/{result.n_new}, "
                            f"expected {n_candidates}/{n_new}")
        products = result.products
        pids = sorted(r[0] for r in products.select("product_id").collect())
        tids = sorted(r[0] for r in result.tracking.select("product_id").collect())
        if pids != self.store_ids:
            problems.append(f"{len(pids)} products, expected the {len(self.store_ids)} silver rows")
        if tids != pids:
            problems.append("tracking ids differ from product ids")
        bad = products.filter(
            F.col("tags_final").isNull()
            | F.col("embedding").isNull()
            | (F.size("embedding") != EMBED_DIM)
        ).count()
        if bad:
            problems.append(f"{bad} products lack tags_final or a {EMBED_DIM}-dim embedding")
        if not self.incremental:
            h = products.select(
                F.sum(F.xxhash64(F.to_json(F.struct(*sorted(products.columns)))).cast("decimal(38,0)"))
            ).first()[0]
            if self.ref_hash is None:
                self.ref_hash = h
            elif h != self.ref_hash:
                problems.append("curated-products hash differs from the warm-up op of this seed")
        if problems:
            raise AssertionError("; ".join(problems))

    @staticmethod
    def _layers(tracer: Tracer, span, counts, reps: int, written: int) -> dict[str, float]:
        spans = [s for s in tracer.spans if s.id >= span.id]
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)

        def total(name, attr="seconds"):
            return sum(getattr(s, attr) for s in by_name.get(name, []))

        layers = {
            "operators.transform.build_s": total("operators.transform"),
            "operators.tag_policy.build_s": total("operators.tag_policy"),
            "operators.sensor.build_s": total("operators.sensor"),
            "operators.sensor.sensor_rows": counts["sensor_rows"],
            "operators.sensor.sensor_busy_s": counts["sensor_busy_s"],
            "operators.sensor.embed_rows": counts["embed_rows"],
            "operators.sensor.embed_busy_s": counts["embed_busy_s"],
            "operators.sensor.useful_ratio": reps / counts["sensor_rows"] if counts["sensor_rows"] else 0.0,
            "sources.sinks.upsert_s": total("sources.sinks.upsert"),
            "sources.sinks.upsert_jobs": total("sources.sinks.upsert", "jobs"),
            "sources.sinks.json_s": total("sources.sinks.json"),
            "sources.sinks.bytes_written": written,
            "pipeline.self_s": tracer.self_seconds(span),
            "pipeline.jobs": span.jobs,
        }
        stages = _stage_sums(spans)
        layers.update({f"spark.{k}": v for k, v in stages.items() if not k.startswith("input_")})
        return layers


WORKLOADS = {
    "catalog_backfill": lambda: Catalog(incremental=False),
    "catalog_incremental": lambda: Catalog(incremental=True),
    "gold_queries": lambda: QueryMix(GOLD_QUERIES),
    "llm_prep": lambda: QueryMix(LLM_PREP_QUERIES),
}
