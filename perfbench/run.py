#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one closed-loop client, ``local[<usable cpus>]``. The run
pins its environment (printed on the ``# env`` line), sets up the
workload (session start, input generation, store pre-load, warm-up),
then runs whole units of ops while the next unit is expected to end
within ``--seconds`` (at least the workload's minimum), checking every
op's output.

The last stdout line is a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` every unit runs twice, untraced and
traced in alternating order, and the metrics are the per-layer ones
taken from the traced runs, plus the tracing overhead. Lines starting
with ``#`` before it carry the environment, per-op times and errors.

Scratch files live under ``.bench_work/`` in the repository root and the
run's own part of it is removed on exit; DuckDB oracle digests are kept
there between runs.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# Well below the RAM of a 16 GB box (the library default is 48g). The
# heap is also the initial size, so peak memory does not depend on when
# the collector decides to grow it.
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ["catalog_backfill", "catalog_incremental", "gold_queries", "llm_prep"]

END_TO_END = [("setup_s", "s"), ("pass_p50_s", "s"), ("ops_per_s", "1/s"), ("peak_rss_mb", "MB")]
_PLAN_UNITS = {"build_s": "s", "build_jobs": "count", "compile_s": "s", "exec_s": "s", "exec_jobs": "count"}
PER_LAYER = (
    [
        (f"plans.{m}.{p}", u)
        for m in ["relational", "textops", "dedup", "similarity", "temporal", "curation"]
        for p, u in _PLAN_UNITS.items()
    ]
    + [
        ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"), ("spark.shuffle_read_bytes", "bytes"),
        ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
        ("spark.failed_tasks", "count"),
        ("sources.registry.input_bytes", "bytes"), ("sources.registry.input_rows", "rows"),
        ("operators.transform.build_s", "s"), ("operators.tag_policy.build_s", "s"),
        ("operators.sensor.build_s", "s"), ("operators.sensor.sensor_rows", "rows"),
        ("operators.sensor.sensor_busy_s", "s"), ("operators.sensor.embed_rows", "rows"),
        ("operators.sensor.embed_busy_s", "s"), ("operators.sensor.useful_ratio", "ratio"),
        ("sources.sinks.upsert_s", "s"), ("sources.sinks.upsert_jobs", "count"),
        ("sources.sinks.json_s", "s"), ("sources.sinks.bytes_written", "bytes"),
        ("pipeline.self_s", "s"), ("pipeline.jobs", "count"),
        ("catalog.products_per_s", "1/s"), ("catalog.sensor_rows_per_rep", "ratio"),
        ("catalog.embed_rows_per_product", "ratio"),
        ("catalog.write_bytes_per_new_product", "bytes"),
        ("session.calibration_s", "s"),
        ("trace.untraced_pass_p50_s", "s"), ("trace.traced_pass_p50_s", "s"),
        ("trace.overhead_s", "s"), ("trace.bookkeeping_s", "s"),
    ]
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="sf0.1", help="scale-factor directory name (sf0.001 for smoke runs)")
    return ap.parse_args(argv)


def pin_env(run_dir: str) -> dict[str, str]:
    """The environment Spark and its Python workers inherit."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "PYTHONPATH": ROOT,  # workers import the library and perfbench.models
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # both JVMs (launcher and driver) keep their files in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)  # inputs are pinned to the library default
    tempfile.tempdir = None
    return env


def start_session(run_dir: str, env: dict[str, str]):
    """Static settings (master, memory, scratch paths) are fixed here;
    ``get_spark`` then applies the library's own runtime settings."""
    from pyspark.sql import SparkSession

    from refitd_etl_spark.session import get_spark

    SparkSession.builder.master(f"local[{env['SPARK_GRAFT_CPUS']}]").appName("perfbench").config(
        "spark.driver.memory", env["SPARK_DRIVER_MEM"]
    ).config("spark.driver.extraJavaOptions", f"-Xms{env['SPARK_DRIVER_MEM']}").config(
        "spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse")
    ).config("spark.ui.enabled", "false").config("spark.ui.showConsoleProgress", "false").getOrCreate()
    return get_spark(app_name="perfbench")


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    from perfbench.trace import _tree_pids

    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = _tree_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def calibrate(spark, times: int = 5) -> float:
    """Median time of the fixed reference job bench.py also times, run
    after the timed units. It reads the box's speed only roughly: across
    fresh JVMs its median spreads more than the op times it would scale
    (it is still speeding up with the JIT), so it is printed, not used to
    scale the gated times."""
    out = []
    for _ in range(times):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 8).selectExpr("sum(id * 2 + 7) AS s", "avg(id % 1000) AS a").collect()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def measure(workload, ctx, seconds: float, trace: bool):
    """Run whole units while the next one is expected to fit in
    ``seconds`` of op time, and at least the workload's ``min_units``
    untraced (one traced: in a traced run every unit runs twice)."""
    from perfbench.trace import Tracer

    untraced_units, traced_units = [], []
    tracer = Tracer(ctx.sc) if trace else None
    spent = last = 0.0
    k = 0
    while k < (1 if trace else workload.min_units) or spent + last <= seconds:
        t0, check0 = time.perf_counter(), ctx.check_s
        if trace:
            first_traced = k % 2 == 1  # alternate which copy runs warmer
            for use_tracer in (first_traced, not first_traced):
                ops = workload.unit(ctx, k, tracer if use_tracer else None)
                (traced_units if use_tracer else untraced_units).append(ops)
        else:
            untraced_units.append(workload.unit(ctx, k, None))
        last = time.perf_counter() - t0 - (ctx.check_s - check0)
        spent += last
        k += 1
    return untraced_units, traced_units, tracer


def pass_p50(units) -> float:
    """Median op time of a unit: one pipeline op, or one pass over the
    query list. (The median of single query times falls in the gap
    between the fast and the slow queries, so it is not reported.)"""
    return statistics.median(sum(o.seconds for o in ops) for ops in units)


def op_summary(ops) -> dict[str, float]:
    times = sorted(o.seconds for o in ops)
    out = {"ops": len(times), "op_p50_s": statistics.median(times)}
    if len(times) >= 100:  # at least ten samples beyond the p90
        out["op_p90_s"] = statistics.quantiles(times, n=10)[-1]
    return out


def per_layer(untraced_units, traced_units, tracer, calibration_s: float) -> dict[str, float]:
    totals = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    for ops in traced_units:
        for op in ops:
            for k, v in op.layers.items():
                totals[k] += v / len(traced_units)
    totals["session.calibration_s"] = calibration_s
    totals["trace.untraced_pass_p50_s"] = pass_p50(untraced_units)
    totals["trace.traced_pass_p50_s"] = pass_p50(traced_units)
    totals["trace.overhead_s"] = totals["trace.traced_pass_p50_s"] - totals["trace.untraced_pass_p50_s"]
    totals["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(traced_units)
    return totals


def emit(tag: str, payload) -> None:
    print(f"# {tag}: {json.dumps(payload)}", flush=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import pyarrow
        import pyspark

        from perfbench.trace import RssSampler
        from perfbench.workloads import WORKLOADS, Context
        from refitd_etl_spark.session import DEFAULT_SF_DIR
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), args.scale)
    if not os.path.isdir(sf_dir):
        print(f"perfbench: input directory {sf_dir} is missing", file=sys.stderr)
        return 2

    spark = start_session(run_dir, env)
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        emit("env", {
            **env, "workload": args.workload, "seed": args.seed, "sf_dir": sf_dir,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        })
        ctx = Context(spark, args.seed, sf_dir, run_dir, WORK)
        workload = WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_s = time.perf_counter() - T0 - ctx.check_s
        untraced_units, traced_units, tracer = measure(workload, ctx, args.seconds, bool(args.trace))
        sampler.stop()
        calibration_s = calibrate(spark)
    except BaseException:
        sampler.stop()
        stop_session(spark)
        raise

    ops = [o for unit in untraced_units + traced_units for o in unit]
    emit("ops", [[o.name, o.seconds, o.ok, o.error] for o in ops])
    busy = sum(o.seconds for o in ops)
    emit("summary", {**op_summary(ops), "calibration_s": calibration_s})
    infos = [o.info for o in ops if o.info]
    if infos:
        emit("catalog", {k: statistics.median(i[k] for i in infos) for k in infos[0]})
    if args.trace:
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_path)
        emit("plans", {o.name: {k: v for k, v in o.layers.items() if k.startswith("plans.")}
                       for unit in traced_units for o in unit if any(k.startswith("plans.") for k in o.layers)})
        emit("spans", spans_path)
        values = per_layer(untraced_units, traced_units, tracer, calibration_s)
        units = dict(PER_LAYER)
    else:
        values = {
            "setup_s": setup_s,
            "pass_p50_s": pass_p50(untraced_units),
            "ops_per_s": sum(o.ok for o in ops) / busy,
            "peak_rss_mb": sampler.peak_bytes / 2**20,
        }
        units = dict(END_TO_END)
    stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not o.ok for o in ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
