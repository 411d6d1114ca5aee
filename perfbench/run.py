"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. The line before it, ``{"detail": ...}``, records the machine, the
versions, every pass and the figures that apply to one workload only.
Traced runs also write their spans to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clickhouse_23_3_19_32_lts_spark"
SETUPS = 7  # setup_s is the median of this many set-ups in one run


def machine() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    cpus = len(os.sched_getaffinity(0))
    # One eighth of physical memory, between 1 and 4 GiB: the data sets are
    # small and the machine may be shared.
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 8)) // 256 * 256
    return {"nproc": cpus, "mem_total_mb": mem_kb // 1024, "driver_mem_mb": driver_mb}


def size_resources(env: dict, work_dir: str) -> None:
    """Resources come from the machine, never from the package defaults."""
    os.environ["SPARK_GRAFT_CPUS"] = str(env["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{env['driver_mem_mb']}m"
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # keep every scratch file of Spark and its Python workers in the run's dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")


def start_spark(work_dir: str):
    from clickhouse_23_3_19_32_lts_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
        },
    )


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def install_spans(tracer) -> None:
    """Spans around the package's layer entry points (traced runs only)."""
    from clickhouse_23_3_19_32_lts_spark import dialect, engine

    last: dict[str, int] = {}

    def note_hit(span, args, df):
        path = args[1]
        span["hit"] = last.get(path) == id(df)
        last[path] = id(df)

    tracer.wrap(engine, "read_parquet_table", "engine.read_table", note_hit)
    tracer.wrap(dialect, "translate", "dialect.translate")


def run(workload, seed: int, seconds: float, trace: bool, work_dir: str, env: dict) -> tuple:
    import numpy as np

    from harness import Loop, Tracer
    from workloads import Context

    import clickhouse_23_3_19_32_lts_spark.session  # noqa: F401 — imported before the timed set-ups

    tracer = Tracer()
    if trace:
        install_spans(tracer)
    ctx = Context(None, tracer, work_dir, seed)
    setups, starts = [], []

    def set_up() -> None:
        t1 = time.perf_counter()
        ctx.spark = start_spark(work_dir)
        t2 = time.perf_counter()
        workload.prepare(ctx)
        # one trivial job, so the first op of the cold pass does not also
        # pay for the JVM's first job
        ctx.spark.range(0, 100_000, 1, env["nproc"]).selectExpr("sum(id) AS s").toPandas()
        setups.append(time.perf_counter() - t1)
        starts.append(t2 - t1)

    # The first set-up launches the JVM, and the cold pass runs in its
    # session. The other set-ups follow the passes in the same JVM.
    set_up()
    env = {**env, **versions(ctx.spark)}
    workload.start_checks(ctx)

    loop = Loop(ctx.spark, tracer)
    rng = np.random.default_rng([seed, 1])
    passes: list[dict] = []
    # a traced run needs an untraced and a traced warm pass
    min_warm = max(workload.min_warm_passes, 2 if trace else 1)
    t_start = time.perf_counter()
    while True:
        p = len(passes)
        # traced runs trace the cold pass, then every other warm pass, so
        # the untraced warm passes between them give the tracing overhead
        tracer.enabled = trace and p % 2 == 0
        loop.pass_no = p
        first = len(loop.ops)
        for name, kind, fn, after in workload.pass_ops(ctx, rng):
            loop.run(name, kind, fn, after)
        tracer.enabled = False
        mine = loop.ops[first:]
        passes.append({"pass": p, "traced": trace and p % 2 == 0,
                       "wall_s": sum(o.wall for o in mine), "ops": len(mine),
                       "op_s": [o.wall for o in mine]})
        if p >= min_warm and time.perf_counter() - t_start >= seconds:
            break
    jvm_pid = loop.probe.jvm_pid()
    exec_data = loop.probe.jobs_and_stages() if trace else None
    workload_detail = workload.detail()
    workload.close()
    for _ in range(SETUPS - 1):
        # stopping the session is not part of a set-up, nor is collecting
        # what it left behind, which would otherwise land in the next one
        ctx.spark.stop()
        ctx.spark._jvm.java.lang.System.gc()
        set_up()
    return setups, starts, passes, loop, exec_data, jvm_pid, env, workload_detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import metrics
    from harness import peak_rss_mb
    from workloads import make

    workload = make(args.workload)
    env = machine()
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    size_resources(env, work_dir)
    try:
        setups, starts, passes, loop, exec_data, jvm_pid, env, workload_detail = run(
            workload, args.seed, args.seconds, bool(args.trace), work_dir, env
        )
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)

    detail = metrics.detail(args.workload, env, setups, starts, passes, loop.ops, workload_detail)
    if args.trace:
        values, per_op = metrics.per_layer(loop, exec_data, starts, passes, env, workload_detail)
        loop.tracer.write(
            os.path.join(HERE, ".out", f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "env": env, "passes": passes,
             "ops": per_op, "metrics": values},
        )
        out = metrics.as_result(values, metrics.PER_LAYER_UNITS)
    else:
        out = metrics.as_result(metrics.end_to_end(setups, passes, loop.ops, rss),
                                metrics.END_TO_END_UNITS)
    failed = sum(not o.ok for o in loop.ops)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": len(loop.ops),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
