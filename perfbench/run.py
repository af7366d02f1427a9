"""sparkforge benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``etl_daily``: day-1 full load and day-2 incremental load of a seeded
  dirty Synthea landing through ``pipeline.run_batch_pipeline``;
- ``query_mix``: the dashboard read path plus two curation operators
  over seeded sf0.1 tables.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a traced
pass (spans, job groups, Spark REST stage metrics) and prints the
per-layer metrics. The last stdout line is the result JSON; the line
before it records the host and inputs. Inputs are generated afresh on
every run; they, the spans and a results log go to ``.perfbench_work/``
under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("etl_daily", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "sources.repair_csv.s": "s",
    "sources.repair_csv.jobs": "count",
    "sources.load_schema.s": "s",
    "operators.clean.clean_pipeline.s": "s",
    "operators.clean.clean_pipeline.jobs": "count",
    "pipeline.stage_table.self_s": "s",
    "pipeline.stage_table.jobs": "count",
    "pipeline.staging_bytes_per_input_byte": "ratio",
    "operators.marts.build_patient_mart.s": "s",
    "operators.marts.build_patient_mart.jobs": "count",
    "operators.scd2.write_swap.s": "s",
    "operators.scd2.write_swap.jobs": "count",
    "operators.scd2.write_swap.bytes": "bytes",
    "pipeline.unattributed_s": "s",
    "etl.traced_wall_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "floor.canary_s": "s",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.input_bytes": "bytes",
    "executor.cpu_per_run": "ratio",
    "python_udf.s": "s",
    "session.cold_setup_s": "s",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.self_s": "s",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def host_env() -> None:
    """Fit the engine's session to this host through its env settings
    (an explicit value in the environment wins) and keep every scratch
    file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    # a quarter of the host's memory, at most 8 GiB, for the driver heap
    mem_mb = min(8192, max(1024, _mem_total_mb() // 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{mem_mb}m")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def session_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    return conf


def setup(traced: bool):
    """Session set-up as a new application pays it: import the engine,
    build the session (which launches the JVM) and run the first query.
    Returns the session and the wall. Done once per run: a second cold
    set-up needs a second JVM, and on a busy 4-core host three of them
    took 36-45 s of a run."""
    t0 = time.perf_counter()
    from synthea_etl_spark.session import get_session

    spark = get_session("perfbench", extra_conf=session_conf(traced))
    spark.range(1).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, wall


def shutdown() -> None:
    """Stop the active SparkContext, if any, and wait for the gateway JVM
    to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="sparkforge benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("synthea_etl_spark/pipeline.py", "synthea_etl_spark/session.py", "tools/selfcheck.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    traced = bool(args.trace)
    host_env()
    ticks0 = cpu_ticks()
    # no input outlives its run: each run generates its own from the seed
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)

    try:
        spark, setup_s = setup(traced)
        from perfbench import etl, queries, tracing as trace

        canary = trace.Canary(spark)
        if args.workload == "etl_daily":
            res = etl.run(spark, WORK, args.seed, traced, canary)
        else:
            res = queries.run(spark, ROOT, WORK, args.seed, traced, canary)
        rss = trace.peak_rss_mb(trace.jvm_pid(spark))
    finally:
        shutdown()

    import pyspark

    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _mem_total_mb(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_graft_driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "setup_s": setup_s,
        "floor.canary_s": canary.median(),
        "canary_walls_s": canary.walls,
        # share of the CPUs' time a hypervisor gave to other guests
        "steal_share": ticks[7] / sum(ticks[:8]) if len(ticks) > 7 else None,
        # the pass's wall; pass_cpu_s is the bounded figure
        "pass_s": res["pass_s"],
        "driver.peak_rss_mb": rss,
        **res["info"],
    }
    if traced:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(res["per_layer"])
        layer["floor.canary_s"] = canary.median()
        layer["session.cold_setup_s"] = setup_s
        layer["driver.peak_rss_mb"] = rss
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "pass_cpu_s": res["pass_cpu_s"]}
        # a pass whose timed operations raised has no comparable wall
        metrics = {
            k: {"value": float(values[k]), "unit": u}
            for k, u in END_TO_END.items()
            if values[k] is not None
        }
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"info": info, "result": result}) + "\n")
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
