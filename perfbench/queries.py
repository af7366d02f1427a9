"""Workload ``query_mix``: the dashboard read path plus two curation operators.

The mix is 10 of the reference's dashboard and relational queries
(short, read-only, no eager jobs, no Python workers) and two curation
operators that do what those never do: ``q288`` runs store lifecycle
jobs while its DataFrame is built, and ``q171`` runs an Arrow batch in
Python workers. All read seeded sf0.1 tables from ``gen_tables``.

One closed-loop client collects every query once, in a fixed order, in
a fresh session (as a dashboard refresh in a new application would).
Each result is hashed with ``tools/selfcheck.table_hash`` and compared
with the hash of its ``QuerySpec.oracle`` run by DuckDB on the same
files; the hashing is outside each query's latency.
"""

from __future__ import annotations

import importlib.util
import os
import time
from statistics import median

from perfbench import gen_tables, tracing as trace

SF = 0.1
DASHBOARD = [
    "q18_groupby_count",
    "q19_topk",
    "q20_date_histogram",
    "q57_sql_dashboard",
    "q50_events_hourly",
    "q55_rollup",
    "q21_window_rank",
    "q11_dedup_by_key",
    "q16_join_chain_revenue",
    "q63_tpch_q6",
]
CURATION = ["q288_cms_frequency_audit", "q171_random_projection"]
MIX = DASHBOARD + CURATION
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _selfcheck(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_selfcheck", os.path.join(root, "tools", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_hashes(table_hash, sf_dir: str, specs: dict) -> dict[str, str]:
    """DuckDB answer hash per query on the run's tables."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q in MIX:
        rel = con.sql(specs[q].oracle)
        out[q] = table_hash(list(rel.columns), rel.fetchall())
    return out


def run(spark, root: str, work: str, seed: int, traced: bool, canary: trace.Canary) -> dict:
    from synthea_etl_spark.plans import all_queries

    specs = all_queries()
    phase = {"start": time.perf_counter()}
    sf_dir = os.path.join(work, "data", f"sf{SF}-{seed}")
    table_rows = gen_tables.write_tables(sf_dir, SF, seed)
    phase["prepare"] = time.perf_counter()
    table_hash = _selfcheck(root).table_hash
    oracles = oracle_hashes(table_hash, sf_dir, specs)
    phase["oracle"] = time.perf_counter()
    counts = {"attempted": 0, "failed": 0}
    mismatches: list[str] = []
    errors: list[str] = []
    query_s: dict[str, list[float]] = {}
    query_cpu_s: dict[str, list[float]] = {}
    pid = trace.jvm_pid(spark)

    def one_pass(tracer: trace.Tracer | None = None, check: bool = False) -> float:
        """Collect every query once; return the summed latency. With
        ``check``, hash each result against its oracle after its latency
        is taken."""
        total = 0.0
        for q in MIX:
            if tracer is None:
                canary.tick()
            counts["attempted"] += 1
            c0 = trace.tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = specs[q].fn(spark, sf_dir)
                    result = df.collect()
                else:
                    df, result = _traced_query(tracer, spark, specs[q].fn, q, sf_dir)
            except Exception as e:  # counted; the pass then has no pass figures
                counts["failed"] += 1
                errors.append(f"{q}: {trace.error_name(e)}")
                result = None
            lat = time.perf_counter() - t0
            query_cpu_s.setdefault(q, []).append(trace.tree_cpu_s(pid) - c0)
            total += lat
            query_s.setdefault(q, []).append(lat)
            if check and result is not None:
                got = table_hash(df.columns, [tuple(r) for r in result])
                if got != oracles[q]:
                    counts["failed"] += 1
                    mismatches.append(f"{q}: hash {got} != oracle {oracles[q]}")
        return total

    per_layer: dict[str, float] = {}
    pass_s = pass_cpu_s = None
    if not traced:
        pass_s = one_pass(check=True)
        pass_cpu_s = sum(v[0] for v in query_cpu_s.values())
        if errors:
            pass_s = pass_cpu_s = None
    else:
        # per-layer metrics from a traced pass in the same cold state as
        # an untraced run's
        tracer = trace.Tracer(spark, "pbt")
        py0 = trace.descendants_cpu_s(pid)
        traced_wall = one_pass(tracer, check=True)
        per_layer = _layer_metrics(spark, tracer, trace.descendants_cpu_s(pid) - py0)
        # warm untraced, traced, untraced: the mean of the untraced pair
        # cancels the JVM's continued warming
        untraced_a = one_pass()
        warm_traced_wall = one_pass(trace.Tracer(spark, "pbw"))
        untraced_wall = (untraced_a + one_pass()) / 2
        per_layer["trace.overhead_s"] = warm_traced_wall - untraced_wall
        tracer.dump(
            os.path.join(work, "trace", "query_mix.json"),
            {
                "traced_wall_s": traced_wall,
                "warm_untraced_wall_s": untraced_wall,
                "warm_traced_wall_s": warm_traced_wall,
                "per_layer": per_layer,
            },
        )
    first = [v[0] for v in query_s.values()]
    return {
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "correct": not mismatches,
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s,
        "per_layer": per_layer,
        "info": {
            "sf": SF,
            "table_rows": table_rows,
            "queries": MIX,
            "query_p50_s": median(first),
            "phase_s": {k: round(phase[k] - phase[p], 3) for p, k in zip(phase, list(phase)[1:])},
            "query_s": query_s,
            "query_cpu_s": query_cpu_s,
            "errors": errors,
            "mismatches": mismatches,
        },
    }


def _traced_query(tracer: trace.Tracer, spark, fn, name: str, sf_dir: str):
    with tracer.span("query", query=name):
        with tracer.span("plans.build"):
            df = fn(spark, sf_dir)
        with tracer.span("catalyst") as c:
            c.update(trace.catalyst_ms(df))
        with tracer.span("action"):
            result = df.collect()
    return df, result


def _layer_metrics(spark, tracer, py_s) -> dict[str, float]:
    agg = tracer.by_name()
    out: dict[str, float] = {
        "plans.build_s": agg["plans.build"]["s"],
        "plans.build_jobs": agg["plans.build"]["jobs"],
        "action.s": agg["action"]["s"],
    }
    for phase in ("analysis", "optimization", "planning"):
        key = f"catalyst.{phase}_ms"
        out[key] = sum(s.get(key, 0.0) for s in tracer.spans)
    action_groups = {s["group"] for s in tracer.spans if s["name"] == "action"}
    act = trace.group_stats(spark, action_groups)
    out["action.jobs"], out["action.stages"], out["action.tasks"] = act["jobs"], act["stages"], act["tasks"]
    ex = trace.group_stats(spark, {s["group"] for s in tracer.spans})
    out.update({k: v for k, v in ex.items() if k.startswith("executor.")})
    out["executor.cpu_per_run"] = (
        ex["executor.cpu_s"] / ex["executor.run_s"] if ex["executor.run_s"] else 0.0
    )
    out["python_udf.s"] = py_s
    out["trace.self_s"] = tracer.self_s
    return out
