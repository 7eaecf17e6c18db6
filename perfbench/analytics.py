"""``analytics-mix``: a fixed slice of the declared query inventory.

One client runs the mix closed-loop through ``plans.queries()``: a cold
pass (plan build, then a first execution that fetches the result), an
untimed check of every fetched result against its DuckDB oracle from
the registry and an untimed warm-up pass, then steady passes that
re-execute the built plans to the ``noop`` sink in a seeded order.
Steady passes are whole passes, so every query weighs the same in each
run's latency distribution.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import random
import re
import time
from collections import Counter

from datagen import write_tables
from stats import median, tail
from tracing import job_shape

# A fixed slice of the 200-query inventory: one query from each of ten
# plans/part_* modules, spread over cost classes (steady 0.15-0.65 s at
# sf0.1: scan aggregates, a seven-table join, windows, a pandas kernel)
# and including plans whose build already starts a Spark job. Every one
# returns a non-empty result of at most a few thousand rows, so fetching
# it costs little more than discarding it. Queries whose plan build alone
# takes seconds are left out so that the cold pass fits the run budget.
MIX = (
    "q_offset_lag",             # part_a: per-partition aggregate
    "q_window_tumble",          # part_b: tumbling window; build job
    "q_tpch_q6",                # part_b_ext: filtered scan aggregate
    "q_stats_agg",              # part_b_ext2: statistical aggregates
    "q_media_meta",             # part_c: pandas kernel
    "q_offset_gaps",            # part_c2: window gap detection
    "q_tpch_q8",                # part_d2: seven-table join; build job
    "q_retention_cohorts",      # part_d3: cohort windows
    "q_kanonymity",             # part_e: grouping check
    "q_doc_freq_spectrum",      # part_h: document frequency spectrum
)

_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF|WindowPython")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _oracle_problems(name: str, s_cols: list[str], rows, duck,
                     sql: str) -> list[str]:
    """Same columns, same row multiset (floats at full precision)."""
    res = duck.execute(sql)
    d_cols = [c[0] for c in res.description]
    if sorted(s_cols) != sorted(d_cols):
        return [f"{name}: columns {s_cols} vs oracle {d_cols}"]
    s_idx = [s_cols.index(c) for c in sorted(s_cols)]
    d_idx = [d_cols.index(c) for c in sorted(d_cols)]
    spark_rows = Counter(tuple(_norm(r[i]) for i in s_idx) for r in rows)
    duck_rows = Counter(tuple(_norm(r[i]) for i in d_idx) for r in res.fetchall())
    if spark_rows != duck_rows:
        return [f"{name}: {sum(spark_rows.values())} rows differ from the "
                f"oracle's {sum(duck_rows.values())}; e.g. spark-only "
                f"{list((spark_rows - duck_rows).items())[:2]}"]
    return []


def run(spark, args, tracer, work: str) -> dict:
    import duckdb

    from kafka_elasticsearch_injector_spark import plans
    from kafka_elasticsearch_injector_spark.io import TABLES

    tables = os.path.join(work, "tables")
    write_tables(args.seed, tables)
    builders = plans.queries()
    oracles = plans.oracle_sql()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Cold pass: what a fresh process pays to serve each query once.
    built, results = {}, {}
    build_jobs = 0
    t0 = time.perf_counter()
    with tracer.span("mix.cold"):
        for name in MIX:
            if tracer.enabled:
                sc.setJobGroup(f"build:{name}", name)
            with tracer.span("plans.build"):
                built[name] = builders[name](spark, tables)
            if tracer.enabled:
                build_jobs += len(tracker.getJobIdsForGroup(f"build:{name}"))
            with tracer.span("exec.first_run"):
                results[name] = built[name].collect()
    cold_s = time.perf_counter() - t0

    # Untimed: the fetched results must equal the registry's oracles.
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{os.path.join(tables, t)}.parquet')")
    problems = []
    python_plan = {}
    for name in MIX:
        problems += _oracle_problems(name, built[name].columns, results[name],
                                     duck, oracles[name])
        plan = built[name]._jdf.queryExecution().executedPlan().toString()
        python_plan[name] = bool(_PYTHON_NODE.search(plan))
    duck.close()

    # One untimed warm-up pass (the JVM is still compiling: it runs ~25 %
    # slower than the next), then timed steady passes in seeded order:
    # whole passes, as many as the warm-up pass says fill the window
    # (rounded, at least one).
    rng = random.Random(args.seed)
    t0 = time.perf_counter()
    for name in MIX:
        noop(built[name])
    planned = max(1, round(args.seconds / (time.perf_counter() - t0)))
    latencies: list[float] = []
    by_class = {True: 0.0, False: 0.0}
    shapes = []
    t0 = time.perf_counter()
    for _ in range(planned):
        order = list(MIX)
        rng.shuffle(order)
        for name in order:
            group = f"run:{len(latencies)}"
            if tracer.enabled:
                sc.setJobGroup(group, name)
            t1 = time.perf_counter()
            with tracer.span("exec.steady_run"):
                noop(built[name])
            dt = time.perf_counter() - t1
            latencies.append(dt)
            by_class[python_plan[name]] += dt
            if tracer.enabled:
                shapes.append(job_shape(tracker,
                                        tracker.getJobIdsForGroup(group)))
    steady_s = time.perf_counter() - t0

    p_tail, tail_s = tail(latencies)
    e2e = {
        "cold_s": cold_s,
        "throughput_per_s": len(latencies) / steady_s,
        "latency_p50_ms": 1000 * median(latencies),
        "latency_tail_ms": 1000 * tail_s,
    }
    layers = {}
    if tracer.enabled:
        layers = {
            "plans.build_s": sum(tracer.durations("plans.build")),
            "plans.build_jobs": build_jobs,
            "exec.first_run_s": sum(tracer.durations("exec.first_run")),
            "exec.steady_run_ms": 1000 * median(
                tracer.durations("exec.steady_run")),
            "exec.jobs_per_query": median([s[0] for s in shapes]),
            "exec.stages_per_query": median([s[1] for s in shapes]),
            "exec.tasks_per_query": median([s[2] for s in shapes]),
            "exec.python_plans_s": by_class[True] / planned,
            "exec.jvm_plans_s": by_class[False] / planned,
            "mix.cold_self_s": tracer.self_seconds()["mix.cold"],
        }
    return {
        "e2e": e2e, "layers": layers,
        "attempted": len(MIX) + len(latencies),
        "failed": len(problems),
        "problems": problems,
        "detail": {"queries": len(MIX), "passes": planned,
                   "requests": len(latencies), "tail_percentile": p_tail,
                   "latencies_ms": [round(1000 * x, 1) for x in latencies],
                   "python_plan_queries": sum(python_plan.values())},
    }
