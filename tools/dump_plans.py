#!/usr/bin/env python
"""Dump .explain("formatted") for every declared query to a directory.

Usage: python tools/dump_plans.py OUTDIR [suffix] [only,names]

Writes OUTDIR/<query>_<suffix>.txt (suffix default "before").  Plans are
analyzed+optimized but NOT executed, so this is driver-only work (cheap).
Expression ids (`#123`) and `plan_id=123` are masked in the written
files, so dumps from two commits diff as text.
A summary line per query with Exchange / join-node / Python-eval /
Generate (explode) counts goes to stdout for quick grep-based triage
(guide §1/§7.2).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

NODES = [
    "Exchange", "BroadcastExchange", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "BatchEvalPython", "ArrowEvalPython", "MapInArrow", "FlatMapGroupsInPandas",
    "Window", "Sort ", "Generate",
]

# per-session counters: expression ids and subquery/reuse plan ids
MASK = re.compile(r"(#|plan_id=)\d+")


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    os.makedirs(outdir, exist_ok=True)

    from kafka_elasticsearch_injector_spark.plans import queries
    from kafka_elasticsearch_injector_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in sorted(queries().items()):
        if only and name not in only:
            continue
        df = fn(spark, SF_DIR)
        jvm = spark.sparkContext._jvm
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(MASK.sub(r"\1N", plan))
        counts = {n: len(re.findall(re.escape(n), plan)) for n in NODES}
        short = " ".join(f"{n.strip()}={c}" for n, c in counts.items() if c)
        print(f"{name}: {short}", flush=True)


if __name__ == "__main__":
    main()
