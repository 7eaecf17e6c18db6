"""One benchmark process: a set-up probe or one workload.

``run.py`` starts this file once per process and reads the JSON object
it prints last. ``PERFBENCH_T0`` carries the launcher's monotonic clock
at process start (CLOCK_MONOTONIC is system-wide on Linux), so the
reported set-up time covers interpreter start, imports and the
SparkSession bring-up.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from tracing import Tracer

# Each workload's session is the one its entrypoint builds: the service
# asks for a streaming-mode session, the query inventory for batch mode.
SESSIONS = {
    "ingest-avro-drain": ("kafka-elasticsearch-injector", "streaming"),
    "analytics-mix": ("perfbench-analytics", "batch"),
}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("workload", choices=sorted(SESSIONS))
    p.add_argument("--probe", action="store_true",
                   help="report the set-up time once the session is live")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--workdir", required=True)
    args = p.parse_args()

    from kafka_elasticsearch_injector_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    app, mode = SESSIONS[args.workload]
    with tracer.span("session.get_spark"):
        spark = get_spark(app, mode=mode)
    setup_s = time.monotonic() - float(os.environ["PERFBENCH_T0"])
    if args.probe:
        print(json.dumps({"setup_s": setup_s}), flush=True)
        spark.stop()
        return
    spark.sparkContext.setLogLevel("ERROR")
    if args.workload == "analytics-mix":
        import analytics as workload
    else:
        import ingest as workload
    try:
        result = workload.run(spark, args, tracer, args.workdir)
    finally:
        spark.stop()
    if tracer.enabled:
        result["layers"]["session.start_s"] = \
            tracer.durations("session.get_spark")[0]
    print(json.dumps({"setup_s": setup_s, **result}), flush=True)


if __name__ == "__main__":
    main()
