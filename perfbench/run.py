"""Benchmark entrypoint: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run makes three fresh processes one
after another, each with a fresh SparkSession: two set-up probes, then
the workload itself. ``setup_s`` is the median of the three bring-ups;
every other metric comes from the workload process. Each process gets
fresh checkpoint, source and ``SPARK_LOCAL_DIRS`` directories under
``.perfbench/`` in the repository, and the next one starts only after
every process of the previous one, its JVM included, has exited.

The last line of stdout is the result object: ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` a separate traced
run's per-layer metrics (0 for a layer the workload does not use). The
line before it carries the run's details: load average at start, each
set-up sample, output-check problems and, for a traced run, the
end-to-end figures measured with tracing on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170
PROBES = 2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(pgid: int) -> bool:
    """Whether a process of the group is still running. Zombies count as
    ended: they have exited and only wait for the reaper."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Wait until no process of the group is left; kill what lingers."""
    deadline = time.monotonic() + timeout
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            _kill_group(pgid)
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _child(argv: list[str], env: dict, cwd: str, log_path: str,
           deadline: float, probe: bool) -> dict:
    """Run worker.py in its own process group and return the JSON object
    it prints as its last act. A probe is killed as soon as it has
    reported its set-up time; a workload has stopped its stream, servers
    and session by then, so what is left of its group (the JVM winding
    down) is killed once the Python process has exited. Either way the
    whole group is gone before this returns."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv,
             *(["--probe"] if probe else [])],
            cwd=cwd, stdout=subprocess.PIPE, stderr=log,
            env={**env, "PERFBENCH_T0": repr(time.monotonic())},
            start_new_session=True)
        watchdog = threading.Timer(max(1.0, deadline - time.monotonic()),
                                   _kill_group, (proc.pid,))
        watchdog.start()
        try:
            line = b""
            while line[:1] != b"{":
                line = proc.stdout.readline()
                if not line:
                    break
            if not probe:
                proc.wait()
        finally:
            watchdog.cancel()
            _kill_group(proc.pid)
            proc.stdout.close()
            proc.wait()
            _wait_group_gone(proc.pid)
    if not line or (not probe and proc.returncode != 0):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{argv[0]} failed (exit {proc.returncode})")
    return json.loads(line)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isfile(os.path.join(
            ROOT, "kafka_elasticsearch_injector_spark", "__main__.py")):
        _fail("run from a checkout of the repository: the service package "
              "kafka_elasticsearch_injector_spark is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")

    run_dir = os.path.join(ROOT, ".perfbench",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    load1 = os.getloadavg()[0]
    common = ["--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace)]
    try:
        setups, walls = [], []
        for i in range(PROBES + 1):
            t0 = time.monotonic()
            work = os.path.join(run_dir, f"p{i}")
            os.makedirs(work)
            res = _child(
                [args.workload, *common, "--workdir", work],
                {**env, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")},
                work, os.path.join(run_dir, "log.txt"), deadline,
                probe=i < PROBES)
            setups.append(res["setup_s"])
            walls.append(time.monotonic() - t0)
    except RuntimeError as ex:
        _fail(str(ex))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {"setup_s": statistics.median(setups), **res["e2e"]}
    if args.trace:
        wanted, measured = spec["per_layer"], res["layers"]
    else:
        wanted, measured = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "load1_at_start": load1,
                      "setup_samples_s": setups, "process_wall_s": walls,
                      "e2e": e2e,
                      "problems": res["problems"], **res["detail"]}))
    print(json.dumps({"correct": not res["problems"] and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
