"""Run the benchmark over several seeds and summarise its spread.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/set1.json
    python3 perfbench/steadiness.py --summarise perfbench/results/set1.json perfbench/results/set2.json [--markdown]

For each workload and end-to-end metric the summary gives the median,
the quartiles (``statistics.quantiles(values, n=4)``) and the spread
(interquartile distance as a share of the median) next to the metric's
bound from BENCHMARK.json; with two sets it also gives the shift of the
second median against the first, signed so that positive is worse. The
end-to-end figures are read from each run's detail line, which a traced
run (``--trace 1``) also carries, so summarising an untraced set against
a traced one gives the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(workloads: list[str], seeds: list[int], trace: int) -> list[dict]:
    spec = _spec()
    runs = []
    for workload in workloads:
        for seed in seeds:
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", workload, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-2000:])
                raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
            run = {"workload": workload, "seed": seed,
                   "detail": json.loads(lines[-2]),
                   "result": json.loads(lines[-1])}
            runs.append(run)
            print(workload, seed, run["result"]["correct"],
                  {k: round(v["value"], 4)
                   for k, v in run["result"]["metrics"].items()}, flush=True)
    return runs


def summarise(sets: list[list[dict]]) -> list[dict]:
    spec = _spec()
    rows = []
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            row = {"workload": w["name"], "metric": m["name"],
                   "bound": m["bound"]}
            medians = []
            for i, runs in enumerate(sets, 1):
                vals = [r["detail"]["e2e"][m["name"]]
                        for r in runs if r["workload"] == w["name"]]
                if len(vals) < 2:
                    continue
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                row[f"set{i}"] = {"n": len(vals), "median": q2, "q1": q1,
                                  "q3": q3, "spread": (q3 - q1) / q2}
                medians.append(q2)
            if len(medians) == 2:
                sign = 1 if m["better"] == "lower" else -1
                row["shift"] = sign * (medians[1] - medians[0]) / medians[0]
            rows.append(row)
    return rows


def markdown(rows: list[dict]) -> str:
    """The summary as a table: one row per workload x metric."""
    n_sets = max(len([k for k in r if k.startswith("set")]) for r in rows)
    head = ["workload", "metric", "bound"]
    for i in range(1, n_sets + 1):
        head += [f"set {i} median", f"set {i} q1-q3", f"set {i} spread"]
    if n_sets == 2:
        head.append("shift")
    out = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    for r in rows:
        cells = [r["workload"], r["metric"], f"{r['bound']:.2f}"]
        for i in range(1, n_sets + 1):
            s = r.get(f"set{i}")
            cells += ([f"{s['median']:.4g}", f"{s['q1']:.4g}-{s['q3']:.4g}",
                       f"{100 * s['spread']:.1f}%"] if s else ["", "", ""])
        if n_sets == 2:
            cells.append(f"{100 * r['shift']:+.1f}%" if "shift" in r else "")
        out.append("| " + " | ".join(cells) + " |")
    return "\n".join(out)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=None,
                   help="comma-separated; default all in BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--summarise", nargs="+", metavar="SET_JSON")
    p.add_argument("--markdown", action="store_true")
    args = p.parse_args()
    if args.summarise:
        sets = []
        for path in args.summarise:
            with open(path) as f:
                sets.append(json.load(f))
        rows = summarise(sets)
        if args.markdown:
            print(markdown(rows))
        else:
            for row in rows:
                print(json.dumps(row))
        return
    workloads = (args.workloads.split(",") if args.workloads else
                 [w["name"] for w in _spec()["workloads"]])
    runs = collect(workloads, _seeds(args.seeds), args.trace)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    for row in summarise([runs]):
        print(json.dumps(row))


if __name__ == "__main__":
    main()
