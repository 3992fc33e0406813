#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes a record of the runs.

    python3 perfbench/record.py --out perfbench/records/<name>.json \
        [--workloads sort_mix,...] [--seeds 1,2,...] [--seconds S]

Runs go seed by seed, each seed over every workload, so a slow spell of the
host lands on all workloads alike. Each run is recorded with its seed,
nproc, the load average at its start and end, and the time a fixed
single-threaded loop took just before it (`host_probe_s`): a shared host
can slow down without this machine's load average moving. The record ends
with each end-to-end metric's median and the spread of its values,
(Q3 - Q1) / median, with the quartiles of statistics.quantiles(values,
n=4). Failed operations are listed with their reasons, and the printed
memory figures, which are not gated, are kept per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def host_probe():
    t0 = time.perf_counter()
    sum(i * i for i in range(3_000_000))
    return time.perf_counter() - t0


def summarize(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and r["result"]]
        out[w] = {"runs": len(rs), "correct": all(r["result"]["correct"] for r in rs)}
        for m in BENCH["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            out[w][m["name"]] = {"median": med, "spread": (q3 - q1) / med,
                                 "bound": m["bound"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    args = ap.parse_args()
    runs = []
    for seed in (int(s) for s in args.seeds.split(",")):
        for w in args.workloads.split(","):
            probe = host_probe()
            load0, t0 = os.getloadavg(), time.time()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(args.seconds),
                                "--trace", "0"], capture_output=True, text=True,
                               cwd=HERE.parent, stdin=subprocess.DEVNULL)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
            runs.append({"workload": w, "seed": seed, "nproc": os.cpu_count(),
                         "host_probe_s": probe,
                         "load_start": load0, "load_end": os.getloadavg(),
                         "elapsed_s": time.time() - t0, "exit_code": p.returncode,
                         "failed_ops": [x for x in lines if x.startswith("FAILED ")],
                         "memory_mb": {x.split()[0]: float(x.split()[1]) for x in lines
                                       if x.startswith("peak_")},
                         "result": result})
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s, host probe {probe:.3f} s, "
                  f"correct {result and result['correct']}", flush=True)
    summary = summarize(runs)
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps({"summary": summary, "runs": runs}, indent=1) + "\n")
    for w, s in summary.items():
        print(w, json.dumps({k: v if not isinstance(v, dict) else
                             {"median": round(v["median"], 4), "spread": round(v["spread"], 4)}
                             for k, v in s.items()}))


if __name__ == "__main__":
    main()
