#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness from
source (sbt, offline) the first time, stages the seeded inputs, runs the
workload in one JVM, checks every operation's output, prints each metric
with its unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones of
perfbench/METRICS.md, and the run's spans and metrics are also written to
.bench_build/perfbench/<workload>-<seed>-trace/layers.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["sort_mix", "query_mix"]
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "rows_per_s": "rows/s", "cpu_s": "s"}
RUN_LIMIT_S = 170.0      # a run ends, one way or another, well inside 180 s
JVM_HEAP = "3g"  # the ceiling only: the heap grows with demand, so the resident set follows it
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, str(HERE))
import layers  # noqa: E402


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*.scala"))
    return files


def build(deadline):
    """Compiles the engine with the harness unless the sources are unchanged
    since the last build in this checkout; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, classpath = WORK / "build.stamp", WORK / "classpath"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classpath.exists():
        return classpath.read_text()
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx2g")
    with open(WORK / "build.log", "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=log, stdin=subprocess.DEVNULL, text=True,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
        log.write(p.stdout)
    cp = [x for x in p.stdout.splitlines() if "scala-2.13" in x and os.pathsep in x]
    if p.returncode != 0 or not cp:
        fail(f"build failed, see {WORK / 'build.log'}", 3)
    classpath.write_text(cp[-1].strip())
    stamp.write_text(h.hexdigest())
    return classpath.read_text()


def run_jvm(args, classpath, run_dir, sf_dir, deadline):
    cpus = os.cpu_count() or 1
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", str(run_dir / "out"), "--cpus", str(cpus),
              "--launched-ms", str(int(time.time() * 1000)),
              "--limits", str(HERE / "limits.json")])
    if sf_dir:
        cmd += ["--sf", str(sf_dir)]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
    result = run_dir / "out" / "result.json"
    return json.loads(result.read_text()) if result.exists() else None


def oracle_verdicts(sf_dir, verify_dir, names, deadline):
    """Runs tools/compare.py (the DuckDB oracle check) over the cold pass's
    outputs; returns {query: None if it matches, else the reason}."""
    verdict = {n: "no verdict from the oracle check" for n in names}
    try:
        out = subprocess.run([sys.executable, str(ROOT / "tools" / "compare.py"),
                              str(sf_dir), str(verify_dir)],
                             capture_output=True, text=True, stdin=subprocess.DEVNULL,
                             timeout=max(1.0, deadline - time.time())).stdout
    except subprocess.TimeoutExpired:
        return verdict
    for line in out.splitlines():
        name, sep, rest = line.partition(": ")
        if sep and name in verdict:
            verdict[name] = None if rest.startswith("OK") else rest.strip()
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no engine sources under {ROOT / 'src'}; run from a full checkout", 2)
    if args.workload == "query_mix" and not (ROOT / "tools" / "compare.py").exists():
        fail("tools/compare.py (the DuckDB oracle check) is missing", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH", 2)

    classpath = build(time.time() + 850.0)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = WORK / f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        measure(args, classpath, run_dir, deadline)
    finally:
        for bulky in ("sf", "tmp", "out/verify", "out/spark-local", "out/warehouse"):
            shutil.rmtree(run_dir / bulky, ignore_errors=True)


def measure(args, classpath, run_dir, deadline):
    stage_s, sf_dir = 0.0, None
    if args.workload == "query_mix":
        sf_dir = run_dir / "sf"
        t0 = time.perf_counter()
        subprocess.run([sys.executable, str(HERE / "gen_tables.py"), str(sf_dir),
                        str(args.seed)], check=True, stdin=subprocess.DEVNULL)
        stage_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    result = run_jvm(args, classpath, run_dir, sf_dir, deadline)
    jvm_s = time.perf_counter() - t0
    metric_names = layers.PER_LAYER if args.trace else list(END_TO_END_UNITS)
    if result is None:
        # the JVM hit the run limit or died: every operation it started failed
        started = 0
        progress = run_dir / "out" / "progress.jsonl"
        if progress.exists():
            started = len(progress.read_text().splitlines())
        print(f"perfbench: the JVM did not finish, see {run_dir / 'jvm.log'}",
              file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(1, started + 1),
                          "failed": max(1, started + 1),
                          "metrics": {k: {"value": 0.0, "unit": unit(k, args.trace)}
                                      for k in metric_names}}))
        return

    t0 = time.perf_counter()
    if args.workload == "query_mix":
        ops = result["passes"][0]["ops"]  # the cold pass wrote its results out
        verdict = oracle_verdicts(sf_dir, run_dir / "out" / "verify",
                                  [o["name"] for o in ops], deadline)
        for o in ops:
            if o["ok"] and verdict[o["name"]]:
                o.update(ok=False, reason=f"oracle: {verdict[o['name']]}")

    oracle_s = time.perf_counter() - t0
    all_ops = [o for p in result["passes"] for o in p["ops"]] + [
        {"name": f"kernel probe {pr['shape']}", "ok": pr["sorted"],
         "reason": "" if pr["sorted"] else "the kernel's output is not the sorted input"}
        for pr in result["probe"]]
    failed = [o for o in all_ops if not o["ok"]]
    e2e, extra = layers.end_to_end(result, stage_s)
    if args.trace:
        trace = json.loads((run_dir / "out" / "trace.json").read_text())
        metrics = layers.per_layer(result, trace)
        (run_dir / "layers.json").write_text(json.dumps(
            {"metrics": metrics, "spans": trace["spans"],
             "self_ms": layers.self_times(trace["spans"])}, indent=1))
    else:
        metrics = e2e

    print(f"workload {args.workload}  seed {args.seed}  nproc {result['cpus']}  "
          f"load {os.getloadavg()[0]:.2f}")
    timed = sum(p["wall_s"] for p in result["passes"])
    checks = sum(o["check_s"] for p in result["passes"] for o in p["ops"])
    print(f"time spent: staging {stage_s:.1f} s, JVM {jvm_s:.1f} s (set-up "
          f"{sum(result['setup_reps_s']):.1f} s, timed {timed:.1f} s, checks {checks:.1f} s), "
          f"oracle {oracle_s:.1f} s")
    for k, v in metrics.items():
        note = ""
        if k == "op_tail_s":
            note = f"  (p{extra['tail_pct']:.1f} of n={extra['tail_n']} operations)"
        print(f"{k:40s} {v:14.6g} {unit(k, args.trace)}{note}")
    print(f"{'fail_frac':40s} {extra['fail_frac']:14.6g} ratio")
    if not args.trace:
        # memory is printed, not gated: see perfbench/METRICS.md
        for k in ("peak_rss_mb", "peak_heap_mb"):
            print(f"{k:40s} {result[k]:14.6g} MB")
    for o in failed:
        print(f"FAILED {o['name']}: {o['reason']}")
    print(json.dumps({
        "correct": not failed, "attempted": len(all_ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit(k, args.trace)}
                    for k, v in metrics.items()}}))


def unit(name, trace):
    return layers.unit_of(name) if trace else END_TO_END_UNITS[name]


if __name__ == "__main__":
    main()
