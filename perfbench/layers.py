"""Turns what one benchmark run recorded into its metrics.

`end_to_end` reads the untraced passes of `result.json`; `per_layer` reads
the traced pass and the raw listener records of `trace.json`. Both are pure
functions of those two files, so `perfbench/tests` can check them on
hand-made records.
"""
import statistics

SHAPES = ["random", "presorted", "reverse", "few_distinct", "organ_pipe"]
FAMILIES = ["sort", "relational", "dedup", "ann", "text", "sketch", "graph", "stream",
            "table"]
MB = float(1 << 20)

PER_LAYER = (
    [f"kernel.compares_per_row.{s}" for s in SHAPES]
    + [f"kernel.ns_per_row.{s}" for s in SHAPES]
    + ["hsexec.spill_runs", "hsexec.spill_bytes", "hsexec.task_p50_ms",
       "hsexec.task_max_ms",
       "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
       "shuffle.spill_bytes", "shuffle.partition_rows_max_over_mean",
       "build.ms", "build.jobs",
       "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
       "codegen.compiles", "codegen.compile_ms",
       "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_idle_ms",
       "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.wait_ms", "exec.peak_mem_mb",
       "mem.peak_rss_mb", "mem.peak_heap_mb"]
    + [f"family.{f}.wall_s" for f in FAMILIES]
    + ["stream.batches", "stream.batch_ms", "stream.state_rows",
       "io.read_bytes", "io.write_bytes", "io.write_records",
       "span.execute_self_ms", "span.check_ms",
       "qmix.cold_warm_gap_s", "qmix.gap_codegen_build_s",
       "trace.overhead_frac", "trace.dropped_events"])

def unit_of(name):
    if name.startswith("kernel.compares"):
        return "compares/row"
    if name.startswith("kernel.ns"):
        return "ns/row"
    for suffix, unit in (("_bytes", "bytes"), ("ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_over_mean", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """The latency at the highest percentile that still has at least ten
    operations beyond it, with that percentile and the sample count. Below
    21 samples no percentile at or above the median has ten beyond it, and
    the maximum (percentile 100) is given instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return (xs[-1] if xs else 0.0), 100.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def self_times(spans):
    """Each span's own time: its duration minus the part covered by its
    children (their union, clipped to the span)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        covered = union_ms([(max(lo, c["startMs"]), min(hi, c["endMs"]))
                            for c in kids.get(s["id"], [])], lo, hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] when given."""
    ivs = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                 for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def measured(result):
    return [p for p in result["passes"] if p["kind"] == "measure"]


def end_to_end(result, stage_s):
    """The user-visible figures of the untraced passes."""
    passes = measured(result)
    walls = [o["wall_s"] for p in passes for o in p["ops"]]
    attempted = len(walls)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    wall = median([p["wall_s"] for p in passes])
    t, pct, n = tail(walls)
    return {
        "setup_s": stage_s + result["jvm_s"] + median(result["setup_reps_s"]),
        "wall_s": wall,
        "op_p50_s": median(walls),
        "op_tail_s": t,
        "rows_per_s": result["rows"] / wall if wall > 0 else 0.0,
        "cpu_s": median([p["cpu_s"] for p in passes]),
    }, {"tail_pct": pct, "tail_n": n,
        "fail_frac": failed / attempted if attempted else 1.0}


def _by_id(items, key="id"):
    return {x[key]: x for x in items}


def per_layer(result, trace):
    """The per-layer metrics of the traced pass; see perfbench/METRICS.md."""
    m = {k: 0.0 for k in PER_LAYER}
    passes = {p["kind"]: p for p in result["passes"]}
    tp = passes["traced"]
    spans = trace["spans"]
    span = _by_id(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def under(root_id):
        stack, out = [root_id], []
        while stack:
            for c in children.get(stack.pop(), []):
                out.append(c)
                stack.append(c["id"])
        return out

    def named(root_id, name):
        return [s for s in under(root_id) if s["name"] == name]

    selfs = self_times(spans)
    groups = {o["group"]: o for o in tp["ops"]}
    jobs = [j for j in trace["jobs"] if j["group"] in groups and j["phase"] == "run"]
    stage_job = {st: j for j in jobs for st in j["stages"]}
    cols = trace["task_cols"]
    tasks = [dict(zip(cols, t)) for t in trace["tasks"]]
    tasks = [t for t in tasks if t["stage"] in stage_job]
    stages = [s for s in trace["stages"] if s["id"] in stage_job]

    for pr in result.get("probe", []):
        m[f"kernel.compares_per_row.{pr['shape']}"] = pr["compares_per_row"]
        m[f"kernel.ns_per_row.{pr['shape']}"] = pr["ns_per_row"]

    sp = tp.get("sort_plans", [])
    m["hsexec.spill_runs"] = sum(s["spillRuns"] for s in sp)
    m["hsexec.spill_bytes"] = sum(s["spillBytes"] for s in sp)
    hs_groups = {g for g, o in groups.items() if o["family"] == "hybrid_sort"}
    hs_tasks = [t["dur_ms"] for t in tasks
                if stage_job[t["stage"]]["group"] in hs_groups and t["sh_read_recs"] > 0]
    m["hsexec.task_p50_ms"] = median(hs_tasks)
    m["hsexec.task_max_ms"] = max(hs_tasks, default=0.0)

    m["shuffle.write_bytes"] = sum(t["sh_write"] for t in tasks)
    m["shuffle.read_bytes"] = sum(t["sh_read"] for t in tasks)
    m["shuffle.fetch_wait_ms"] = sum(t["fetch_wait_ms"] for t in tasks)
    m["shuffle.spill_bytes"] = sum(t["spill_disk"] for t in tasks)
    per_stage = {}
    for t in tasks:
        per_stage.setdefault(t["stage"], []).append(t["sh_read_recs"])
    skew = [max(r) / (sum(r) / len(r)) for r in per_stage.values() if sum(r) >= 1000]
    m["shuffle.partition_rows_max_over_mean"] = max(skew, default=0.0)

    builds = named(tp["span"], "build")
    m["build.ms"] = sum(s["endMs"] - s["startMs"] for s in builds)
    m["build.jobs"] = sum(1 for j in jobs for b in builds
                          if b["startMs"] <= j["startMs"] <= b["endMs"])

    runs = named(tp["span"], "run")
    phase_metric = {"analysis": "plan.analysis_ms", "optimization": "plan.optimizer_ms",
                    "planning": "plan.planning_ms"}
    for p in trace["plans"]:
        for name, start, end in p["phases"]:
            if name in phase_metric and any(r["startMs"] <= start <= r["endMs"] for r in runs):
                m[phase_metric[name]] += end - start

    m["codegen.compiles"] = tp["compiles"]
    m["codegen.compile_ms"] = tp["compile_ms"]

    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = len(tasks)
    for r in runs:
        op = span[r["parent"]]
        mine = [(j["startMs"], j["endMs"]) for j in jobs
                if groups[j["group"]]["name"] == op["name"]]
        m["sched.driver_idle_ms"] += (r["endMs"] - r["startMs"]) - union_ms(
            mine, r["startMs"], r["endMs"])

    m["exec.run_ms"] = sum(t["run_ms"] for t in tasks)
    m["exec.cpu_ms"] = sum(t["cpu_ns"] for t in tasks) / 1e6
    m["exec.gc_ms"] = sum(t["gc_ms"] for t in tasks)
    m["exec.wait_ms"] = m["exec.run_ms"] - m["exec.cpu_ms"]
    m["exec.peak_mem_mb"] = max((t["peak_mem"] for t in tasks), default=0) / MB
    m["mem.peak_rss_mb"] = result["peak_rss_mb"]
    m["mem.peak_heap_mb"] = result["peak_heap_mb"]

    if result["workload"] == "query_mix":
        for o in tp["ops"]:
            m[f"family.{o['family']}.wall_s"] += o["wall_s"]

    prog = trace["stream"]
    m["stream.batches"] = len(prog)
    m["stream.batch_ms"] = median([p["durMs"] for p in prog])
    last = {}
    for p in prog:
        last[p["query"]] = p["stateRows"]
    m["stream.state_rows"] = sum(last.values())

    m["io.read_bytes"] = sum(t["in_bytes"] for t in tasks)
    m["io.write_bytes"] = sum(t["out_bytes"] for t in tasks)
    m["io.write_records"] = sum(t["out_recs"] for t in tasks)

    m["span.execute_self_ms"] = sum(selfs[s["id"]] for s in named(tp["span"], "execute"))
    m["span.check_ms"] = sum(s["endMs"] - s["startMs"] for s in named(tp["span"], "check"))

    reference = median([p["wall_s"] for p in measured(result)])
    if "warm" in passes:  # query_mix: its measured pass is the cold one
        cold, warm = measured(result)[0], passes["warm"]
        reference = warm["wall_s"]

        def build_ms(p):
            return sum(s["endMs"] - s["startMs"] for s in named(p["span"], "build"))
        m["qmix.cold_warm_gap_s"] = cold["wall_s"] - warm["wall_s"]
        m["qmix.gap_codegen_build_s"] = (
            cold["compile_ms"] - warm["compile_ms"] + build_ms(cold) - build_ms(warm)) / 1e3
    m["trace.overhead_frac"] = tp["wall_s"] / reference - 1.0 if reference > 0 else 0.0
    m["trace.dropped_events"] = trace["dropped_events"]
    return m
