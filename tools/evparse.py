#!/usr/bin/env python3
"""Parse a Spark event log into per-job / per-stage wall, task counts and
summed task metrics. Usage: evparse.py <eventlog file>

A job or stage missing either of its timestamps (a skipped stage, a job
the log ends before) has no wall time: it prints as `wall=?` and stays
out of the TOTAL line, which says how many jobs it left out."""
import json, sys, collections

def wall(t0, t1):
    """Milliseconds from t0 to t1, or None when either is missing."""
    return None if t0 is None or t1 is None else t1 - t0


def fmt(ms):
    return "     ?" if ms is None else f"{ms:6d}"


def main(path):
    jobs = {}
    stages = {}
    with open(path) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "t0": e.get("Submission Time"),
                    "desc": e.get("Properties", {}).get(
                        "spark.job.description", "")[:60],
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                }
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["t1"] = e.get("Completion Time")
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["name"] = si["Stage Name"][:50]
                st["ntasks"] = si["Number of Tasks"]
                st["wall"] = wall(si.get("Submission Time"), si.get("Completion Time"))
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                st = stages.setdefault(sid, collections.defaultdict(int))
                if isinstance(st, dict) and m:
                    st["cpu"] = st.get("cpu", 0) + m.get("Executor CPU Time", 0) // 1000000
                    st["run"] = st.get("run", 0) + m.get("Executor Run Time", 0)
                    st["gc"] = st.get("gc", 0) + m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    st["shr"] = st.get("shr", 0) + sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shw"] = st.get("shw", 0) + sw.get("Shuffle Bytes Written", 0)
    totwall = 0
    untimed = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        jwall = wall(j["t0"], j.get("t1"))
        if jwall is None:
            untimed += 1
        else:
            totwall += jwall
        sids = [s for s in j["stages"] if s in stages and stages[s].get("ntasks")]
        print(f"job {jid:3d} wall={fmt(jwall)}ms  {j['desc']}")
        for s in sorted(sids):
            st = stages[s]
            print(f"    stage {s:4d} n={st.get('ntasks',0):3d} wall={fmt(st.get('wall'))} "
                  f"run={st.get('run',0):7d} cpu={st.get('cpu',0):7d} gc={st.get('gc',0):5d} "
                  f"shr={st.get('shr',0)//1024:7d}K shw={st.get('shw',0)//1024:7d}K  {st.get('name','')}")
    print(f"TOTAL job wall {totwall}ms over {len(jobs) - untimed} jobs"
          + (f" ({untimed} without both timestamps left out)" if untimed else ""))

if __name__ == "__main__":
    main(sys.argv[1])
