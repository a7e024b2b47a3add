#!/usr/bin/env python3
"""Spark jobs of a perfbench run, per op and per program call site.

Joins a run artifact's op spans (`.bench_build/runs/<workload>-seed<n>-trace<t>.json`)
with the Spark event log of the same run, and attributes every job that
starts inside an op to the program frame that launched it: the innermost
`graft.` frame of its SQL execution's call site (AQE submits stages from
its own threads, so stage call sites cannot do this), followed by the
next `graft.` frame out, its caller. Jobs with no SQL execution fall
back to the stage call site of the job.

Record an event log by passing Spark's own settings to the run's JVM:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev \
      -Dspark.eventLog.compress=false -Dspark.eventLog.rolling.enabled=false" \
      python3 perfbench/run.py --workload hourly_etl --seed 7 --seconds 15 --trace 1
    python3 tools/jobs_by_callsite.py .bench_build/runs/hourly_etl-seed7-trace1.json /tmp/ev

Prints a markdown table (jobs and job seconds per op, averaged over the
timed ops, by call site); `--json out.json` also writes it as JSON.

`--per-op` prints each op's job timeline instead: per job, in start order,
the driver gap before it (since the previous job ended, or since the op's
first span started), its duration and its call site, then the gap after
the last job. An end-to-end median such as `op_p50_s` is ONE op, which an
average over ops hides.
"""
import argparse
import collections
import json
import os
import sys

OP_SPANS = {"runHour", "feed", "read", "build", "plan", "exec"}


def graft_frames(details):
    return [l.strip() for l in (details or "").splitlines()
            if l.strip().startswith("graft.")]


def site_of(details):
    fr = graft_frames(details)
    if not fr:
        return None
    return fr[0] if len(fr) == 1 else f"{fr[0]} <- {fr[1]}"


def load_events(path):
    jobs, execs = {}, {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                stage_details = next((s.get("Details") for s in e.get("Stage Infos", [])), "")
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": None,
                    "exec": props.get("spark.sql.execution.id"),
                    "stage_details": stage_details}
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                execs[str(e["executionId"])] = e.get("details", "")
    return jobs, execs


def call_site(job, execs):
    return site_of(execs.get(job["exec"])) or site_of(job["stage_details"]) or "(no program frame)"


def per_op(art, ops, windows, jobs, execs, json_out):
    """One timeline per op: the spans it ran, then every job starting inside
    it with the driver gap before it."""
    names = [s.get("op") for s in art.get("op_samples", [])]
    diag = art.get("diagnostics", {})
    out = {"nproc": diag.get("nproc"), "calib_s": diag.get("calib_s"), "ops": []}
    print(f"nproc {out['nproc']}, calib_s {out['calib_s']}")
    for op in sorted(windows):
        s0, s1 = windows[op]
        spans = sorted(ops[op], key=lambda s: s["start_ms"])
        mine = sorted((v for v in jobs.values() if s0 - 1 <= v["start"] <= s1 + 1),
                      key=lambda v: v["start"])
        rows, prev = [], s0
        for v in mine:
            end = v["end"] or v["start"]
            rows.append({"gap_s": max(0.0, v["start"] - prev) / 1e3,
                         "job_s": (end - v["start"]) / 1e3,
                         "call_site": call_site(v, execs)})
            prev = max(prev, end)
        tail = max(0.0, s1 - prev) / 1e3
        name = names[op] if isinstance(op, int) and op < len(names) else str(op)
        span_txt = ", ".join(f"{s['name']} {(s['end_ms'] - s['start_ms']) / 1e3:.3f} s"
                             for s in spans)
        print(f"\n### op {op} ({name}): {len(rows)} jobs; {span_txt}\n")
        print("| # | gap before s | job s | call site |")
        print("|---:|---:|---:|---|")
        for i, r in enumerate(rows):
            print(f"| {i + 1} | {r['gap_s']:.3f} | {r['job_s']:.3f} | `{r['call_site']}` |")
        print(f"| | {tail:.3f} | | (after the last job) |")
        out["ops"].append({"op": op, "name": name,
                           "spans": {s["name"]: (s["end_ms"] - s["start_ms"]) / 1e3 for s in spans},
                           "jobs": rows, "gap_after_s": tail})
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("artifact", help="perfbench run artifact (JSON)")
    ap.add_argument("eventlog", help="uncompressed Spark event log file, or a directory of them")
    ap.add_argument("--json", help="also write the table here")
    ap.add_argument("--per-op", action="store_true",
                    help="print each op's job timeline instead of the averages")
    a = ap.parse_args()

    with open(a.artifact) as fh:
        art = json.load(fh)
    ops = collections.defaultdict(list)
    for s in art["spans"]:
        if s["name"] in OP_SPANS:
            ops[s["op"]].append(s)
    windows = {op: (min(s["start_ms"] for s in ss), max(s["end_ms"] for s in ss))
               for op, ss in ops.items()}
    if not windows:
        sys.exit("no op spans in the artifact")
    lo, hi = min(w[0] for w in windows.values()), max(w[1] for w in windows.values())

    logs = ([os.path.join(a.eventlog, f) for f in sorted(os.listdir(a.eventlog))]
            if os.path.isdir(a.eventlog) else [a.eventlog])
    jobs, execs = {}, {}
    for path in logs:
        j, x = load_events(path)
        # the one application whose jobs cover the timed ops
        if any(lo - 1 <= v["start"] <= hi + 1 for v in j.values()):
            jobs, execs = j, x
            break
    if not jobs:
        sys.exit("no event log covers the artifact's ops")

    if a.per_op:
        per_op(art, ops, windows, jobs, execs, a.json)
        return

    n_ops = len(windows)
    table = collections.defaultdict(lambda: {"jobs": 0, "job_s": 0.0})
    total = 0
    for v in jobs.values():
        if not any(s - 1 <= v["start"] <= e + 1 for s, e in windows.values()):
            continue
        t = table[call_site(v, execs)]
        t["jobs"] += 1
        t["job_s"] += ((v["end"] or v["start"]) - v["start"]) / 1e3
        total += 1

    rows = sorted(({"call_site": k, "jobs_per_op": t["jobs"] / n_ops,
                    "job_s_per_op": t["job_s"] / n_ops} for k, t in table.items()),
                  key=lambda r: (-r["jobs_per_op"], r["call_site"]))
    diag = art.get("diagnostics", {})
    out = {"artifact": os.path.basename(a.artifact), "ops": n_ops,
           "jobs_per_op": total / n_ops, "nproc": diag.get("nproc"),
           "calib_s": diag.get("calib_s"), "call_sites": rows}
    print(f"{out['artifact']}: {n_ops} ops, {total / n_ops:.1f} jobs per op, "
          f"nproc {out['nproc']}, calib_s {out['calib_s']}\n")
    print("| jobs/op | job s/op | call site (innermost program frame <- its caller) |")
    print("|---:|---:|---|")
    for r in rows:
        print(f"| {r['jobs_per_op']:.2f} | {r['job_s_per_op']:.3f} | `{r['call_site']}` |")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
