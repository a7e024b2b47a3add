#!/usr/bin/env python3
"""One untraced and one traced run of every workload with the same seed,
joined into one report: end-to-end metrics, per-layer metrics, the
tracing overhead (traced wall_s / untraced wall_s - 1) and, per op, the
job seconds of each module.

Usage, from the repository root:

    python3 perfbench/report.py --seed 1 --seconds 15 --out perfbench/results/traced_c4.json
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(run.BENCH, "..", "BENCHMARK.json")) as fh:
        gated = [w["name"] for w in json.load(fh)["workloads"]]
    cp, src_stamp, _ = run.build()
    report = {"seed": a.seed, "seconds": a.seconds, "nproc": os.cpu_count(), "workloads": {}}
    ok = True
    for w in gated + run.UNGATED:
        arts = {}
        for trace in (0, 1):
            r = run.run_one(cp, src_stamp, w, a.seed, a.seconds, trace, run.FIRST_RUN_LIMIT_S)
            ok = ok and r["correct"] and r["failed"] == 0
            with open(os.path.join(run.BUILD, "runs", f"{w}-seed{a.seed}-trace{trace}.json")) as fh:
                arts[trace] = json.load(fh)
        e2e, traced = arts[0], arts[1]
        wall, twall = e2e["end_to_end"]["wall_s"], traced["end_to_end"]["wall_s"]
        report["workloads"][w] = {
            "gated": w in gated,
            "result": e2e["result"],
            "end_to_end": e2e["end_to_end"],
            "per_layer": traced["per_layer"],
            "tracing_overhead": twall / wall - 1,
            "diagnostics": e2e["diagnostics"],
            "traced_diagnostics": traced["diagnostics"],
            "per_op_job_s": traced["per_op_job_s"],
        }
        print(f"{w}: wall_s {wall:.2f} untraced, {twall:.2f} traced "
              f"({100 * (twall / wall - 1):+.1f}%)")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
