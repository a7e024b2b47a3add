#!/usr/bin/env python3
"""Benchmark runner: builds the program from the checkout's sources (once
per source change) and runs one workload in a fresh JVM.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is the run's JSON result
({"correct", "attempted", "failed", "metrics"}); the full artifact (spans,
per-op samples, diagnostics) is written under .bench_build/runs/. With
`--workload all` every workload runs in turn, each metric is printed by
name with its unit, and the exit code is non-zero if any output check
failed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# query workloads this runner runs but BENCHMARK.json does not gate
UNGATED = ["lake_ops", "corpus_kernels"]
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's main sources and the
    benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    out = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources (src/main/scala) in the working directory; "
            "run from the repository root")
    files = source_files()
    want = stamp(files)
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read().strip() == want:
                with open(cp_f) as fh:
                    return fh.read().strip(), want, False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    with open(cp_f, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(want)
    return cp[-1].strip(), want, True


def commit_of(src_stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "sources:" + src_stamp[:16]


def run_one(cp, src_stamp, workload, seed, seconds, trace, limit_s, record=False):
    work = os.path.join(BUILD, "work", workload)
    runs = os.path.join(BUILD, "runs")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, runs, tmp):
        os.makedirs(d, exist_ok=True)
    artifact = os.path.join(runs, f"{workload}-seed{seed}-trace{trace}.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--bench-dir", BENCH, "--artifact", artifact] +
           (["--record", "1"] if record else []))
    env = dict(os.environ, PERFBENCH_COMMIT=commit_of(src_stamp), TMPDIR=tmp)
    log = os.path.join(runs, f"{workload}-seed{seed}-trace{trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload}: no result within {limit_s:.0f} s; log in {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"{workload}: the run printed no result (exit {p.returncode}); log in {log}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the query workloads' expected values instead of checking them")
    a = ap.parse_args()

    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    if a.workload != "all" and a.workload not in names + UNGATED:
        die(f"unknown workload {a.workload}; one of {', '.join(names + UNGATED)} or all")

    t0 = time.time()
    cp, src_stamp, built = build()
    # a recording runs every query of the families: no per-run limit
    limit = (FIRST_RUN_LIMIT_S if built or a.record else RUN_LIMIT_S) - (time.time() - t0)

    if a.workload != "all":
        r = run_one(cp, src_stamp, a.workload, a.seed, a.seconds, a.trace, limit, a.record)
        print(json.dumps(r))
        sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)

    ok = True
    for w in names:
        r = run_one(cp, src_stamp, w, a.seed, a.seconds, a.trace,
                    FIRST_RUN_LIMIT_S if w == names[0] else RUN_LIMIT_S, a.record)
        ok = ok and r["correct"] and r["failed"] == 0
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for k, m in sorted(r["metrics"].items()):
            print(f"  {k:<28} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
