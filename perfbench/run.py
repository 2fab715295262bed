#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --trace 0
    python3 perfbench/run.py --selftest          # fast check of the benchmark itself
    python3 perfbench/run.py --record            # re-record expected fingerprints

The first call builds the engine and the benchmark with sbt (offline) and
caches the classpath under perfbench/target; later calls rebuild only when
a source file changed. Each run works in a scratch directory under
perfbench/ that is removed when it ends, and keeps its result (and, when
traced, its spans) under perfbench/results/.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
exit code is 0 only when every op's output matched.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")
RESULTS = os.path.join(HERE, "results")
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("interactive", "bulk")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
RECORD_TIMEOUT_S = 1200
# Spark 4 on JDK 17 outside spark-submit needs these opens (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build: engine and benchmark sources and
    both build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if os.path.isfile(os.path.join(d, f))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, dn, fn in os.walk(d):
            dn.sort()
            files += [os.path.join(dp, f) for f in fn]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile with sbt once per source state; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "perfbench-classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    cp = [l for l in r.stdout.splitlines()
          if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(f"{digest}\n{cp[-1].strip()}\n")
    return cp[-1].strip()


def commit_label(digest):
    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                 text=True, timeout=30).stdout.strip() or rev
        except (OSError, subprocess.TimeoutExpired):
            pass
    return f"{rev} src:{digest[:12]}"


def run_jvm(cp, run_dir, args, timeout=JVM_TIMEOUT_S):
    """Run the benchmark JVM in `run_dir`; kill it at the time limit and
    always wait for it to end. Returns its exit code."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", *OPENS, "-cp", cp,
           "perfbench.Main", "--tmp", tmp, "--out", run_dir, "--data", DATA,
           "--data-label", os.path.relpath(DATA, ROOT), "--expected", EXPECTED,
           "--cores", str(len(os.sched_getaffinity(0))), *args,
           "--launch-ms", str(time.time() * 1000.0)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {timeout} s, killed", file=sys.stderr)
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def new_run_dir():
    d = os.path.join(HERE, ".runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def check_run(cp, mode, workload, seed, label, timeout):
    """Self-test, or recording of one workload's expected outputs: one JVM,
    its progress lines echoed. Returns the exit code for the caller."""
    run_dir = new_run_dir()
    try:
        rc = run_jvm(cp, run_dir, ["--mode", mode, "--workload", workload,
                                   "--seed", str(seed), "--trace", "1",
                                   "--seconds", "0", "--commit", label],
                     timeout=timeout)
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
            for line in fh:
                if line.startswith("selftest") or "[perfbench]" in line:
                    print(line.rstrip())
        keep_log(run_dir, mode if workload == mode else f"{mode}-{workload}", rc != 0)
        return 0 if rc == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def keep_log(run_dir, stem, show):
    """Keep the JVM log under results/; on failure also print its tail."""
    path = os.path.join(run_dir, "jvm.log")
    if os.path.isfile(path):
        os.makedirs(RESULTS, exist_ok=True)
        shutil.copyfile(path, os.path.join(RESULTS, stem + ".log"))
        if show:
            with open(path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))


def report(res, trace, untraced):
    """Human-readable report: stamp, every metric with unit and base,
    failures, per-span self time and the tracing overhead."""
    st = res["stamp"]
    print(f"perfbench workload={res['workload']} seed={st['seed']} trace={trace} "
          f"seconds={res['seconds']} N={st['cores']} spark={st['spark']} "
          f"java={st['java']} commit={st['commit']} data={st['data']}")
    for m in res["metrics"]:
        base = f"  [{m['base']}]" if m["base"] else ""
        print(f"metric {m['name']:<26} {m['value'] if m['value'] is not None else 'n/a':>14} "
              f"{m['unit']}{base}")
    for f in res["failures"]:
        print(f"failed op {f['op']} (pass {f['pass']}): {f['detail']}")
    for s in res["self_time"]:
        print(f"self_time {s['span']:<20} {s['count']:>6} spans {s['self_ms']:>12.1f} ms")
    if trace:
        if untraced is None:
            print("tracing overhead: no untraced result for this workload, seed and "
                  "source; run --trace 0 with the same seed first")
        else:
            before = {m["name"]: m["value"] for m in untraced["metrics"]}
            for m in res["metrics"]:
                b = before.get(m["name"])
                if b and m["value"] is not None and m["unit"] in ("ms", "s", "ops/s"):
                    print(f"tracing overhead {m['name']:<14} {m['value'] - b:+.4f} "
                          f"{m['unit']} ({(m['value'] - b) / b * 100:+.1f}%)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="length of the timed window (default: run_seconds "
                         "of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not (args.workload or args.selftest or args.record):
        ap.error("one of --workload, --selftest or --record is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft engine sources next to {os.path.relpath(HERE, ROOT)}/ "
             "(run from a checkout of the repository)")
    for scale in ("sf0.001", "sf0.01"):
        if not os.path.isdir(os.path.join(DATA, scale)):
            fail(f"missing input tables {os.path.join(DATA, scale)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    digest = source_digest()
    cp = build(digest)
    label = commit_label(digest)
    if args.selftest:
        return check_run(cp, "selftest", "selftest", args.seed, label, JVM_TIMEOUT_S)
    if args.record:
        return max(check_run(cp, "record", w, args.seed, label, RECORD_TIMEOUT_S)
                   for w in WORKLOADS)

    run_dir = new_run_dir()
    try:

        rc = run_jvm(cp, run_dir, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--commit", label])
        stem = f"{args.workload}-s{args.seed}-t{args.trace}"
        result_path = os.path.join(run_dir, "result.json")
        keep_log(run_dir, stem, rc != 0 or not os.path.isfile(result_path))
        if not os.path.isfile(result_path):
            fail(f"run ended with code {rc} and no result", 1)
        with open(result_path) as fh:
            res = json.load(fh)
        os.makedirs(RESULTS, exist_ok=True)
        shutil.copyfile(result_path, os.path.join(RESULTS, stem + ".json"))
        if args.trace and os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"),
                            os.path.join(RESULTS, stem + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    untraced = None
    if args.trace:
        path = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(path):
            with open(path) as fh:
                prev = json.load(fh)
            if prev["stamp"]["commit"] == res["stamp"]["commit"]:
                untraced = prev
    report(res, args.trace, untraced)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    have = {m["name"]: m for m in res["metrics"]}
    missing = [w["name"] for w in wanted
               if w["name"] not in have or have[w["name"]]["value"] is None]
    if missing:
        fail(f"workload {args.workload} did not produce {', '.join(missing)}", 1)
    correct = rc == 0 and res["failed"] == 0 and res["attempted"] >= 1
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {w["name"]: {"value": have[w["name"]]["value"], "unit": w["unit"]}
                    for w in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
