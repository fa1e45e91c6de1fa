#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload moodle_chain --seed 1 --seconds 15 --trace 0

Builds the repository and the benchmark from source on first use (sbt,
offline), then runs one JVM: set-up, a warm pass, and timed passes for
--seconds. Prints a table of every metric with its unit, then, as the last
line, one JSON object with the keys correct, attempted, failed and metrics.
Exits non-zero when an output check fails or the program cannot be built.
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
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("moodle_chain", "queries")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def build(stamp):
    """Compile the repository and the benchmark unless this source stamp
    was already built; returns (classpath, jvm options)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    built = os.path.isfile(launch) and os.path.isfile(stamp_file) and \
        open(stamp_file).read().strip() == stamp
    if not built:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0 or not os.path.isfile(launch):
            fail(f"build failed with exit code {r.returncode}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp + "\n")
    lines = open(launch, encoding="utf-8").read().splitlines()
    cut = lines.index("--")
    opts = [o for o in lines[cut + 1:] if not o.startswith("-Xmx")]
    return ":".join(lines[:cut]), opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no sbt project with src/main/scala at {ROOT}; nothing to measure")
    if not os.path.isdir(DATA):
        fail(f"missing benchmark tables at {DATA}")

    stamp = source_stamp()
    classpath, opts = build(stamp)
    # Set-up time starts here: a first run's compile is not set-up.
    t0_ns = time.time_ns()

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(HERE, "results", args.workload, f"seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *opts, HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--cores", str(cores), "--data", DATA, "--work", work, "--out", out,
           "--expected", os.path.join(HERE, "expected_digests.jsonl"),
           "--t0", str(t0_ns), "--source", git_head() or f"tree:{stamp}"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(out):
        fail(f"run ended with exit code {code} and no result")

    res = json.load(open(out, encoding="utf-8"))
    for section in ("metrics", "notes"):
        for name, m in res[section].items():
            print(f"{args.workload:13s} {name:34s} {m['value']:>16.6f} {m['unit']}")
    for k, v in res["stamp"].items():
        print(f"{args.workload:13s} stamp.{k:28s} {v}")
    for f in res["failures"]:
        print(f"{args.workload:13s} FAILED {f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
