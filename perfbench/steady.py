#!/usr/bin/env python3
"""Steadiness and A/A tool for the benchmark.

    python3 perfbench/steady.py run --out A.json [--workloads w1,w2] [--seeds 1-10] [--trace 0]
    python3 perfbench/steady.py summary A.json
    python3 perfbench/steady.py compare A.json B.json

`run` invokes run.py once per workload and seed (with BENCHMARK.json's
run_seconds) and stores every result line with its stamp. `summary` prints,
per workload and metric, the median, the quartiles and the spread: the
distance between the quartiles as a share of the median, next to the
metric's bound. `compare` refuses sets whose host stamps differ, then
reports, per workload and end-to-end metric, how far B's median moved from
A's and whether that is worse than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Stamp fields that must agree before two sets are compared. The source
# stamp and the seed may differ: they are what a comparison varies.
HOST_FIELDS = ("nproc", "cores", "sf", "xmx", "spark", "java")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(args):
    b = bench()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in b["workloads"]]
    out = {"trace": args.trace, "runs": {}}
    for w in workloads:
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(b["run_seconds"]), "--trace", args.trace]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
                sys.exit(f"{w} seed {seed}: exit code {p.returncode}")
            line = json.loads(lines[-1])
            res_file = os.path.join(HERE, "results", w, f"seed{seed}-trace{args.trace}.json")
            with open(res_file, encoding="utf-8") as fh:
                res = json.load(fh)
            out["runs"].setdefault(w, []).append(
                {"seed": seed, "line": line, "notes": res["notes"], "stamp": res["stamp"]})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
            print(f"{w} seed {seed}: {vals}", flush=True)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    summary(argparse.Namespace(sets=[args.out]))


def load(path):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def bounds():
    b = bench()
    return {m["name"]: m.get("bound") for m in b["end_to_end"] + b["per_layer"]}


def summary(args):
    bd = bounds()
    for path in args.sets:
        s = load(path)
        print(f"== {path}")
        print(f"{'workload':13s} {'metric':28s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}")
        for w, runs in s["runs"].items():
            names = list(runs[0]["line"]["metrics"])
            for n in names:
                vals = [r["line"]["metrics"][n]["value"] for r in runs]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med if med else float("nan")
                b = bd.get(n)
                flag = ""
                if b is not None and n != "setup_s":
                    flag = "steady" if spread < b / 3 else ("ok" if spread <= b else "WIDE")
                print(f"{w:13s} {n:28s} {len(vals):3d} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{spread:7.3f} {b if b is not None else '-':>6} {flag}")


def host(stamp):
    return {k: stamp.get(k) for k in HOST_FIELDS}


def compare(args):
    a, b = load(args.sets[0]), load(args.sets[1])
    hosts = {json.dumps(host(r["stamp"]), sort_keys=True)
             for s in (a, b) for runs in s["runs"].values() for r in runs}
    if len(hosts) != 1:
        sys.exit("refusing to compare: the runs were made on different host shapes:\n  "
                 + "\n  ".join(sorted(hosts)))
    better = {m["name"]: m["better"] for m in bench()["end_to_end"] + bench()["per_layer"]}
    bd = bounds()
    worse_any = False
    print(f"{'workload':13s} {'metric':28s} {'median A':>12s} {'median B':>12s} {'change':>8s} {'bound':>6s}")
    for w in a["runs"]:
        if w not in b["runs"]:
            continue
        for n in a["runs"][w][0]["line"]["metrics"]:
            ma = statistics.median(r["line"]["metrics"][n]["value"] for r in a["runs"][w])
            mb = statistics.median(r["line"]["metrics"][n]["value"] for r in b["runs"][w])
            change = (mb - ma) / ma if ma else float("nan")
            worse = change if better.get(n) == "lower" else -change
            bound = bd.get(n)
            verdict = ""
            if bound is not None:
                verdict = "WORSE" if worse > bound else "within"
                worse_any |= worse > bound
            print(f"{w:13s} {n:28s} {ma:12.5g} {mb:12.5g} {change:+8.3f} {bound if bound is not None else '-':>6} {verdict}")
    sys.exit(1 if worse_any else 0)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", default="0", choices=("0", "1"))
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("sets", nargs=2)
    args = ap.parse_args()
    {"run": run, "summary": summary, "compare": compare}[args.cmd](args)


if __name__ == "__main__":
    main()
