#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly, one seed per run, and print
each end-to-end metric's median, quartiles and spread against its bound.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--seed0 1] [--workloads a,b]
                              [--against SEED0]

The spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A metric is
steady when its spread is below a third of its bound in BENCHMARK.json
(setup_s is reported but only its median is compared across commits).
Runs are the same command the benchmark contract names, with --trace 0;
each run's JSON line is kept in .bench_build/steady/. With --against, the
medians of this set are compared with those of an earlier set of the same
size (seeds from SEED0, read back from .bench_build/steady/): the drift is
how much worse this set's median is, as a share of the earlier one, and it
must stay within the bound for every metric, setup_s included.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--against", type=int, default=None)
    a = ap.parse_args()
    out_dir = ROOT / ".bench_build" / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)
    worst, drifted = {}, []
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in bench["end_to_end"]}
        fails = 0
        for i in range(a.runs):
            seed = a.seed0 + i
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            t = time.monotonic()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            took = time.monotonic() - t
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-2000:])
                sys.exit(f"{w} seed {seed}: exit {r.returncode}")
            line = r.stdout.strip().splitlines()[-1]
            (out_dir / f"{w}-seed{seed}.json").write_text(line + "\n")
            res = json.loads(line)
            fails += res["failed"]
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: {took:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
                  flush=True)
        print(f"\n{w}: {a.runs} runs, {fails} failed job executions")
        print(f"  {'metric':20s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
              f"{'spread':>8s} {'bound':>6s}  verdict")
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            ok = spread < m["bound"] / 3
            verdict = ("ok" if ok else "WIDE") if m["name"] != "setup_s" else "n/a"
            worst[(w, m["name"])] = spread / m["bound"]
            print(f"  {m['name']:20s} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                  f"{spread:8.3f} {m['bound']:6.2f}  {verdict}")
        if a.against is not None:
            earlier = [json.loads((out_dir / f"{w}-seed{a.against + i}.json").read_text())
                       for i in range(a.runs)]
            print(f"  against seeds {a.against}..{a.against + a.runs - 1}:")
            for m in bench["end_to_end"]:
                before = statistics.median(r["metrics"][m["name"]]["value"] for r in earlier)
                now = statistics.median(values[m["name"]])
                worse = (now - before) / before
                if m["better"] == "higher":
                    worse = -worse
                if worse > m["bound"]:
                    drifted.append((w, m["name"]))
                print(f"  {m['name']:20s} {before:10.4f} -> {now:10.4f}  "
                      f"worse by {worse:+.3f} (bound {m['bound']:.2f})")
        print(flush=True)
    wide = [k for k, x in worst.items() if x >= 1 / 3 and k[1] != "setup_s"]
    print("steady" if not wide else f"not steady: {wide}")
    if a.against is not None:
        print("medians agree within the bounds" if not drifted
              else f"medians drifted past the bound: {drifted}")


if __name__ == "__main__":
    main()
