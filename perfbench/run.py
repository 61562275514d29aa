#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload warehouse --seed 1 --seconds 8 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs the same workload
with Spark listeners on every other warm pass and prints the per-layer
metrics (and writes the span file under .bench_build/traces/). The last
line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The program is compiled from src/main/scala on first use (scalac from the
Spark jar directory, no sbt), the harness against it; both are cached
under .bench_build/ by source digest. Every job's output is checked once
per run against its DuckDB oracle SQL (SparkEntry.oracleSql) over the
same input files; oracle results are cached by SQL and input digest.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import layers  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA = HERE / "data"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "2g"
TAIL_BEYOND = 10    # job_tail_s: highest percentile with this many samples beyond
# warm job samples a run needs so that job_tail_s sits above the median
MIN_WARM_SAMPLES = 2 * TAIL_BEYOND + 2
DEADLINE_S = 170    # the whole run, build included, must end well within 180 s
FIRST_BUILD_DEADLINE_S = 880
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The jars build.sbt compiles against (its `unmanagedBase`)."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        sys.exit("no unmanagedBase jar directory in build.sbt")
    jars = sorted(Path(m.group(1)).glob("*.jar"))
    if not jars:
        sys.exit(f"no jars under {m.group(1)}")
    return jars


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(sources, out, classpath, deadline):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cp = ":".join(map(str, classpath))
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(map(str, sources)) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=max(1, deadline - time.monotonic()))
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit(f"compile failed: {out}")


def build(bdir, jars, deadline):
    """Compile src/main/scala, then the harness; skip what is up to date."""
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main_src:
        sys.exit("no src/main/scala in this checkout: nothing to benchmark")
    harness_src = sorted((HERE / "harness").glob("*.scala"))
    main_key = digest(main_src)
    harness_key = digest(harness_src, main_key)
    prog, harn = bdir / "classes", bdir / "harness-classes"
    stamp_p, stamp_h = bdir / "classes.stamp", bdir / "harness-classes.stamp"
    if not (stamp_p.exists() and stamp_p.read_text() == main_key):
        log(f"compiling {len(main_src)} program sources")
        t = time.monotonic()
        stamp_p.unlink(missing_ok=True)
        scalac(main_src, prog, jars, deadline)
        stamp_p.write_text(main_key)
        log(f"program compiled in {time.monotonic() - t:.1f}s")
    if not (stamp_h.exists() and stamp_h.read_text() == harness_key):
        stamp_h.unlink(missing_ok=True)
        scalac(harness_src, harn, [prog] + jars, deadline)
        stamp_h.write_text(harness_key)
    return [harn, prog, ROOT / "src" / "main" / "resources"], main_key


def fresh(d):
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    return d


def run_jvm(cp, run_dir, args, deadline):
    env = dict(os.environ)
    env["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    cmd = (["java"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", ":".join(map(str, cp)), "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    (run_dir / "tmp").mkdir()
    with open(run_dir / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("harness JVM ran past the run deadline; killed")
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"harness JVM exited with {rc}")
    return json.loads(Path(args["out"]).read_text())


def tail_stat(samples):
    """Highest percentile with TAIL_BEYOND samples beyond it, of (seconds,
    job) samples: (value, pct, n, job the sample belongs to)."""
    xs = sorted(samples)
    n = len(xs)
    if n < MIN_WARM_SAMPLES:
        raise SystemExit(f"{n} warm job samples: too few for job_tail_s")
    value, job = xs[n - TAIL_BEYOND - 1]
    return value, 100.0 * (n - TAIL_BEYOND) / n, n, job


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    missing = [t for t in TABLES if not (DATA / f"{t}.parquet").is_file()]
    if missing:
        sys.exit(f"missing input tables: {missing}")
    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    jars = spark_jars()
    first_build = not (bdir / "classes.stamp").exists()
    deadline = started + (FIRST_BUILD_DEADLINE_S if first_build else DEADLINE_S)
    cp, src_key = build(bdir, jars, deadline)
    cp = cp + jars
    built = time.monotonic()

    wl = WORKLOADS[a.workload]
    jobs = list(wl["jobs"])
    cpus = len(os.sched_getaffinity(0))
    min_warm = max(2, -(-MIN_WARM_SAMPLES // len(jobs)))
    run_dir = fresh(bdir / "run")
    result = run_jvm(cp, run_dir, {
        "data": DATA, "out": run_dir / "result.json", "check": run_dir / "check",
        "localDir": run_dir / "local", "jobs": ",".join(jobs), "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "cpus": cpus,
        "minWarm": min_warm}, deadline)

    jvm_done = time.monotonic()
    log(f"harness JVM {jvm_done - built:.1f}s")
    # ---- output check (outside every timed window)
    check_errors = oracle.check(bdir / "oracle", DATA, TABLES, run_dir / "check",
                                result["oracle_sql"], result["checked"], jobs)

    recs = result["jobs"]
    timed = [r for r in recs if r["kind"] in ("cold", "warm")]
    bad_jobs = set(check_errors)
    failed = sum(1 for r in timed if r["error"] or r["name"] in bad_jobs)
    attempted = len(timed)
    for r in recs:
        if r["error"]:
            print(f"job {r['name']} pass {r['pass']} threw: {r['error']}")
    for name, why in sorted(check_errors.items()):
        print(f"job {name} output check FAILED: {why}")

    log(f"output check {time.monotonic() - jvm_done:.1f}s")
    passes = result["passes"]
    cold = [p for p in passes if p["kind"] == "cold"][0]
    warm_untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_jobs = [(r["total_s"], r["name"]) for r in recs
                 if r["kind"] == "warm" and not r["traced"]]

    stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "source_digest": src_key[:16], "git_commit": git_commit(),
        "nproc": cpus, "jvm": result["jvm"], "heap_limit": HEAP,
        "heap_max_mb": round(result["heap_max_b"] / 1e6, 1),
        "spark": result["spark_version"], "python": platform.python_version(),
        "jobs": jobs, "warm_passes": len([p for p in passes if p["kind"] == "warm"]),
        "measured_s": result["measured_s"], "build_s": round(built - started, 2),
        "run_s": round(time.monotonic() - started, 2),
    }
    print("stamp " + json.dumps(stamp))

    if a.trace == 0:
        tail, pct, n, tail_job = tail_stat(warm_jobs)
        xs = sorted(warm_jobs)
        p50_jobs = sorted({xs[(n - 1) // 2][1], xs[n // 2][1]})
        metrics = {
            "setup_s": (result["setup_s"], "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "warm_pass_s": (statistics.median(p["wall_s"] for p in warm_untraced), "s"),
            "job_p50_s": (statistics.median(t for t, _ in warm_jobs), "s"),
            "job_tail_s": (tail, "s"),
            "live_heap_peak_mb": (result["live_heap_peak_b"] / 1e6, "MB"),
        }
        print(f"warm passes {[round(p['wall_s'], 3) for p in warm_untraced]}")
        # warm job times cluster by job: name the job(s) each statistic fell on
        print(f"job_p50_s falls on {','.join(p50_jobs)}")
        print(f"job_tail_s is p{pct:.1f} of n={n} warm job samples, on {tail_job}")
        print(f"failed_frac {failed}/{attempted}")
    else:
        trace_dir = bdir / "traces"
        trace_dir.mkdir(exist_ok=True)
        trace_file = trace_dir / f"{a.workload}-seed{a.seed}.json"
        metrics, report = layers.per_layer(result, wl["modules"], failed, attempted)
        layers.write_trace(trace_file, result, stamp)
        print(report)
        print(f"trace file {trace_file.relative_to(ROOT)}")

    out = {"correct": not check_errors and failed == 0,
           "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    results = bdir / "results"
    results.mkdir(exist_ok=True)
    base = results / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    base.with_suffix(".json").write_text(json.dumps({"stamp": stamp, **out}, indent=1))
    shutil.move(run_dir / "result.json", base.with_suffix(".raw.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    (the source digest in the stamp identifies the code either way)."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
