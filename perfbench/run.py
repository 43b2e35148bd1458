#!/usr/bin/env python3
"""End-to-end benchmark of the DNS log transformer and its analytics.

Usage (from the repository root):
    python3 perfbench/run.py --workload dns_drain --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt,
offline), runs one workload in a fresh JVM, checks its outputs, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 its per-layer ones (the traced run also runs an untraced
half of the same length, and reports the difference as trace.overhead).
layers.json maps each metric to its layer.

The benchmark's own tests:
    python3 -m unittest discover -s perfbench -p 'test_*.py'
    (cd perfbench && sbt "perfbench/testOnly perfbench.*")
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dns_drain", "dns_frontdoor", "analytics_mix")
BUILD = BENCH / "target"
CLASSPATH = BUILD / "perfbench.classpath"
JVM_TIMEOUT_S = 165
# A fixed-size heap: no run-to-run differences from heap resizing. No
# perf-data file in /tmp; temporary files go under the run's directory.
# The rest (module opens, encoding, Spark defaults) is shared with build.sbt.
JAVA_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    ln for ln in (BENCH / "jvm.opts").read_text().splitlines() if ln]


def sources_newest(root):
    newest = 0.0
    for d in (root / "src" / "main", BENCH / "src" / "main"):
        for dirpath, _, files in os.walk(d):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    for f in (root / "build.sbt", BENCH / "build.sbt"):
        if f.exists():
            newest = max(newest, f.stat().st_mtime)
    return newest


def build(root):
    """Compile the program and the benchmark; cache the runtime classpath."""
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= sources_newest(root):
        return CLASSPATH.read_text().strip()
    if not (root / "build.sbt").exists() or not (root / "src" / "main").is_dir():
        sys.exit("perfbench: no program sources next to the benchmark "
                 "(run from the repository root)")
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        sys.exit(f"perfbench: build failed (exit {rc}), log in {log}")
    CLASSPATH.write_text(cp[-1])
    return cp[-1]


def run_jvm(cp, args, work):
    """Run the JVM side; return its raw result dict."""
    out = work / "raw.json"
    log = work / "jvm.log"
    (work / "tmp").mkdir()
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}",
                                   "-cp", cp, "perfbench.Main"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))] +
           ["--dir", str(work), "--out", str(out)])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    return json.loads(out.read_text())


def clean(work):
    """Remove a run's directory, except files FrontDoor spooled: on some
    filesystems unlinking those costs ~50 ms each (they are small; the
    directory is git-ignored)."""
    for d, _, files in os.walk(work, topdown=False):
        if Path(d).name != "frontdoor-spool":
            for f in files:
                os.unlink(os.path.join(d, f))
        try:
            os.rmdir(d)
        except OSError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    declared = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    cp = build(root)
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.time()
        raw = run_jvm(cp, {"workload": a.workload, "seed": a.seed,
                           "seconds": a.seconds, "trace": a.trace}, work)
        failures = list(raw["failures"])
        failures += oracle.check(raw)
        wall = time.time() - t0
    finally:
        clean(work)

    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if a.trace else "end_to_end"]}
    values = (stats.per_layer(raw, list(units)) if a.trace
              else stats.end_to_end(raw))
    _, _, pct, n = stats.percentile_rule(raw["latency_ms"]["untraced"])
    half = " in the untraced half" if a.trace else ""
    print(f"workload {a.workload} seed {a.seed}: {n} latency samples{half}, "
          f"tail = p{pct:.1f}; run wall {wall:.1f} s")
    for f in failures:
        print(f"FAILED {f['op']}: {f['error']}")
    for k, v in values.items():
        print(f"  {k:40s} {v:14.4f} {units[k]}")
    if a.trace and a.workload.startswith("dns_"):
        layers = json.loads((BENCH / "layers.json").read_text())
        slow = max(layers["slowest_candidates"], key=lambda k: values[k])
        print(f"slowest layer: {slow} ({values[slow]:.1f} ms per batch)")
    failed = len(failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, raw["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
