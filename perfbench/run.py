#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload extract_ckpt --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, see
perfbench/build.sbt), then runs one JVM for the workload. Prints one line
per metric (name, value, unit, sample count) and, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. --trace 0 reports the end-to-end metrics; --trace 1 reports
the per-layer metrics and writes the recorded spans under .bench_build/.
Every run also saves its full record under .bench_build/results/ (or
--record-dir) for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("extract_ckpt", "extract_longdoc_rel", "neardup_docs")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    files = []
    for r in roots:
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    stamp = hashlib.sha256()
    for f in source_files():
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine + benchmark with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = [l for l in proc.stdout.splitlines() if l.strip()][-1].strip()
    cp_file.write_text(classpath + "\n")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def java_cmd():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-dir", default=str(BUILD / "results"))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("error: run from the root of a graft checkout (src/main/scala/graft not found)")
        return 2
    classpath = build()

    tag = f"{args.workload}-t{args.trace}-seed{args.seed}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    trace_file = BUILD / "traces" / f"{tag}.json"
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    cmd = [java_cmd(), *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "graft.perfbench.PerfBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--result", str(result_file), "--trace-out", str(trace_file)]
    try:
        # the JVM's own output goes to stderr: stdout carries only the result
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"error: workload run exceeded {JVM_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(work / "spark-local", ignore_errors=True)
    if proc.returncode != 0 or not result_file.exists():
        log(f"error: benchmark JVM exited with code {proc.returncode}")
        return 1
    raw = json.loads(result_file.read_text())
    shutil.rmtree(work, ignore_errors=True)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    unknown = sorted(set(raw["metrics"]) - set(units))
    if unknown:
        log(f"error: metrics missing from BENCHMARK.json: {unknown}")
        return 1
    samples = raw.pop("samples")
    record = dict(raw, metrics={k: {"value": v, "unit": units[k]}
                                for k, v in raw["metrics"].items()})
    record_dir = Path(args.record_dir)
    record_dir.mkdir(parents=True, exist_ok=True)
    (record_dir / f"{tag}-{time.strftime('%Y%m%dT%H%M%S')}.json").write_text(json.dumps(
        {"workload": args.workload, "seed": args.seed, "trace": args.trace,
         "seconds": args.seconds, "samples": samples, "result": record}) + "\n")

    attempted, failed = record["attempted"], record["failed"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"correct={record['correct']} attempted={attempted} failed={failed} "
          f"failed_frac={failed / attempted:.4f}")
    for name, m in record["metrics"].items():
        print(f"  {name:40s} {m['value']!s:>22} {m['unit']:6s} n={samples.get(name, 1)}")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
