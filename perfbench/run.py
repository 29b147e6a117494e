#!/usr/bin/env python3
"""Medallion pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (offline) into the checkout and
caches the classpath under .bench_build/; later runs start the JVM
directly. Every generated input, table and temporary file lives under a
per-run directory in .bench_build/runs/, deleted when the run ends.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The exit code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build"
WORKLOADS = ["cdc_trickle", "backfill", "stream_cdc"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
JVM_TIMEOUT_S = 170
HEAP = "1536m"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input, so an edited source triggers a rebuild."""
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = ROOT / rel
        if not p.exists():
            fail(f"missing {rel}: run from a full checkout of the repository")
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = CACHE / "classpath.txt", CACHE / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    CACHE.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt ...", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, run_dir):
    java = Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java"
    java = str(java) if java.is_file() else "java"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    out = run_dir / "raw.json"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", str(run_dir), "--out", str(out)]
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code is None or not out.exists():
        sys.stderr.write(log.read_text()[-6000:])
        fail("the benchmark JVM timed out" if code is None else f"the benchmark JVM exited {code}")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = classpath()
    run_dir = CACHE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_jvm(cp, args, run_dir)
        if args.trace:  # keep the newest trace (spans, listener events) per workload
            shutil.copy(run_dir / "raw.json", CACHE / f"trace-{args.workload}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"phases: session {raw['session_s']:.1f} s, set-up reps "
          + ", ".join(f"{x:.1f}" for x in raw["setup_reps_s"])
          + f" s, timed {(raw['timed_end'] - raw['timed_start']) / 1000:.1f} s, "
          f"checks {raw['checks_s']:.1f} s, JVM total {raw['jvm_s']:.1f} s")
    for c in raw["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    if args.trace:
        values, attempted, failed = metrics.per_layer(raw)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(values.items())}
    else:
        values, note, attempted, failed = metrics.end_to_end(raw)
        for k, (v, u) in values.items():
            print(f"{k} = {v:.6g} {u}")
        print(note)
        out = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    correct = all(c["ok"] for c in raw["checks"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    for suffix, unit in [("_s", "s"), ("_ms", "ms"), ("_pct", "%"),
                         ("utilization", "ratio"), ("selectivity", "ratio"),
                         ("useful_ratio", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
