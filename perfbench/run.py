#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload som_train --seed 1 --seconds 10 --trace 0

Builds the program (`src/main/scala`) and the benchmark
(`perfbench/scala`) with the Scala compiler that ships in Spark's jars,
once per source state, into `.bench_build/perfbench/`. Then runs the
workload in one JVM on a `local[nproc]` session and turns the raw
samples into the metrics `BENCHMARK.json` declares: every end-to-end
metric with `--trace 0`, every per-layer metric with `--trace 1`. A
human-readable summary, with the machine-health stamps, goes to stderr.

`--record FILE` also appends the whole run (both metric groups, the
failures and the health stamps) as one JSON line, for `compare.py`.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

import harness

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_OPTS = [
    "-Xss8m",
    "-XX:+UseG1GC",
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # deep enough that a job's long call site names the operator phase
    "-Dspark.callstack.depth=200",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    directory the program's `build.sbt` takes its jars from."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    for d in dirs:
        jars = sorted(d.glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    die("no Spark jars with a Scala compiler found: set SPARK_HOME")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        die("program sources (src/main/scala) not found next to perfbench/")
    return program + sorted((HERE / "scala").rglob("*.scala"))


def build(jars):
    """Compile program + benchmark once per source state; returns the
    class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = Path(tempfile.mkdtemp(prefix="classes-build-", dir=BUILD))
    cp = os.pathsep.join(str(j) for j in jars)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print("perfbench: compiling program and benchmark", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed")
    argfile.unlink()
    tmp.rename(out)
    return out


def run_jvm(args, classes, jars):
    work = BUILD / "run" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_file = work / "raw.json"
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}"]
           + JVM_OPTS
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--out", str(raw_file)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # also on SIGTERM (see main): never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not raw_file.is_file():
        die(f"benchmark JVM exited with code {code}")
    return json.loads(raw_file.read_text())


def summary(raw, spec, e2e):
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = [f"workload {raw['workload']} seed {raw['seed']} trace {int(raw['trace'])}"
             f" cores {raw['cores']}"]
    for name, v in e2e.items():
        lines.append(f"  {name:<16} {v:14.6g} {units[name]}")
    for kind, xs in raw["op_s"].items():
        t = harness.timing_summary(xs)
        tail = "".join(f", {k} {v:.4g} s" for k, v in t.items() if k not in ("p50", "n"))
        lines.append(f"  {kind:<20} p50 {t['p50']:.4g} s over {t['n']} samples{tail}")
    lines.append(f"  error_rate       {raw['failed'] / max(raw['attempted'], 1):14.6g}"
                 f" ({raw['failed']} of {raw['attempted']} operations)")
    for msg in raw["failures"]:
        lines.append(f"  FAILED: {msg}")
    for when, h in raw["health"].items():
        lines.append(f"  health.{when}: memcpy {h['memcpy_gbps']} GB/s,"
                     f" shuffle canary {h['shuffle_canary_s']:.3f} s")
    if raw["trace"]:
        for name, v in sorted(raw["per_layer"].items()):
            lines.append(f"  {name:<36} {v:14.6g} {units[name]}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the whole run as a JSON line here")
    args = ap.parse_args()
    # turn SIGTERM into an exit, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        die("BENCHMARK.json not found")
    spec = harness.load_spec(spec_file)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)
    raw = run_jvm(args, classes, jars)
    try:
        res = harness.result(raw, spec, args.trace)
    except ValueError as e:
        die(f"invalid run: {e}")
    e2e = harness.end_to_end(raw)
    print(summary(raw, spec, e2e), file=sys.stderr)
    if args.record:
        rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "end_to_end": e2e, "per_layer": raw["per_layer"] if args.trace else {},
               "attempted": raw["attempted"], "failed": raw["failed"],
               "failures": raw["failures"], "health": raw["health"],
               "op_s": raw["op_s"], "setup_s": raw["setup_s"]}
        with open(args.record, "a") as f:
            f.write(json.dumps(rec) + "\n")
    sys.stdout.write(harness.result_line(res) + "\n")


if __name__ == "__main__":
    main()
