#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 e2ebench/run.py --workload gene_kmeans --seed 7 --seconds 5 --trace 0

Run from the repository root. The first run compiles the library's
sources together with the harness (sbt, offline); later runs reuse the
build until a source file changes. The last line of standard output is
one JSON object: correct, attempted, failed and metrics (the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1). Each run's full record is kept under
e2ebench/target/results/<workload>/, with the span trace of a traced run
beside it; compare.py compares two such directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "bench.classpath"
STAMP = TARGET / "bench.stamp"
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    TARGET.mkdir(parents=True, exist_ok=True)
    log = TARGET / "build.log"
    print("e2ebench: building (sbt writeClasspath) ...", file=sys.stderr)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (log: {log})")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from a checkout of the repository: BENCHMARK.json and the library "
             "sources (src/main/scala) must sit beside e2ebench/", 2)
    spec = json.loads(spec_file.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}", 2)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build()

    name = f"seed{args.seed}-trace{args.trace}"
    results = TARGET / "results" / args.workload
    logs = TARGET / "logs"
    work = TARGET / "work" / f"{args.workload}-{name}-{os.getpid()}"
    for d in (results, logs, work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    out = results / f"{name}.json"
    trace_out = results / f"seed{args.seed}.trace.jsonl"
    out.unlink(missing_ok=True)

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata file: the JVM would write it to /tmp whatever java.io.tmpdir says
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work / "run"), "--out", str(out), "--trace-out", str(trace_out)]
    log = logs / f"{args.workload}-{name}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc is None or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("run timed out" if rc is None else f"run failed with exit code {rc} (log: {log})")

    record = json.loads(out.read_text())
    missing = [m["name"] for m in wanted if m["name"] not in record["metrics"]]
    if missing:
        fail(f"the run did not report {', '.join(missing)}")
    for k, v in record["extra"].items():
        print(f"# {k}: {json.dumps(v)}")
    for k in record["extra"]["failed_checks"]:
        print(f"FAILED {k}", file=sys.stderr)
    result = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": record["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    if rc != 0 or not record["correct"]:
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(1)


if __name__ == "__main__":
    main()
