#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload point-search --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine (the root
sbt build) and the harness (perfbench/build.sbt) from source; later runs
reuse the build while no source changed. One JVM then runs the workload
in a single Spark session (`local[<cores>]`, one client thread, closed
loop) and checks every output against a brute-force oracle.

Standard output: a table of the metrics (name, value, unit, direction),
the failed ops with their exceptions, in traced runs the per-layer
self-time table, and as the last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
The full run report (spans included) is kept in perfbench/.out/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_DIR = os.path.join(BENCH, ".build")
OUT_DIR = os.path.join(BENCH, ".out")
WORKLOADS = ("point-search", "batch-search", "ingest")
# a run's wall time is capped below the 180 s a run may take
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the last build matches the sources."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # no sbt server and no JVM perf-data file: nothing is left in the system temp directory
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building engine and harness with sbt ...", file=sys.stderr)
    try:
        res = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_LIMIT_S)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail(f"the build took longer than {BUILD_LIMIT_S} s")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(res.stdout)
    lines = [l for l in res.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        fail(f"the build failed (exit {res.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, out, limit_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cores = len(os.sched_getaffinity(0))
    # a fixed heap keeps the resident set (peak_rss_mb) from following GC sizing decisions
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", args.scale, "--cores", str(cores),
            "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM's own output goes to stderr: stdout carries only the report
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    signal.signal(signal.SIGINT, lambda *a: (kill(), sys.exit(130)))
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"the run did not finish within {limit_s:.0f} s", code=1)


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "toy"),
                    help="input size; toy is the self-test's")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources (build.sbt, src/main/scala) are not next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    tb = time.time()
    cp = build()
    build_s = time.time() - tb

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    tj = time.time()
    try:
        code = run_jvm(cp, args, work, out, RUN_LIMIT_S - (time.time() - t0 - build_s))
    finally:
        tc = time.time()
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: build {build_s:.1f} s, JVM {tc - tj:.1f} s, clean-up {time.time() - tc:.1f} s",
          file=sys.stderr)
    if code != 0 or not os.path.exists(out):
        fail(f"the benchmark JVM exited with code {code}", code=1)
    with open(out) as f:
        report = json.load(f)

    metrics = report["metrics"]
    problems = [f"{m['name']}: missing" for m in wanted if m["name"] not in metrics]
    problems += [f"{m['name']}: unit {metrics[m['name']]['unit']} != {m['unit']}"
                 for m in wanted if m["name"] in metrics and metrics[m["name"]]["unit"] != m["unit"]]
    problems += [f"{n}: not in BENCHMARK.json" for n in metrics if n not in {m["name"] for m in wanted}]

    c = report["counts"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  scale {args.scale}  "
          f"cores {report['cores']}  measured {c.get('measured_s', 0):.1f} s  "
          f"ops {report['attempted']}  failed {report['failed']}  "
          f"failed_ratio {report['failed'] / report['attempted']:.4f}")
    print("samples: " + "  ".join(f"{k} {int(v)}" for k, v in c.items() if k != "measured_s"))
    print(f"{'metric':40s} {'value':>16s}  {'unit':8s} better")
    for m in wanted:
        if m["name"] in metrics:
            print(f"{m['name']:40s} {metrics[m['name']]['value']:16.6g}  {m['unit']:8s} {m['better']}")
    if args.trace:
        print("self time by layer (ms):")
        for layer, ms in sorted(report["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:12s} {ms:12.1f}")
    for fl in report["failures"]:
        print(f"FAILED op {fl['op']} ({fl['kind']}): {fl['error']}")
    for p in problems:
        print(f"METRIC PROBLEM {p}")

    result = {
        "correct": bool(report["correct"]) and not problems,
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": {m["name"]: metrics[m["name"]] for m in wanted if m["name"] in metrics},
    }
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
