#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Checks BENCHMARK.json against the benchmark's schema, then runs every
workload (point-search, batch-search and the ingest-focused mix) at toy
size with tracing off and on, and asserts for each run that every output
check passed, no op failed, and every metric of BENCHMARK.json is present
with its unit (its direction is in BENCHMARK.json). Finally it runs the
benchmark in a directory holding only BENCHMARK.json and perfbench/,
where it must fail without printing a result. Takes a few minutes.
"""

import json
import math
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check_spec(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}, spec.keys()
    assert 1 <= len(spec["command"]) <= 32 and all(len(c) <= 200 for c in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/"), p
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"], w
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
        names.append(m["name"])
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names)), names
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def run(cwd, workload, trace):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    print("BENCHMARK.json: schema ok")

    failures = []
    for workload in ("point-search", "batch-search", "ingest"):
        for trace in (0, 1):
            wanted = spec["per_layer" if trace else "end_to_end"]
            p = run(ROOT, workload, trace)
            tag = f"{workload} trace {trace}"
            try:
                assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-2000:]}"
                r = json.loads(p.stdout.strip().splitlines()[-1])
                assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
                assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, \
                    "\n".join(l for l in p.stdout.splitlines() if l.startswith(("FAILED", "METRIC")))
                assert set(r["metrics"]) == {m["name"] for m in wanted}, \
                    set(r["metrics"]) ^ {m["name"] for m in wanted}
                for m in wanted:
                    got = r["metrics"][m["name"]]
                    assert got["unit"] == m["unit"], (m["name"], got)
                    assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), (m["name"], got)
                print(f"{tag}: ok ({r['attempted']} ops, {len(r['metrics'])} metrics)")
            except AssertionError as e:
                failures.append(tag)
                print(f"{tag}: FAILED {e}")

    # without the engine sources next to it the benchmark must fail cleanly
    bare = os.path.join(BENCH, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".out", ".build", "target"))
    p = run(bare, "point-search", 0)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode != 0 and not p.stdout.strip():
        print("bare directory: fails without a result, ok")
    else:
        failures.append("bare directory")
        print(f"bare directory: FAILED (exit {p.returncode}, stdout {p.stdout[-300:]!r})")

    if failures:
        print("self-test FAILED: " + ", ".join(failures))
        sys.exit(1)
    print("self-test passed")


if __name__ == "__main__":
    main()
