#!/usr/bin/env python3
"""Compare two Verify output directories query by query — the gate for a
refactor that must not change any result ("Verify hashes identical
before and after").

Usage: python3 tools/verify_diff.py <before_out> <after_out>
       python3 tools/verify_diff.py --selftest

Each query's parquet output is read and canonicalized exactly as
check_oracle.py does (columns sorted by name, rows sorted, values
type-tagged, floats rounded to 6 places with the sign of zero kept), then
hashed. One line per query: `=` identical, `x` different (schema, row
count or values) or missing on one side. Exits 1 on any difference.
Two Verify runs of the same commit can differ in queries whose output is
not deterministic; run the tool on two runs of the parent to see which.
"""
import hashlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import canon, read_spark_parquet  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def query_dirs(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}


def schema_of(qdir):
    files = sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))
    if not files:
        return None
    s = pq.read_schema(os.path.join(qdir, files[0]))
    return sorted((f.name, str(f.type)) for f in s)


def digest(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def compare(before, after):
    """Yield (query, same, message) for every query in either dir."""
    qb, qa = query_dirs(before), query_dirs(after)
    for q in sorted(qb | qa):
        if q not in qa or q not in qb:
            yield q, False, f"only in {'before' if q in qb else 'after'}"
            continue
        db, da = os.path.join(before, q), os.path.join(after, q)
        sb, sa = schema_of(db), schema_of(da)
        cb, rb = canon(read_spark_parquet(db))
        ca, ra = canon(read_spark_parquet(da))
        if sb != sa:
            yield q, False, f"schema before={sb} after={sa}"
        elif len(rb) != len(ra):
            yield q, False, f"rows before={len(rb)} after={len(ra)}"
        elif (cb, rb) != (ca, ra):
            first = next(i for i, (x, y) in enumerate(zip(rb, ra)) if x != y)
            yield q, False, (f"values differ, first at sorted row {first}: "
                             f"before={rb[first]} after={ra[first]}")
        else:
            yield q, True, f"{len(rb)} rows, hash {digest(cb, rb)}"


def run(before, after):
    n_same = n_diff = 0
    for q, same, msg in compare(before, after):
        print(f"  {'=' if same else 'x'} {q}: {msg}")
        if same:
            n_same += 1
        else:
            n_diff += 1
    print(f"IDENTICAL {n_same} DIFFERENT {n_diff}")
    return n_diff


def selftest():
    """Planted cases: each must be graded as stated."""
    def write(root, q, table):
        d = os.path.join(root, q)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    t = pa.table({"id": [1, 2, 3], "x": [0.5, 0.0, 2.0]})
    cases = {
        # query: (before table, after table or None for missing, same?)
        "same": (t, t, True),
        "row_order": (t, t.take([2, 0, 1]), True),
        "value": (t, pa.table({"id": [1, 2, 3], "x": [0.5, 0.0, 2.5]}), False),
        "neg_zero": (t, pa.table({"id": [1, 2, 3], "x": [0.5, -0.0, 2.0]}), False),
        "int_to_float": (pa.table({"n": [1, 2]}), pa.table({"n": [1.0, 2.0]}), False),
        "extra_row": (t, pa.table({"id": [1, 2, 3, 4], "x": [0.5, 0.0, 2.0, 1.0]}), False),
        "missing": (t, None, False),
    }
    with tempfile.TemporaryDirectory() as before, tempfile.TemporaryDirectory() as after:
        for q, (b, a, _) in cases.items():
            write(before, q, b)
            if a is not None:
                write(after, q, a)
        got = {q: same for q, same, _ in compare(before, after)}
    want = {q: same for q, (_, _, same) in cases.items()}
    bad = {q: got.get(q) for q in want if got.get(q) != want[q]}
    if bad:
        print(f"selftest FAILED: {bad}")
        sys.exit(1)
    print(f"selftest ok ({len(want)} cases)")


def main():
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
        return
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(1 if run(sys.argv[1], sys.argv[2]) else 0)


if __name__ == "__main__":
    main()
