#!/usr/bin/env python3
"""The benchmark's own test: per-operation counters repeat exactly.

Runs the traced benchmark twice with one seed and fixed operation
counts (one warm-up cycle, then one untraced and one traced cycle) for
each workload named (both by default) and asserts that every traced
operation ran the same jobs, stages and tasks, read the same input
bytes, wrote the same shuffle records and bytes and the same number of
store files both times.

Shuffle bytes are compressed sizes. Store files carry random names, so
a compaction that lists a store's files can read them in another order
and compress the same shuffle records a few bytes differently: for
those, a byte difference under 0.1% with identical records is reported
as a note, not a failure.

    python3 perfbench/test_determinism.py [--seed N] [workload ...]

Run from the repository root; exits 1 on any difference.
"""
import argparse
import json
import os
import subprocess
import sys

COUNTERS = ["jobs", "stages", "tasks", "input_bytes", "shuffle_write_records",
            "shuffle_write_bytes", "files_written"]
HERE = os.path.dirname(os.path.abspath(__file__))


def traced_counters(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", "1", "--cycles", "1", "--warmup-cycles", "1"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload}: benchmark failed\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"{workload}: {result['failed']} operations failed their checks")
    with open(os.path.join(".bench_build", "records", f"{workload}-s{seed}-t1.json")) as f:
        rec = json.load(f)
    return [(s["key"], {c: s["counters"][c] for c in COUNTERS})
            for s in rec["samples"] if s["phase"] == "traced"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*",
                    default=["nl_small", "store_ingest"])
    args = ap.parse_args()
    bad = 0
    for w in args.workloads:
        first, second = traced_counters(w, args.seed), traced_counters(w, args.seed)
        if [k for k, _ in first] != [k for k, _ in second]:
            print(f"FAIL {w}: operation sequences differ")
            bad += 1
            continue
        diffs = []
        for (k, a), (_, b) in zip(first, second):
            exact = [c for c in COUNTERS if c != "shuffle_write_bytes"]
            bytes_a, bytes_b = a["shuffle_write_bytes"], b["shuffle_write_bytes"]
            if any(a[c] != b[c] for c in exact) or \
                    abs(bytes_a - bytes_b) > 0.001 * max(bytes_a, bytes_b):
                diffs.append((k, a, b))
            elif bytes_a != bytes_b:
                print(f"note {w} {k}: shuffle bytes {bytes_a} vs {bytes_b} "
                      "for identical records")
        for k, a, b in diffs:
            print(f"FAIL {w} {k}: {a} != {b}")
        bad += bool(diffs)
        if not diffs:
            print(f"ok   {w}: {len(first)} operations, counters identical")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
