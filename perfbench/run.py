#!/usr/bin/env python3
"""The repository benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from this source tree (sbt,
offline; cached under .bench_build/ by a hash of the sources),
generates the workload's inputs from the seed, runs one JVM with one
closed-loop client over local[nproc], checks every operation's result
against its oracle outside the timed window, and prints:

  - a one-line summary first,
  - one line per metric (name, value, unit),
  - the path of the full record (.bench_build/records/...json),
  - last, one JSON object: correct, attempted, failed and the metrics
    (end-to-end with --trace 0, per-layer with --trace 1).

Workloads (BENCHMARK.json says why each one is there):
  nl_small        seeded descriptions + NL pack queries over sf0.01
  store_ingest    appends to a lexical index, an IVF index and an event
                  log, read-your-write probes, compaction and vacuum

Extra flags: --cycles N and --warmup-cycles N fix the operation counts
instead of the time budget (the determinism test uses them).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    # name: (sf, append batches per store in the ingest pool; 0: the
    # workload reads the generated tables instead)
    "nl_small": (0.01, 0),
    # the stores' first batch, then one a cycle: at most 3 warm-up
    # cycles and 4 window cycles
    "store_ingest": (0.01, 1 + 3 + 4),
}
JVM_TIMEOUT_S = 150
# A fixed-size heap with a fixed young generation: every run touches the
# same eden pages, so peak RSS moves with retained data, not with the
# collector's sizing decisions.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/jvm/build.sbt", "perfbench/jvm/project/build.properties",
            "perfbench/jvm/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build(root, work):
    """Compiles engine + harness once per source digest; returns the
    runtime classpath."""
    digest = source_digest(root)
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench", "jvm"), env=sbt_env(),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip(), digest


def inputs(work, workload, seed):
    """Generates (once per seed) the workload's inputs: the ingest pool
    for a store workload, the tables otherwise."""
    import datagen
    sf, batches = WORKLOADS[workload]
    data = os.path.join(work, "data", f"sf{sf}-s{seed}")
    if batches:
        pool = os.path.join(data, "ingest")
        if not os.path.exists(os.path.join(pool, "layout.properties")):
            shutil.rmtree(pool, ignore_errors=True)
            datagen.ingest(pool, sf, seed, batches)
    elif not os.path.exists(os.path.join(data, ".done")):
        datagen.generate(data, sf, seed)
        open(os.path.join(data, ".done"), "w").close()
    return data


def commit_of(root, digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + digest[:16]


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(cp, run_dir, args, nproc, data):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out,
            "--nproc", str(nproc), "--cycles", str(args.cycles),
            "--warmup-cycles", str(args.warmup_cycles)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s (log: {log.name})")
    if rc != 0 or not os.path.exists(os.path.join(out, "record.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f), out


def judge(rec, data):
    """Runs the DuckDB oracles; returns (attempted, failed keys). An
    operation fails when it threw, when its key's check failed, or when
    a workload-wide check (a key no operation has) failed."""
    import oracle
    con = None
    for c in rec["checks"]:
        if c["ok"] is None:
            con = con or oracle.connect(data)
            reason = oracle.check(con, c["sql"], c["result_dir"], c["exact"])
            c["ok"], c["reason"] = reason is None, reason or ""
    phase = "traced" if rec["trace"] else "timed"
    window = [s for s in rec["samples"] if s["phase"] == phase]
    keys = {s["key"] for s in rec["samples"]}
    verdicts = {c["key"]: c["ok"] for c in rec["checks"]}
    workload_ok = all(c["ok"] for c in rec["checks"] if c["key"] not in keys)
    failed = [s["key"] for s in window
              if s["error"] is not None or not verdicts.get(s["key"], False) or not workload_ok]
    return len(window), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=2)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cycles", type=int, default=0)
    ap.add_argument("--warmup-cycles", type=int, default=-1)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp, digest = build(root, work)
    data = inputs(work, args.workload, args.seed)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0, total0 = cpu_ticks()
    rec, out = run_jvm(cp, run_dir, args, nproc, data)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran:
    # when it is high, every latency of the run is inflated
    rec["cpu_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    attempted, failed = judge(rec, data)

    rec["commit"] = commit_of(root, digest)
    rec["attempted"] = attempted
    rec["failed"] = len(failed)
    rec["failed_keys"] = sorted(set(failed))
    rec["failed_frac"] = len(failed) / max(attempted, 1)
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    rec_path = os.path.join(records, name + ".json")
    with open(rec_path, "w") as f:
        json.dump(rec, f, indent=1)
    shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(records, name + ".spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    win = rec["window"]
    if args.trace:
        values = dict(rec["per_layer"], **{"stores.space_amp": rec["space_amp"]})
    else:
        values = {"setup_s": rec["setup"]["setup_s"], "op_p50_ms": win["op_p50_ms"],
                  "op_tail_ms": win["op_tail_ms"], "ops_per_s": win["ops_per_s"],
                  "peak_rss_mb": rec["peak_rss_mb"]}
    # names and units as BENCHMARK.json declares them
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: (values[m["name"]] or 0.0, m["unit"]) for m in declared}
    correct = not failed
    print(f"PERFBENCH {args.workload} seed={args.seed} trace={args.trace} "
          f"correct={str(correct).lower()} ops={attempted} failed={len(failed)} "
          f"p50={win['op_p50_ms']:.1f}ms p{win['tail_percentile']:.1f}={win['op_tail_ms']:.1f}ms "
          f"setup={rec['setup']['setup_s']:.2f}s warmup_ops={rec['setup']['warmup_ops']} "
          f"cpu_steal={rec['cpu_steal_frac']:.1%}")
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}")
    print(f"  failed_frac = {rec['failed_frac']:.6g} ratio")
    if rec["space_amp"] is not None:
        print(f"  space_amp = {rec['space_amp']:.6g} ratio")
    print(f"  record: {os.path.relpath(rec_path, root)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
