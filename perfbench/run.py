#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload floor_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source once per checkout (sbt,
offline), generates the seed's inputs, runs the harness JVM as a closed
loop with one client on local[nproc], checks the outputs and prints, as
the last line of stdout, {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (spans go to .perfbench_work/run/).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SF = 0.1
WORK = ".perfbench_work"
KEEP_SEEDS = 24
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs(root):
    """Every file the build reads, for the rebuild stamp."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(HERE, "harness", "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "harness", "build.sbt"),
              os.path.join(HERE, "harness", "project", "build.properties")]
    return sorted(files)


def build(root, work):
    """Compile engine + harness with sbt; cache the runtime classpath."""
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(work, "build.stamp"), os.path.join(work, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=fh,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.count(os.pathsep) > 5 and ln.startswith(os.sep)]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cps[-1]


def inputs(work, seed):
    """The seed's generated tables and ETL inputs, made once per seed and
    version of the generator."""
    base = os.path.join(work, "data")
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(base, f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(seed, SF, os.path.join(d, "tables"))
        gen.etl(seed, os.path.join(d, "etl"))
        open(os.path.join(d, "done"), "w").close()
    os.utime(d, None)
    old = sorted((os.path.join(base, x) for x in os.listdir(base)),
                 key=os.path.getmtime)[:-KEEP_SEEDS]
    for x in old:
        shutil.rmtree(x, ignore_errors=True)
    return os.path.join(d, "tables"), os.path.join(d, "etl")


def heap():
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration):
        return "2g"


def percentile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources are missing")
    import oracle  # tools/check.py's compare rules, from the checkout
    if "SPARK_EXTRA_CONF" in os.environ:
        fail("SPARK_EXTRA_CONF is set: it would change the measured program")
    for k in ("spark.graft.ckptBypassForExplain", "spark.graft.streamResultMemo"):
        if k in os.environ.get("JAVA_TOOL_OPTIONS", "") + os.environ.get("_JAVA_OPTIONS", ""):
            fail(f"{k} is set in the JVM options")

    work = os.path.join(root, WORK)
    os.makedirs(work, exist_ok=True)
    phases = {}
    t = time.time()
    cp = build(root, work)
    phases["build_s"], t = time.time() - t, time.time()
    tables, etl = inputs(work, args.seed)
    phases["inputs_s"], t = time.time() - t, time.time()
    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))

    spec = workloads.get(args.workload, {})
    members = [q["name"] for q in spec.get("queries", [])]
    out = os.path.join(run, "result.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run, 'spark-local')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", tables, "--members", ",".join(members),
            "--warmup", workloads["warmup"],
            "--tables", "1" if spec.get("tables", True) else "0",
            "--work", run, "--out", out] + (["--etl", etl] if spec.get("etl") else []))
    # the first run also builds; the 180 s limit is for what follows
    budget = 170 - (time.time() - started - phases["build_s"])
    with open(os.path.join(run, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(budget, 30))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
    if r.returncode != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(os.path.join(run, "jvm.log")).readlines()[-30:]))
        fail(f"harness exited with {r.returncode}")
    res = json.load(open(out))
    phases["harness_s"], t = time.time() - t, time.time()

    # correctness: thrown ops, oracle mismatches, ETL output checks
    chk = res["check"]
    bad = oracle.compare(tables, chk["dir"], chk["oracle_sql"])
    problems = res["failed"] + chk["errors"] + [f"{n}: {why}" for n, why in sorted(bad.items())]
    mismatched = set(bad) | {e.split(":")[0] for e in chk["errors"]} - {"etl"}
    phases["oracle_s"] = time.time() - t
    attempted = int(res["attempted"])
    # every execution of a query whose output is wrong counts as failed,
    # and each failed ETL output check as one failed op
    failed = (int(res["failed_ops"]) + sum(int(res["ok_counts"].get(n, 0)) for n in mismatched)
              + sum(1 for e in chk["errors"] if e.startswith("etl:")))
    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)

    ops = res["op_s"]
    e2e = {"setup_s": res["setup_s"], "cold_pass_s": res["cold_pass_s"],
           "pass_s": res["pass_s"][0], "heap_live_mb": res["heap_live_mb"]}
    if args.trace:
        lay = dict(res["layers"])
        for k in ("engine.session_s", "engine.persist_tables_s", "engine.cache_bytes"):
            lay[k] = res[k]
        pass_s = e2e["pass_s"]
        lay["ops.failed_frac"] = failed / attempted
        lay["ops.samples"] = len(ops)
        lay["ops.p50_s"] = statistics.median(ops)
        lay["ops.p90_s"] = percentile(ops, 90)
        lay["trace.pass_s"] = pass_s
        in_b = lay.get("sources.input_bytes", 0.0)
        lay["sources.write_mb_s"] = in_b / 1048576.0 / pass_s if in_b else 0.0
        lay["sources.bytes_written_ratio"] = (
            lay.get("sources.bytes_written", 0.0) / in_b if in_b else 0.0)
        metrics = {m["name"]: {"value": float(lay.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    phases.update(jvm_start_s=res["jvm_start_s"], check_s=res["check_s"])
    print(json.dumps({"workload": args.workload, "seed": args.seed, **phases,
                      "warm_passes": len(res["pass_s"]), "op_samples": len(ops),
                      "failed_ops": sorted({f.split(":")[0] for f in res["failed"]} | mismatched)}),
          file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
