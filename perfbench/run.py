#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_keys --seed 1 --seconds 5 --trace 0

One client issues one operation at a time against `local[4]` and waits for
its full result, which is checked before the next operation starts. The
first run in a checkout compiles the engine with the harness (its own sbt
build in this directory) and prepares golden digests: `graft.Verify` dumps
every benchmarked query key and `tools/check_oracle.py` compares each dump
with DuckDB. Both are cached under `.bench_build/graft/`.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics of a separate traced run. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The raw record
of every run (ops, passes, spans, listener counts, per-key table) is kept
in `.bench_build/graft/runs/`.

The warehouse is read-only; its directory is `$GRAFT_BENCH_WAREHOUSE`, by
default `~/testdata/sf0.1`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "graft")
WAREHOUSE = os.environ.get("GRAFT_BENCH_WAREHOUSE",
                           os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
HEAP = "3g"
RUN_LIMIT_S = 170      # a run, build and golden preparation aside
BUILD_LIMIT_S = 600

# Oracle-checked query keys, one per mechanism: single-task scan plus
# aggregate (q1), the stacked histQuantiles pass (rfm), registry-shared LSH
# bands built with the codegen'd minhash_sig/shingles3 (minhash), and an
# iterative peel over a registry-checkpointed graph (kcore). NOTES.md says
# why the list is this short.
QUERY_KEYS = ["q_tpch_q1", "q_events_rfm", "q_dedup_minhash", "q_graph_kcore"]
WORKLOADS = {
    "query_keys": QUERY_KEYS,
    "connector_rw": [],
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LAYER_UNITS = {
    "warehouse.register_s": "s",
    "connector.read_plan_s": "s", "connector.partition_fit": "ratio",
    "connector.size_fit": "ratio", "connector.resize_shuffle_bytes": "bytes",
    "sources.scan_tasks": "count", "sources.scan_task_s": "s",
    "sources.decode_rows_per_task_s": "rows/s",
    "sources.scan_straggler_ratio": "ratio",
    "sink.write_task_s": "s", "sink.files_written": "count",
    "sink.bytes_per_row": "bytes/row",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.one_task_stage_s": "s",
    "spark.one_task_stage_share": "ratio", "spark.core_util": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "driver.s": "s", "driver.share": "ratio",
    "ops.jobs_per_op_p50": "count", "ops.jobs_per_op_max": "count",
    "registry.entries": "count", "registry.warm_pass_s": "s",
    **{f"functions.{f}_rows_per_s": "rows/s" for f in (
        "cosine_similarity", "dot_product", "code_dot", "minhash_sig",
        "simhash64", "jaro_winkler", "shingles3", "lsh_bands")},
    "trace.overhead_ratio": "ratio",
}

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "ok_ratio": "ratio", "read_rows_per_s": "rows/s",
    "write_rows_per_s": "rows/s", "heap_retained_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_hash():
    """Content hash of everything the benchmark JVM is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_proc(cmd, log_path, timeout, cwd=ROOT, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(stamp):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    marker = os.path.join(STATE, "build.stamp")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logp = os.path.join(STATE, "build.log")
    log("building the engine and the harness (sbt Compile/products)")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                  logp, BUILD_LIMIT_S, cwd=HERE, env=env)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{tail(logp)}")
    with open(marker, "w") as f:
        f.write(stamp)
    return classes


def java_cmd(classes, work, main, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + opens + [
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        "-cp", f"{classes}:{os.path.join(spark_home, 'jars', '*')}",
        main] + args)


def golden(classes, stamp):
    """Oracle-check every benchmarked key once per build; digest the dumps."""
    keys = sorted(k for ks in WORKLOADS.values() for k in ks)
    gstamp = hashlib.sha256((stamp + WAREHOUSE + ",".join(keys)).encode()).hexdigest()
    path = os.path.join(STATE, "golden.json")
    marker = os.path.join(STATE, "golden.stamp")
    if os.path.exists(marker) and open(marker).read() == gstamp and os.path.exists(path):
        return path
    work = os.path.join(STATE, "golden")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump")
    env = dict(os.environ, SPARK_GRAFT_KEYS=",".join(keys), SPARK_GRAFT_CPUS="4")
    log(f"dumping {len(keys)} query results with graft.Verify")
    logp = os.path.join(STATE, "verify.log")
    rc = run_proc(java_cmd(classes, work, "graft.Verify", [WAREHOUSE, dump]),
                  logp, 900, env=env)
    if rc != 0:
        fail(f"graft.Verify failed (rc={rc}):\n{tail(logp)}")
    log("comparing every dump with its DuckDB oracle (tools/check_oracle.py)")
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    res = subprocess.run([sys.executable, checker, WAREHOUSE, dump, ",".join(keys)],
                         cwd=ROOT, capture_output=True, text=True, timeout=900)
    verdicts = {}
    for line in res.stdout.splitlines():
        if line.startswith("PASS "):
            verdicts[line.split()[1]] = "PASS"
        elif line.startswith("FAIL "):
            k = line[5:].split(":", 1)[0]
            verdicts[k] = line[:300]
    for k in keys:
        verdicts.setdefault(k, "no oracle verdict")
    bad = {k: v for k, v in verdicts.items() if v != "PASS"}
    if bad:
        log(f"oracle mismatches: {bad}")
    vpath = os.path.join(work, "verdicts.tsv")
    with open(vpath, "w") as f:
        for k, v in sorted(verdicts.items()):
            f.write(f"{k}\t{v.replace(chr(9), ' ')}\n")
    logp = os.path.join(STATE, "golden.log")
    rc = run_proc(java_cmd(classes, work, "graftbench.Main", [
        "golden", "--warehouse", WAREHOUSE, "--work", work, "--dump", dump,
        "--verdicts", vpath, "--out", path]), logp, 300)
    if rc != 0:
        fail(f"golden digests failed (rc={rc}):\n{tail(logp)}")
    shutil.rmtree(work, ignore_errors=True)
    with open(marker, "w") as f:
        f.write(gstamp)
    return path


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs):
    """Nearest-rank p90, or the highest of a few coarser percentiles that
    keeps at least ten samples beyond it; the median when none does."""
    xs = sorted(xs)
    n = len(xs)
    for q in (0.9, 0.8, 0.75, 0.66):
        k = math.ceil(q * n)
        if n - k >= 10:
            return xs[k - 1], q, n
    return median(xs), 0.5, n


def rows_per_s(passes, kinds, rows):
    """Median over passes of the pass's rows over its ops' wall time."""
    rates = []
    for p in passes:
        ops = [o for o in p["ops"] if o["ok"] and o["kind"] in kinds]
        wall = sum(o["wall_s"] for o in ops)
        if wall > 0:
            rates.append(sum(o[rows] for o in ops) / wall)
    return median(rates)


def end_to_end(rec):
    ops = [o for p in rec["passes"] for o in p["ops"]]
    times = [o["wall_s"] for o in ops if o["ok"]]
    # a workload without writes of its own times a separate write probe
    writes = rec["passes"] if any(o["kind"] == "write" for o in ops) \
        else rec.get("write_probe", [])
    p90, q, n = tail_percentile(times)
    log(f"op_p90_s is p{round(q * 100)} over {n} op timings; "
        f"{len(rec['passes'])} timed passes in {rec['measured_s']:.1f} s")
    attempted = rec["attempted"]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": median([p["wall_s"] for p in rec["passes"]]),
        "op_p50_s": median(times),
        "op_p90_s": p90,
        "ok_ratio": (attempted - len(rec["failures"])) / max(1, attempted),
        "read_rows_per_s": rows_per_s(rec["passes"], ("query", "read"), "read_rows"),
        "write_rows_per_s": rows_per_s(writes, ("write",), "write_rows"),
        "heap_retained_mb": rec["heap_retained_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (run_proc's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            fail(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing "
                 "(run from the root of the repository)")
    if not os.path.isdir(WAREHOUSE):
        fail(f"warehouse directory {WAREHOUSE} not found (set GRAFT_BENCH_WAREHOUSE)")
    os.makedirs(STATE, exist_ok=True)

    stamp = sources_hash()
    classes = build(stamp)
    golden_path = golden(classes, stamp)

    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    logp = os.path.join(STATE, "run.log")
    t0 = time.time()
    rc = run_proc(java_cmd(classes, work, "graftbench.Main", [
        "run", "--workload", a.workload, "--keys", ",".join(WORKLOADS[a.workload]),
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--warehouse", WAREHOUSE, "--work", work,
        "--golden", golden_path, "--out", out]), logp, RUN_LIMIT_S)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (rc={rc}):\n{tail(logp)}")
    log(f"JVM finished in {time.time() - t0:.1f} s")
    with open(out) as f:
        rec = json.load(f)
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    shutil.copy(out, os.path.join(
        runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)

    failed = len(rec["failures"])
    for msg in rec["failures"][:20]:
        log(f"FAILED {msg}")
    if a.trace:
        metrics = {k: {"value": rec["layers"][k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in end_to_end(rec).items()}
    print(json.dumps({"correct": failed == 0, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
