#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap|retail-etl|surface --seed N \
        --seconds S --trace 0|1 [--record]

Builds the program and the benchmark driver from source on first use
(`sbt writeLaunch` in this directory; outputs stay under perfbench/target),
generates the workload's inputs from the seed, runs the driver in one JVM
with `local[nproc]`, checks every output, and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. The line before it describes the run
(seed, cores, load averages, commit, tail percentile, checks). Exits 1 when
an output is wrong, a traced run sees a Spark job without a tag, or the
program cannot be built or run.

`--record` (surface only) rewrites surface_expected.json, the row counts and
checksums the surface calls are checked against, from the run's own outputs.
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

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
LAUNCH_DIGEST = os.path.join(TARGET, "launch.digest")
CORPUS = os.path.join(HERE, "corpus")
SURFACE_EXPECTED = os.path.join(HERE, "surface_expected.json")

# Input sizes, chosen so one run (three set-ups plus the measured phase)
# ends well inside three minutes on four cores.
OLAP_SF = 0.005
RETAIL_TXN_ROWS = 50_000
RETAIL_CUSTOMER_ROWS = 5_000
# a fixed heap; JIT compiler threads that live as long as the JVM, so their
# CPU time can be told apart (see Probes.jitS); no perf-data file in /tmp
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData"]
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 160


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def sources_digest():
    """Digest of everything the build compiles, so a stale build is redone."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(LAUNCH_DIGEST):
        with open(LAUNCH_DIGEST) as f:
            if f.read() == digest:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       HERE, env, out, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(LAUNCH_DIGEST, "w") as f:
        f.write(digest)


def run_child(cmd, cwd, env, out, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -signal.SIGKILL


def run_jvm(workload, data, work, seed, seconds, trace, cores):
    """Runs the benchmark driver (perfbench.Main) once; returns its report."""
    with open(LAUNCH) as f:
        classpath, *jvm_opts = f.read().splitlines()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "report.json")
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    env.pop("SPARK_LOCAL_DIRS", None)  # keep the session's own spark.local.dir
    cmd = ["java", *JVM_FLAGS, *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Main", "--workload", workload, "--data", data, "--work", work,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        rc = run_child(cmd, work, env, f, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed (rc={rc}), log in {log}")
    with open(out) as f:
        return json.load(f)


def commit():
    """The checkout's commit, or None when it is not a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                          text=True, timeout=10).stdout.strip() or None


# --- output checks ------------------------------------------------------------

def check_olap(data, report):
    """Compares each query's warm-up result with its DuckDB twin: same column
    names and types, same multiset of rows (floats compared exactly)."""
    info = report["info"]
    con = duckdb.connect()
    con.sql("SET threads=1")
    for t in gen.OLAP_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    wrong, extra_failed = {}, 0
    for q, sql in sorted(info["oracles"].items()):
        try:
            got = con.sql(f"SELECT * FROM '{info['results_dir']}/{q}/*.parquet'")
            exp = con.sql(sql)
            gt = sorted(zip(got.columns, map(str, got.types)))
            et = sorted(zip(exp.columns, map(str, exp.types)))
            if gt != et:
                wrong[q] = f"schema {gt} vs oracle {et}"
            else:
                cols = ", ".join(f'"{c}"' for c, _ in gt)
                g = sorted(map(repr, got.project(cols).fetchall()))
                e = sorted(map(repr, exp.project(cols).fetchall()))
                if g != e:
                    wrong[q] = f"{len(g)} rows differ from the oracle's {len(e)}"
        except Exception as ex:  # a missing result or a broken twin is a failure
            wrong[q] = f"error: {ex}"
        if q in wrong:
            extra_failed += info["calls"].get(q, 0) - info["failed_calls"].get(q, 0)
    return wrong, extra_failed, 0


def check_retail(expect, report):
    """Compares every iteration's read-back outputs, and one pass of the
    cleaning counters, with the generator's expectations."""
    info = report["info"]
    want = {"fact_rows": expect["fact_rows"], "fact_order_ids": expect["fact_rows"],
            "sale_total": expect["sale_total"], "quantity_total": expect["quantity_total"],
            "scd2_versions": expect["scd2_versions"], "scd2_current": expect["customers"]}
    wrong, extra_failed = {}, 0
    for i, got in enumerate(info["checks"]):
        bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
        if bad:
            wrong[f"iteration {i}"] = bad
            extra_failed += 1
    cleaning = {
        "txn_kept": expect["txn_rows"] - expect["txn_rejects"],
        "product_rejects": expect["product_rejects"],
        "products_kept": gen.N_PRODUCTS - expect["product_rejects"],
        "customers_kept": expect["customers"]}
    bad = {k: (info["cleaning"].get(k), v) for k, v in cleaning.items()
           if info["cleaning"].get(k) != v}
    if bad:
        wrong["cleaning"] = bad
        extra_failed += 1
    return wrong, extra_failed, 1  # the cleaning pass counts as one operation


def check_surface(report, record):
    """Compares every call's row count and checksum with the recorded ones."""
    observed = report["info"]["observed"]
    if record:
        with open(SURFACE_EXPECTED, "w") as f:
            json.dump({q: xs[0] for q, xs in sorted(observed.items())}, f, indent=1)
            f.write("\n")
    with open(SURFACE_EXPECTED) as f:
        expected = json.load(f)
    wrong, extra_failed = {}, 0
    for q, xs in observed.items():
        bad = [x for x in xs if x != expected.get(q)]
        if bad:
            wrong[q] = f"{len(bad)} of {len(xs)} calls gave (rows, checksum) {bad[0]}, " \
                       f"recorded {expected.get(q)}"
            extra_failed += len(bad)
    return wrong, extra_failed, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "retail-etl", "surface"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources next to {HERE}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.time()
    if args.workload == "olap":
        expect = gen.olap(data, args.seed, OLAP_SF)
    elif args.workload == "retail-etl":
        expect = gen.retail(data, args.seed, RETAIL_TXN_ROWS, RETAIL_CUSTOMER_ROWS)
    else:  # a fixed corpus: the seed orders the calls
        os.makedirs(data)
        for name in sorted(os.listdir(CORPUS)):
            shutil.copy(os.path.join(CORPUS, name), data)
        expect = sorted(os.listdir(CORPUS))
    gen_s = time.time() - t0

    report = run_jvm(args.workload, data, work, args.seed, args.seconds, args.trace, cores)

    if args.workload == "olap":
        wrong, extra_failed, extra_ops = check_olap(data, report)
    elif args.workload == "retail-etl":
        wrong, extra_failed, extra_ops = check_retail(expect, report)
    else:
        wrong, extra_failed, extra_ops = check_surface(report, args.record)
    untagged = report["metrics"].get("trace.untagged_jobs", 0)
    if args.trace and untagged:
        wrong["trace"] = f"{untagged:g} Spark jobs ran without a tag"
    attempted = report["attempted"] + extra_ops
    failed = report["failed"] + extra_failed

    metrics = {}
    for m in wanted:
        if m["name"] not in report["metrics"]:
            fail(f"metric {m['name']} missing from the {args.workload} report")
        metrics[m["name"]] = {"value": report["metrics"][m["name"]], "unit": m["unit"]}

    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    describe = dict(report["info"])
    for k in ("oracles", "checks", "calls", "failed_calls", "results_dir", "observed"):
        describe.pop(k, None)
    describe.update(
        workload=args.workload, seed=args.seed, trace=args.trace, cores=cores,
        load_start=report["load_start"], load_end=report["load_end"],
        commit=commit(), sources=sources_digest(), generate_s=gen_s,
        inputs=expect, wrong=wrong, failures=report["failures"])
    print(json.dumps({"run": describe}, sort_keys=True))
    correct = failed == 0 and not wrong
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
