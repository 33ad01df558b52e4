#!/usr/bin/env python3
"""Layered benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. One run builds the program from source when
the sources changed, generates the workload's inputs from the seed (cached per
seed and scale), then drives the workload's queries in a closed loop from one
client in a fresh JVM (perfbench/harness). Every result, the warm pass's
too, is checked against its reference digest in perfbench/refs.json, which
--refresh-refs sets from the DuckDB oracle (SparkEntry.oracleSql, compared
with tools/parity.py's rules). A query without a reference counts as failed.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of the traced passes. Workloads, metrics and
the layer each metric belongs to are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
REFS = os.path.join(HERE, "refs.json")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
KEEP_RUNS = 8
ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
             "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
             "sun.security.action sun.util.calendar").split()

END_TO_END = {"wall_s": "s", "query_s_p50": "s", "setup_s": "s"}
PER_LAYER = {
    "driver.build_s": "s", "driver.gap_s": "s", "driver.cleanup_s": "s",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.stages_skipped": "count",
    "scheduler.tasks": "count", "scheduler.task_failures": "count", "scheduler.delay_s": "s",
    "checkpoint.jobs": "count", "checkpoint.s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deser_s": "s", "executor.busy_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records_written": "count",
    "shuffle.fetch_wait_s": "s",
    "memory.spill_mem_mb": "MB", "memory.spill_disk_mb": "MB", "memory.peak_task_mb": "MB",
    "sources.input_mb": "MB", "sources.input_records": "count", "sources.output_mb": "MB",
    "jvm.gc_s": "s", "jvm.live_heap_mb": "MB",
    "trace.overhead_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def testdata_dir(base):
    """The read-only base tables: $GRAFT_TESTDATA_DIR/<base>, else the
    directory TESTDATA.md lists for that scale."""
    if os.environ.get("GRAFT_TESTDATA_DIR"):
        d = os.path.join(os.environ["GRAFT_TESTDATA_DIR"], base)
    else:
        doc = os.path.join(ROOT, "TESTDATA.md")
        m = re.search(r"`([^`]*/%s)/?`" % re.escape(base), open(doc).read()) \
            if os.path.exists(doc) else None
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        fail(f"no base tables for {base} (set GRAFT_TESTDATA_DIR)")
    return d


def build(home):
    """Compiles the program and the harness when their sources changed."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                     glob.glob(os.path.join(HERE, "harness/**/*"), recursive=True))
    h = hashlib.sha256()
    for p in sources:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            h.update(open(p, "rb").read())
    stamp, classes = h.hexdigest(), os.path.join(WORK, "classes")
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    os.makedirs(WORK, exist_ok=True)
    log("building program and harness")
    t0 = time.perf_counter()
    env = dict(os.environ, SPARK_HOME=home)
    r = subprocess.run(["bash", os.path.join(HERE, "harness/build.sh"), classes], env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return classes, stamp


def heap_size():
    """Half of MemTotal in GiB, clamped to 2..8, as the tier-1 run sizes it."""
    kb = 0
    for line in open("/proc/meminfo"):
        if line.startswith("MemTotal:"):
            kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def load1():
    return os.getloadavg()[0]


def commit():
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True) \
        if os.path.isdir(os.path.join(ROOT, ".git")) else None
    return r.stdout.strip() if r and r.returncode == 0 else "none"


def jvm_timeout(seconds):
    """Seconds the harness may take: an allowance for JVM start, the warm
    pass and the check pass, plus room for the closed loop to finish its last
    pass (a run makes at least three or four passes, even for a short
    --seconds)."""
    return 130 + 4 * seconds


def run_jvm(home, classes, run_dir, inputs, wl, args, check, faults, warm_faults):
    for d in ("tmp", "model-cache", "spark-local", "warehouse", "check"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    conf = [f"spark.local.dir={run_dir}/spark-local",
            f"spark.sql.warehouse.dir={run_dir}/warehouse"] + wl.get("conf", [])
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xmx{heap_size()}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dgraft.model.cache.dir={run_dir}/model-cache",
            "-cp", f"{classes}:{home}/jars/*", "graftbench.Harness",
            "--inputs", inputs, "--queries", ",".join(wl["queries"] + faults),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", f"{run_dir}/result.json", "--spans", f"{run_dir}/spans.jsonl",
            "--t0-ms", repr(time.time() * 1000), "--conf", ",".join(conf),
            "--check-dir", f"{run_dir}/check", "--check", ",".join(check),
            "--fault-throw", ",".join(faults), "--fault-warm", ",".join(warm_faults)])
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                               timeout=jvm_timeout(args.seconds))
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish within {jvm_timeout(args.seconds):.0f} s")
    if r.returncode != 0 or not os.path.exists(f"{run_dir}/result.json"):
        sys.stderr.write(open(os.path.join(run_dir, "stderr.log")).read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    return json.load(open(f"{run_dir}/result.json"))


def oracle_refs(inputs, run_dir, res):
    """Reference digests for the queries of the check pass: the digest of the
    written result when it equals the DuckDB oracle by tools/parity.py's
    rules (columns by name, sorted rows, exact values), else the failure."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from parity import canon

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')")
    refs = {}
    for name, digest in res["check"].items():
        sql = res["oracle"].get(name)
        if digest.startswith("error"):
            refs[name] = {"error": digest}
            continue
        if sql is None:
            refs[name] = {"error": "no oracle SQL"}
            continue
        files = glob.glob(f"{run_dir}/check/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        g, e = canon(got), canon(con.execute(sql).df())
        try:
            assert list(g.columns) == list(e.columns), f"columns {list(g.columns)} vs {list(e.columns)}"
            assert len(g) == len(e), f"rows {len(g)} vs {len(e)}"
            pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
            refs[name] = {"digest": digest}
        except AssertionError as ex:
            refs[name] = {"error": "oracle mismatch: " + str(ex)[:300]}
        log(f"oracle {name}: {'PASS' if 'digest' in refs[name] else refs[name]['error']}")
    return refs


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(res, refs, trace):
    """(attempted, failed, end-to-end metrics, shown metrics, per-layer
    metrics). Every execution counts in attempted and failed: the untimed
    warm pass, the only one that builds the ModelCache artifacts, as well as
    the timed passes."""
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    attempted = failed = 0
    for phase, execs in [("warm", res["warm"])] + [(f"pass {i + 1}", p["execs"]) for i, p in enumerate(passes)]:
        for e in execs:
            attempted += 1
            ref = refs.get(e["name"], {"error": "no reference digest in perfbench/refs.json"})
            why = e["error"] or ref.get("error") or (
                None if ref["digest"] == e["digest"] else f"digest {e['digest']} is not the reference")
            if why:
                failed += 1
                log(f"FAILED {e['name']} ({phase}): {why}")

    def wall(ps):
        return median([sum(e["latency_s"] for e in p["execs"]) for p in ps])

    e2e = {
        "wall_s": wall(plain),
        "query_s_p50": median([e["latency_s"] for p in plain for e in p["execs"]]),
        "setup_s": res["setup_s"],
    }
    shown = {"failed_frac": failed / attempted,
             "peak_heap_mb": median([max(e["heap_mb"] for e in p["execs"]) for p in plain])}
    per_pass = []
    for p in traced:
        sums = {}
        for e in p["execs"]:
            for k, v in e["layers"].items():
                sums[k] = max(sums.get(k, 0.0), v) if k == "memory.peak_task_mb" else sums.get(k, 0.0) + v
        sums["jvm.live_heap_mb"] = max(e["heap_mb"] for e in p["execs"])
        active = sums.pop("executor.active_core_s", 0.0)
        sums["executor.busy_frac"] = sums.get("executor.run_s", 0.0) / active if active else 0.0
        per_pass.append(sums)
    layers = {k: median([s.get(k, 0.0) for s in per_pass]) for k in PER_LAYER if k != "trace.overhead_s"}
    layers["trace.overhead_s"] = wall(traced) - wall(plain) if trace else 0.0
    return attempted, failed, e2e, shown, layers


def prune_runs():
    runs = sorted(glob.glob(os.path.join(WORK, "runs", "*")), key=os.path.getmtime)
    for old in runs[:-KEEP_RUNS]:
        shutil.rmtree(old, ignore_errors=True)


def bench(args, faults=(), warm_faults=(), corrupt=(), refresh=False):
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail(f"no program sources under {ROOT}/src/main/scala (run from a checkout of the repo)")
    wl = WORKLOADS[args.workload]
    home = spark_home()
    base = testdata_dir(wl["base"])
    classes, stamp = build(home)
    inputs, gen_s = gen.inputs(os.path.join(WORK, "inputs"), base, wl["mult"], args.seed)
    log(f"workload={args.workload} seed={args.seed} inputs={os.path.relpath(inputs, ROOT)} "
        f"(generated in {gen_s:.2f} s; not part of setup_s)")

    # A query's reference digest is one per input scale (every seed holds the
    # same rows). Only perfbench/refs.json holds them; --refresh-refs sets
    # them from the oracle comparison of a check pass.
    key = f"{wl['base']}-x{wl['mult']}"
    committed = json.load(open(REFS)) if os.path.exists(REFS) else {}
    refs = {} if refresh else {q: {"digest": d} for q, d in committed.get(key, {}).items()}
    check = list(wl["queries"]) if refresh else []

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start = load1()
    res = run_jvm(home, classes, run_dir, inputs, wl, args, check, list(faults), list(warm_faults))
    load_end = load1()
    if refresh:
        refs = oracle_refs(inputs, run_dir, res)
        kept = {q: d for q, d in committed.get(key, {}).items() if q not in refs}
        committed[key] = {**kept, **{q: r["digest"] for q, r in refs.items() if "digest" in r}}
        json.dump(committed, open(REFS, "w"), indent=1, sort_keys=True)
        open(REFS, "a").write("\n")
    refs = {**refs, **{q: {"digest": "0:wrong"} for q in corrupt}}
    for d in ("tmp", "model-cache", "spark-local", "warehouse", "check"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    prune_runs()

    conditions = {"nproc": len(os.sched_getaffinity(0)), "heap": heap_size(), "spark": res["spark_version"],
                  "commit": commit(), "sources": stamp[:16], "seed": args.seed,
                  "load1_start": load_start, "load1_end": load_end, "cores": res["cores"]}
    log("conditions " + json.dumps(conditions))
    attempted, failed, e2e, shown, layers = summarize(res, refs, args.trace)
    n_passes = 1 + len(res["passes"])
    units = dict(END_TO_END, failed_frac="ratio", peak_heap_mb="MB")
    for k, v in {**e2e, **shown}.items():
        log(f"{k} = {v:.6g} {units[k]}")
    if args.trace:
        for k, v in layers.items():
            log(f"{k} = {v:.6g} {PER_LAYER[k]}")
    log(f"per-query results{' and spans' if args.trace else ''} in {os.path.relpath(run_dir, ROOT)}")
    log(f"{attempted} query executions in {n_passes} passes (warm pass included), {failed} failed")
    metrics = layers if args.trace else e2e
    table = PER_LAYER if args.trace else END_TO_END
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": table[k]} for k, v in metrics.items()}}


def self_test():
    """A wrong reference digest and a throwing query must both count as
    failures, in the warm pass as in the timed ones: runs a two-query
    workload whose references are committed, with the faults injected."""
    WORKLOADS["self_test"] = {"base": "sf0.01", "mult": 1, "queries": ["q1_agg", "window_rank"],
                              "why": "self-test"}
    args = argparse.Namespace(workload="self_test", seed=1, seconds=1, trace=0)
    out = bench(args, faults=["perfbench_fault"], warm_faults=["q1_agg"], corrupt=["window_rank"])
    # Every pass runs q1_agg, window_rank (wrong digest) and the throwing
    # fault; q1_agg also throws in the warm pass, so it fails 3 of 3 and each
    # timed pass fails 2 of 3.
    passes = out["attempted"] // 3
    expected = 2 * passes + 1
    ok = not out["correct"] and out["failed"] == expected and out["attempted"] == 3 * passes
    log(f"self-test {'PASS' if ok else 'FAIL'}: {out['failed']} of {out['attempted']} executions "
        f"counted failed, expected {expected}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--refresh-refs", action="store_true",
                    help="re-derive the workload's reference digests from the oracle into perfbench/refs.json")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(bench(args, refresh=args.refresh_refs)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
