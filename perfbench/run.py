#!/usr/bin/env python3
"""Layered end-to-end benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine and the JVM harness with sbt if their sources
changed, generates the workload's inputs for the seed (once per workload and
seed), launches one JVM at local[<cores>] and drives the workload's queries
one at a time (a closed loop with one client): one cold pass, untimed
warm-up passes, timed warm passes for `--seconds` (at least three), then an
untimed correctness pass that is checked here against the DuckDB oracle
and, for ANN queries, against exact neighbours. perfbench/workloads.json
defines the workloads and documents every metric.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are the per-layer metrics, taken from
traced warm passes that alternate with untraced ones. Inputs, run records
and spans go under $CARGO_TARGET_DIR (default .bench_build)/perfbench;
sbt builds into target/ as usual.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # imports here and from tools/ leave no caches behind

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the module opens the engine's build.sbt passes to forked JVMs
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_ENV = {"COURSIER_MODE": "offline",
           "SBT_OPTS": "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g"}
JVM_TIMEOUT_S = 150


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    d = os.path.join(ROOT, base, "perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            glob.glob(os.path.join(top, "**", "*"), recursive=True))
        for f in files:
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                h.update(open(f, "rb").read())
    return h.hexdigest()


def build(base):
    """Compiles engine and harness with sbt when their sources changed;
    returns the harness's runtime classpath as sbt resolved it."""
    stamp = os.path.join(base, "build.stamp")
    cp_file = os.path.join(base, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    log = os.path.join(base, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                            env={**os.environ, **SBT_ENV}, timeout=800).returncode
    # `export` prints the classpath as one bare line after the log lines
    cp = [line.strip() for line in open(log) if "scala-2.13" in line and os.pathsep in line
          and not line.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]


def inputs(base, name, wl, seed):
    """Generated tables for (workload, seed); keeps the newest few per workload."""
    import gen
    d = os.path.join(base, "data", f"{name}-r{wl['replicas']}-f{wl['fraction']}-s{seed}")
    if not os.path.isdir(d):
        if not os.path.isdir(SPEC["source"]):
            fail(f"source tables {SPEC['source']} not found", 4)
        gen.generate(SPEC["source"], d, seed, wl["replicas"], wl["fraction"])
        old = sorted(glob.glob(os.path.join(base, "data", f"{name}-s*")), key=os.path.getmtime)
        for o in old[:-4]:
            shutil.rmtree(o, ignore_errors=True)
    mb = sum(os.path.getsize(os.path.join(d, t + ".parquet")) for t in wl["tables"]) / 1e6
    return d, mb


def calib():
    """A fixed single-thread CPU loop; its time tracks the host's speed."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t


def jvm(base, tag, classpath, cores, args):
    """Runs the harness; returns its result object and its launch time."""
    work = os.path.join(base, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "out.json")
    cmd = (["java", "-Xms" + SPEC["heap"], "-Xmx" + SPEC["heap"],
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classpath, "perfbench.Harness", f"work={work}", f"out={out}",
              f"cores={cores}"] + [f"{k}={v}" for k, v in args.items()])
    launch = time.time()
    with open(os.path.join(work, "stdout.log"), "w") as so, \
         open(os.path.join(work, "stderr.log"), "w") as se:
        p = subprocess.Popen(cmd, cwd=work, stdout=so, stderr=se)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {work}", 5)
        finally:  # also on SIGTERM or an interrupt: the JVM never outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (rc={rc}); see {work}/stderr.log", 5)
    return json.load(open(out)), launch


def check_oracle(data, dump):
    """tools/compare.py's comparison, run on the generated tables.

    Returns {query: error message} for every dumped query that differs."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from compare import TABLES, cells_eq, norm_cell
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=%d" % os.cpu_count())
    for t in TABLES:
        path = os.path.join(data, t + ".parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for name, sql in sorted(json.load(open(os.path.join(dump, "oracle_sql.json"))).items()):
        files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
        try:
            o = con.sql(sql)
            ocols = [c.lower() for c in o.columns]
            orows = o.fetchall()
            s = con.sql(f"SELECT * FROM read_parquet({files!r})")
            scols = [c.lower() for c in s.columns]
            srows = s.fetchall()
        except Exception as e:  # an oracle or dump that cannot be read is a failure
            bad[name] = f"error: {e}"[:300]
            continue
        if sorted(ocols) != sorted(scols):
            bad[name] = f"columns oracle={sorted(ocols)} spark={sorted(scols)}"
            continue
        operm = [ocols.index(c) for c in sorted(ocols)]
        sperm = [scols.index(c) for c in sorted(scols)]
        orows = [tuple(norm_cell(r[i]) for i in operm) for r in orows]
        srows = [tuple(norm_cell(r[i]) for i in sperm) for r in srows]
        if len(orows) != len(srows):
            bad[name] = f"rowcount oracle={len(orows)} spark={len(srows)}"
            continue
        diff = sum(1 for a, b in zip(orows, srows) if not cells_eq(a, b))
        if diff:
            bad[name] = f"{diff}/{len(orows)} rows differ"
    return bad


def tail(samples):
    """p90 of the samples (inclusive interpolation) and how many lie beyond it.

    A run holds 4 to 25 query executions, too few for a percentile with ten
    samples beyond it; a fixed percentile keeps runs with different pass
    counts comparable."""
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[-1]
    return p90, sum(1 for x in samples if x > p90)


def self_times(spans):
    """Each span kind's self time: its duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, reach = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["kind"]] = out.get(s["kind"], 0.0) + (hi - lo - covered) / 1e3
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = SPEC["workloads"].get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload}; known: {sorted(SPEC['workloads'])}", 2)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found under {ROOT}", 2)

    base = out_dir()
    classpath = build(base)
    data, input_mb = inputs(base, a.workload, wl, a.seed)
    cores = os.cpu_count()
    calib0 = calib()
    res, launch = jvm(base, a.workload, classpath, cores, {
        "data": data, "tables": ",".join(wl["tables"]), "queries": ",".join(wl["queries"]),
        "seconds": a.seconds, "setups": SPEC["setup_samples"], "warmup": wl["warmup_seconds"],
        "trace": a.trace, "ann": ",".join(wl.get("ann", [])), "kernels": ",".join(wl["kernels"])})
    setups = [res["ready_epoch_ms"] / 1e3 - launch] + res["resetup_s"]

    # correctness: every execution that threw, every oracle mismatch,
    # every ANN result below the recall floor and every unchecked query
    passes = [res["cold"]] + res["warmup"] + res["warm"]
    executions = [q for p in passes for q in p["queries"]]
    threw = {q["name"]: q["err"][:300] for q in executions if not q["ok"]}
    corr = res["correctness"]
    wrong = dict(corr["errors"])
    t_oracle = time.time()
    wrong.update(check_oracle(data, corr["dump"]))
    t_oracle = time.time() - t_oracle
    for q, r in corr["recall"].items():
        if r < SPEC["ann_recall_floor"]:
            wrong[q] = f"recall@3 {r:.3f} < {SPEC['ann_recall_floor']}"
    attempted = len(executions) + len(wl["queries"])
    failed = sum(1 for q in executions if not q["ok"]) + len(wrong)
    calib1 = calib()

    warm = res["warm"]
    untraced = [p for p in warm if not p["traced"]]

    def latencies(name=None):
        return [q["construct_s"] + q["exec_s"] for p in untraced for q in p["queries"]
                if name in (None, q["name"])]

    warm_s = statistics.median(p["wall_s"] for p in untraced)
    tail_s, beyond = tail(latencies())
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (res["cold"]["wall_s"], "s"),
        "warm_pass_s": (warm_s, "s"),
        "query_p50_s": (statistics.median(latencies()), "s"),
        "query_tail_s": (tail_s, "s"),
        "throughput_mb_s": (input_mb / warm_s, "MB/s"),
        "peak_rss_mb": (res["rss_hwm_mb"], "MB"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "input_mb": input_mb, "host.calib_s": [calib0, calib1],
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "setup_samples_s": setups, "passes_s": [p["wall_s"] for p in warm],
        "pass_detail": [{k: p[k] for k in ("kind", "start_epoch_ms", "wall_s", "gc_s", "jit_s",
                                               "classes_loaded", "code_cache_mb")}
                        for p in passes],
        "query_tail": {"percentile": 90, "samples": len(latencies()), "beyond": beyond},
        "per_query_s": {n: {"cold": c, "warm": statistics.median(latencies(n))}
                        for n, c in ((q["name"], q["construct_s"] + q["exec_s"])
                                     for q in res["cold"]["queries"])},
        "correctness_s": {"jvm": res["correctness_s"], "oracle": t_oracle},
        "failed_queries": {**wrong, **threw}, "recall": corr["recall"],
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace:
        traced = [p for p in warm if p["traced"]]
        layer = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
        selfs = {k: v / len(traced) for k, v in self_times(res["spans"]).items()}
        count_noop = {n: [res["count_s"][n], statistics.median(latencies(n))] for n in wl["queries"]}
        layer.update({
            "Tables.resolve_s": statistics.median(res["resolve_s"]),
            "IndexCache.cold_builds": sum(q["builds"] for q in res["cold"]["queries"]),
            "functions.kernel_s": sum(res["kernel_s"].values()),
            "host.calib_s": (calib0 + calib1) / 2,
            "trace.overhead_s": statistics.median(p["wall_s"] for p in traced) - warm_s,
            "sink.count_gap_s": sum(noop - count for count, noop in count_noop.values()),
            "Queries.construct_self_s": selfs.get("construct", 0.0),
            "ops.exec_self_s": selfs.get("exec", 0.0),
            "ops.job_self_s": selfs.get("job", 0.0),
            "ops.stage_s": selfs.get("stage", 0.0),
        })
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in BENCH["per_layer"]}
        record.update({"layers": layer, "self_s_per_pass": selfs, "kernel_s": res["kernel_s"],
                       "per_query_count_vs_noop_s": count_noop})
        with open(os.path.join(results, f"{a.workload}-s{a.seed}-spans.jsonl"), "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, m in metrics.items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} query_tail_s is p90 of {len(latencies())} query executions, {beyond} beyond it; "
          f"host.calib_s start {calib0:.4f} end {calib1:.4f}")
    verdict = "ok" if not wrong and not threw else "FAILED " + json.dumps(record["failed_queries"])
    print(f"{a.workload} correctness: {verdict}; failed {failed}/{attempted}")
    print(json.dumps({"correct": not wrong and not threw, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
