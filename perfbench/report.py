#!/usr/bin/env python3
"""Summarizes the benchmark's stored run records.

Usage (from the repository root, after perfbench/run.py runs):
  python3 perfbench/report.py

For each workload it prints every end-to-end metric by name and unit as
the median over the stored untraced runs, with the spread between their
quartiles as a share of the median, and the correctness verdict. From the
newest traced run of each workload it prints the per-layer metrics and
checks the predictions of which workload stresses which layer; a failed
prediction is printed as FAILED, not left out.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def spread(values):
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "results")
    records = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(base, "*-t[01].json")),
                                                  key=os.path.getmtime)]
    if not records:
        sys.exit(f"no run records under {base}; run perfbench/run.py first")
    layers = {}
    for w in [w["name"] for w in BENCH["workloads"]]:
        runs = [r for r in records if r["workload"] == w and r["trace"] == 0]
        traced = [r for r in records if r["workload"] == w and r["trace"] == 1]
        if runs:
            bad = {q: e for r in runs for q, e in r["failed_queries"].items()}
            print(f"== {w}: {len(runs)} untraced runs, seeds {sorted({r['seed'] for r in runs})}")
            for m in BENCH["end_to_end"]:
                v = [r["e2e"][m["name"]] for r in runs]
                print(f"  {m['name']:16s} {statistics.median(v):12.5g} {m['unit']:5s}"
                      f" spread {spread(v):.3f} (bound {m['bound']})")
            n = sorted({r["query_tail"]["samples"] for r in runs})
            print(f"  query_tail_s is p90 of {n[0]}-{n[-1]} query executions per run")
            print(f"  correctness: {'ok' if not bad else 'FAILED ' + json.dumps(bad)}")
        if traced:
            t = traced[-1]
            layers[w] = t
            print(f"== {w}: traced run, seed {t['seed']}")
            for m in BENCH["per_layer"]:
                print(f"  {m['name']:26s} {t['layers'][m['name']]:12.5g} {m['unit']}")
            print(f"  self time per pass by span kind: "
                  + ", ".join(f"{k} {v:.3f} s" for k, v in t["self_s_per_pass"].items()))
    print("== predictions")

    def check(what, ok):
        print(f"  {'ok    ' if ok else 'FAILED'} {what}")

    def top(metric, key=lambda t, m: t["layers"][m]):
        return max(layers, key=lambda w: key(layers[w], metric)) if layers else None

    if "graph_loops" in layers:
        check("graph_loops has the highest ops.jobs", top("ops.jobs") == "graph_loops")
        check("graph_loops has the largest ops.no_task_s share of the traced pass",
              top("ops.no_task_s", lambda t, m: t["layers"][m] / (
                  t["layers"]["Queries.construct_s"] + t["layers"]["ops.exec_s"])) == "graph_loops")
    if "curation" in layers:
        check("curation has the highest ops.core_util", top("ops.core_util") == "curation")
        check("curation's warm passes build no index (IndexCache.builds == 0)",
              layers["curation"]["layers"]["IndexCache.builds"] == 0)
        check("curation's cold pass builds its indexes (IndexCache.cold_builds > 0)",
              layers["curation"]["layers"]["IndexCache.cold_builds"] > 0)
    print("== what count() prunes: per-query noop-sink time against count() time")
    for w, t in layers.items():
        for q, (count_s, noop_s) in t["per_query_count_vs_noop_s"].items():
            print(f"  {w} {q}: noop-sink {noop_s:.3f} s, count() {count_s:.3f} s")


if __name__ == "__main__":
    main()
