#!/usr/bin/env python3
"""Renders perfbench/WHERE_TIME_GOES.md from untraced and traced runs.

    python3 perfbench/report.py --seeds 101 102 103 [--seconds 18] [--no-run]
    python3 perfbench/report.py --query-rows perfbench/.work/results/query_sweep-s1-t0.json

For every workload and seed it runs the benchmark once with tracing off
and once with it on (skipped with --no-run), then tabulates medians from
the per-run records under perfbench/.work/results.

With --query-rows it instead rewrites perfbench/query_rows.tsv, the row
counts query_sweep checks, from the counts a run's record observed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RESULTS = os.path.join(BENCH, ".work", "results")
WORKLOADS = ("backfill", "steady", "query_sweep")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    E2E = tuple(m["name"] for m in json.load(_fh)["end_to_end"])


def load(workload, seed, trace):
    path = os.path.join(RESULTS, f"{workload}-s{seed}-t{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def med(rows, key, section):
    return statistics.median(r[section].get(key, 0.0) for r in rows)


def spread(xs):
    """Interquartile range over the median."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def fmt(x):
    if x == 0:
        return "0"
    if abs(x) >= 100:
        return f"{x:,.0f}"
    return f"{x:.3g}"


def ratio(a, b):
    return f"{a / b:.2f}" if b else "–"


def render(seeds, runs):
    out = ["# Where the time goes", "",
           f"Medians over seeds {', '.join(map(str, seeds))}, {runs['seconds']} s runs, "
           f"{os.cpu_count()}-core host, `local[{os.cpu_count()}]`. Regenerate with "
           f"`python3 perfbench/report.py --seeds {' '.join(map(str, seeds))}`.", ""]

    out += ["## Tracing overhead", "",
            "End-to-end medians with tracing off (the measured figures) and on "
            "(spans, listeners and the counting file system installed). Each seed "
            "ran untraced and then traced, back to back. `spread` is the "
            "interquartile range of the untraced runs over their median: a change "
            "well inside it is noise, not overhead.", "",
            "| workload | metric | trace off | trace on | change | spread |",
            "|---|---|---|---|---|---|"]
    for w in WORKLOADS:
        off, on = runs[w][0], runs[w][1]
        for m in E2E:
            a, b = med(off, m, "end_to_end"), med(on, m, "end_to_end")
            out.append(f"| {w} | {m} | {fmt(a)} | {fmt(b)} | {(b - a) / a * 100:+.1f}% "
                       f"| {spread([r['end_to_end'][m] for r in off]) * 100:.1f}% |")
    out.append("")

    def layers(w, keys):
        return {k: med(runs[w][1], k, "layers") for k in keys}

    out += ["## Pipeline workloads, by layer", "",
            "Seconds are wall time inside the layer's calls, except `exec.*` and "
            "`sources.mets_fetch_s`, which are summed over the parallel task threads. "
            "`window` is the measured window (backfill: its backfills; steady: arrivals "
            "plus drain).", "",
            "| layer metric | backfill | steady |", "|---|---|---|"]
    keys = ["workload.window_s", "harvest.busy_s", "enrich.busy_s", "sources.oai_fetch_s",
            "sources.mets_fetch_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
            "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
            "codegen.compiles", "codegen.compile_s", "jvm.gc_s", "harvest.runs", "enrich.runs",
            "enrich.processed", "enrich.rejected", "enrich.not_removed", "state.commits",
            "state.buckets_written", "spark.jobs", "spark.tasks", "spark.jobs_per_commit",
            "fs.write_ops", "fs.read_ops", "fs.list_ops", "fs.bytes_written_per_doc",
            "workload.docs"]
    b, s = layers("backfill", keys), layers("steady", keys)
    for k in keys:
        out.append(f"| {k} | {fmt(b[k])} | {fmt(s[k])} |")
    out.append("")

    out += ["## Spark jobs per commit, by table", "",
            "Jobs are charged to a table by the pipeline call that started them "
            "(read from each SQL execution's call site). `page` jobs belong to the "
            "harvest iteration (parse and count), `fetch` jobs to the enrichment "
            "batch (drain, METS fetch, counts); they are given per run of that loop.", "",
            "| table | backfill jobs | commits | jobs/commit | steady jobs | commits | jobs/commit |",
            "|---|---|---|---|---|---|---|"]
    for t, per in (("headers", "state.commits.headers"), ("runs", "state.commits.runs"),
                   ("reporting", "state.commits.reporting"), ("page", "harvest.runs"),
                   ("fetch", "enrich.runs")):
        keys = [f"spark.jobs.{t}", per]
        b, s = layers("backfill", keys), layers("steady", keys)
        out.append(f"| {t} (per {per}) | {fmt(b[keys[0]])} | {fmt(b[per])} | {ratio(b[keys[0]], b[per])} "
                   f"| {fmt(s[keys[0]])} | {fmt(s[per])} | {ratio(s[keys[0]], s[per])} |")
    o = layers("backfill", ["spark.jobs.other"])["spark.jobs.other"]
    o2 = layers("steady", ["spark.jobs.other"])["spark.jobs.other"]
    out += [f"| unattributed | {fmt(o)} | | | {fmt(o2)} | | |", ""]

    keys = ["sweep.cold_pass_s", "sweep.warm_pass_s", "sweep.cold_compiles", "sweep.cold_compile_s",
            "codegen.compiles", "codegen.compile_s", "query.build_s", "query.probe_s",
            "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
            "exec.run_s", "exec.cpu_s", "exec.gc_s", "spark.jobs", "sweep.passes", "workload.window_s"]
    q = layers("query_sweep", keys)
    out += ["## query_sweep: cold against warm", "",
            "The cold pass is the first untimed set-up pass (part of `setup_s`, as are "
            "the two warm-up passes after it); the warm figures cover the measured "
            "passes over the same keys and tables.", "",
            "| | cold pass | one warm pass |", "|---|---|---|",
            f"| wall s | {fmt(q['sweep.cold_pass_s'])} | {fmt(q['sweep.warm_pass_s'])} |",
            f"| codegen compiles | {fmt(q['sweep.cold_compiles'])} | "
            f"{fmt(q['codegen.compiles'] / max(q['sweep.passes'], 1))} |",
            f"| codegen compile s | {fmt(q['sweep.cold_compile_s'])} | "
            f"{fmt(q['codegen.compile_s'] / max(q['sweep.passes'], 1))} |", "",
            "Measured window, all passes:", "", "| metric | value |", "|---|---|"]
    for k in keys[6:]:
        out.append(f"| {k} | {fmt(q[k])} |")
    out.append("")
    return "\n".join(out)


def write_query_rows(record):
    with open(record) as fh:
        rows = json.load(fh).get("query_rows", {})
    if not rows:
        sys.exit(f"{record} holds no query row counts; give a query_sweep record")
    with open(os.path.join(BENCH, "query_rows.tsv"), "w") as fh:
        fh.write("key\trows\n" + "".join(f"{k}\t{n}\n" for k, n in sorted(rows.items())))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--no-run", action="store_true")
    ap.add_argument("--query-rows", metavar="RECORD")
    a = ap.parse_args()
    if a.query_rows:
        return write_query_rows(a.query_rows)
    if not a.seeds:
        ap.error("--seeds is required")
    if not a.no_run:
        for w in WORKLOADS:
            for seed in a.seeds:
                for trace in (0, 1):
                    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w, "--seed",
                           str(seed), "--seconds", str(a.seconds), "--trace", str(trace)]
                    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                    print(f"{w} seed {seed} trace {trace}: exit {r.returncode}", file=sys.stderr)
                    if r.returncode != 0:
                        sys.exit(f"run failed: {' '.join(cmd)}")
    runs = {"seconds": a.seconds}
    for w in WORKLOADS:
        runs[w] = {t: [load(w, s, t) for s in a.seeds] for t in (0, 1)}
    text = render(a.seeds, runs)
    with open(os.path.join(BENCH, "WHERE_TIME_GOES.md"), "w") as fh:
        fh.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
