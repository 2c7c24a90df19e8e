#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload nba_season --seed 1 --seconds 20 --trace 0

Builds the engine from source (perfbench/build.py), then runs the
workload's queries in closed-loop passes on a local[nproc] session that
copies graft.Bench's configuration (see perfbench/README.md). Every query
result is checked against the digests committed in perfbench/expected/.
The last line of stdout is the result as JSON; a readable summary and the
run context go to stderr.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
COHERENCE_TOLERANCE = 0.02
# graft.Bench runs with 8g for the sf0.1 tables; the sf0.01 tables need far
# less, and at 1g no workload has a session-cache entry cleared
# (cache.cleared reads 0), so the small heap adds no rebuilds to the passes
HEAP = "1g"
# measured passes per run; the first runs on a cold JIT, as a fresh job
# does. A traced run makes a cold pass, then untraced and traced passes as
# U T T U, so both halves of trace_overhead run warm.
PASSES = 2
TRACED_PASSES = 1 + 4


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def launch(args, wl, data, run_dir, classpath):
    out = os.path.join(run_dir, "report.json")
    trace_out = os.path.join(ROOT, ".bench_build", "perfbench",
                             f"trace-{args.workload}-{args.seed}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata file in /tmp
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.PerfBench",
        "--workload", args.workload,
        "--queries", ",".join(wl["queries"]),
        "--seed", str(args.seed),
        "--passes", str(TRACED_PASSES if args.trace else PASSES),
        "--trace", str(args.trace),
        "--cores", str(cores),
        "--nba-probe", "1" if wl["nba_probe"] else "0",
        "--data", data,
        "--scratch", os.path.join(run_dir, "scratch"),
        "--out", out,
        "--trace-out", trace_out,
    ]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        sys.exit(f"perfbench: JVM failed ({code}); log tail:\n{tail}")
    return load_json(out), trace_out


def check_digests(report, expected):
    """Per execution: an escaped exception, an unknown query, a wrong row
    count or a wrong hash (where the hash is deterministic) is a failure."""
    attempted, failures = 0, []
    for i, p in enumerate(report["passes"]):
        for q in p["queries"]:
            attempted += 1
            exp = expected.get(q["name"])
            why = None
            if q["error"] is not None:
                why = q["error"]
            elif exp is None:
                why = "no expected digest"
            elif q["rows"] != exp["rows"]:
                why = f"rows {q['rows']} != {exp['rows']}"
            elif exp["hash"] is not None and q["hash"] != exp["hash"]:
                why = f"hash {q['hash']} != {exp['hash']}"
            if why:
                failures.append(f"pass {i} {q['name']}: {why}")
    return attempted, failures


def record_digests(report, path):
    """Merges this run's digests into the expected file; a query whose hash
    differs between any two executions is kept on row count only."""
    expected = load_json(path) if os.path.exists(path) else {}
    for p in report["passes"]:
        for q in p["queries"]:
            if q["error"] is not None:
                sys.exit(f"perfbench: cannot record, {q['name']} failed: {q['error']}")
            exp = expected.setdefault(q["name"], {"rows": q["rows"], "hash": q["hash"]})
            if exp["rows"] != q["rows"]:
                sys.exit(f"perfbench: {q['name']} row count differs between runs "
                         f"({exp['rows']} vs {q['rows']})")
            if exp["hash"] is not None and exp["hash"] != q["hash"]:
                exp["hash"] = None
                exp["note"] = "hash differs between runs; checked on row count only"
    with open(path, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=2)
        fh.write("\n")
    nondet = [k for k, v in sorted(expected.items()) if v["hash"] is None]
    print(f"perfbench: recorded {path}; row-count only: {nondet or 'none'}", file=sys.stderr)


def end_to_end(report, measured):
    return {
        "setup_s": report["setup_s"],
        "wall_s": median([p["wall_s"] for p in measured]),
        "cpu_s": median([p["cpu_s"] for p in measured]),
        "peak_rss_mb": report["peak_rss_mb"],
    }


def per_layer(report, measured, names):
    traced = [p for p in measured if p["traced"]]
    plain = [p for p in measured if not p["traced"]]
    values = {k: 0.0 for k in names}

    def put(name, per_pass):
        values[name] = median([per_pass(p) for p in traced])

    for k, v in report["nba_probe"].items():
        values[k] = v
    put("cache.build_s", lambda p: sum(s for _, s in p["builds"]))
    put("cache.builds", lambda p: len(p["builds"]))
    put("cache.hits", lambda p: p["cache_hits"])
    put("cache.cleared", lambda p: p["cache_cleared"])
    for name in names:
        if name.startswith("build.") and name.endswith(".s"):
            family = name[len("build."):-len(".s")]
            put(name, lambda p, f=family: sum(
                s for k, s in p["builds"] if k == f or k.split(".")[0] == f))
        elif name.startswith("q.") and name.endswith(".s"):
            qn = name[len("q."):-len(".s")]
            runs = [[max(0.0, q["wall_s"] - q["build_s"]) for q in p["queries"] if q["name"] == qn]
                    for p in traced]
            if all(runs):
                values[name] = median([r[0] for r in runs])
    for k in ["jobs", "stages", "tasks", "task_s", "busy_frac", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "skew_max"]:
        put("exec." + k, lambda p, k=k: p["exec"][k])
    put("exec.exchanges", lambda p: sum(q["exchanges"] for q in p["queries"]))
    put("exec.gc_s", lambda p: p["gc_s"])
    for k in ["batches", "input_rows", "rows_per_s", "add_batch_s", "commit_s", "state_rows"]:
        put("stream." + k, lambda p, k=k: p["stream"][k])
    values["trace_overhead"] = (median([p["wall_s"] for p in traced]) /
                                median([p["wall_s"] for p in plain]) - 1)
    # the traced per-query self times plus the cache builds account for
    # the whole pass wall
    gaps = [abs(sum(max(0.0, q["wall_s"] - q["build_s"]) for q in p["queries"]) +
                sum(s for _, s in p["builds"]) - p["wall_s"]) / p["wall_s"] for p in traced]
    values["trace.coherence_gap"] = max(gaps)
    unknown = sorted(set(values) - set(names))
    if unknown:
        sys.exit(f"perfbench: per-layer metrics missing from BENCHMARK.json: {unknown}")
    return values, max(gaps) <= COHERENCE_TOLERANCE


def context_line(report, stamp):
    c = report["context"]
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    commit = commit or f"sources-sha256:{stamp[:16]}"
    return (f"context: nproc={c['nproc']} xmx_mb={c['xmx_mb']:.0f} spark={c['spark']} "
            f"commit={commit} cpu_calibration_mops start={c['cpu_mops_start']:.1f} "
            f"end={c['cpu_mops_end']:.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the run length BENCHMARK.json states; a run is a fixed number of "
                         "passes, which take about that long on a 4-core host")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", help="digest file to check against (default: the committed one)")
    ap.add_argument("--record", action="store_true",
                    help="merge this run's digests into the expected file instead of checking")
    ap.add_argument("--report-out", help="keep the JVM's raw report of the run here")
    args = ap.parse_args()

    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    bench = load_json(os.path.join(BENCH, "workloads.json"))
    workloads = bench["workloads"]
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    expected_path = args.expected or os.path.join(BENCH, "expected", f"{args.workload}.json")

    classpath, stamp = build.build()
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        report, trace_out = launch(args, wl, os.path.join(BENCH, bench["data"]), run_dir,
                                   classpath)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    measured = report["passes"][1:] if args.trace else report["passes"]

    if args.report_out:
        with open(args.report_out, "w") as fh:
            json.dump(report, fh)
    if args.record:
        record_digests(report, expected_path)
    expected = load_json(expected_path) if os.path.exists(expected_path) else {}
    attempted, failures = check_digests(report, expected)
    correct = not failures

    print(context_line(report, stamp), file=sys.stderr)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values, coherent = per_layer(report, measured, names)
        if not coherent:
            print(f"FAILED coherence: traced self times plus cache builds miss the pass wall "
                  f"by {values['trace.coherence_gap']:.3%}", file=sys.stderr)
            correct = False
        print(f"trace spans: {os.path.relpath(trace_out, ROOT)}", file=sys.stderr)
    else:
        values = end_to_end(report, measured)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        names = list(units)
        # printed, not reported: fail_frac is 0 when all is well, and with
        # a few queries per pass the raw per-query median jumps with the
        # seed (whichever query runs first pays the shared builds)
        q_walls = [q["wall_s"] for p in measured for q in p["queries"]]
        print(f"{'fail_frac':<24} {len(failures) / attempted:.4f} ({len(failures)}/{attempted})",
              file=sys.stderr)
        print(f"{'query_p50_s':<24} {median(q_walls):.6g} s ({len(q_walls)} samples)",
              file=sys.stderr)
    for name in names:
        print(f"{name:<24} {values[name]:.6g} {units[name]}", file=sys.stderr)
    bad = [n for n in names if not math.isfinite(values[n])]
    if bad:
        sys.exit(f"perfbench: non-finite metrics {bad}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
