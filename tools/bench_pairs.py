#!/usr/bin/env python3
"""Paired parent/change runs of the ingest benchmark, with a verdict per metric.

Usage:
    python3 tools/bench_pairs.py --base-rev REV --base-dir DIR [--pairs N]
        [--seed0 S] [--workload NAME ...]
    python3 tools/bench_pairs.py --traced --base-rev REV --base-dir DIR
        [--seed0 S] [--workload NAME ...]
    python3 tools/bench_pairs.py --selftest

DIR is a checkout of REV (a `git worktree` or clone). The change side is the
repository this script lives in. For each gated workload in BENCHMARK.json
the script runs N pairs; pair i uses seed S + i on both sides, the side that
runs first alternates, and every run is

    python3 ingestbench/run.py --workload W --seed S+i --seconds T --trace 0

with T = `run_seconds` from BENCHMARK.json, in that side's directory. Both
sides build once (`run.py --selftest`) before the first pair, so no build
lands inside a timed run. The script reads BENCHMARK.json and ingestbench/
and never writes to them (run.py keeps its own build and scratch dirs).

For each workload and end-to-end metric it prints each side's median and
quartiles, the change's win fraction over the pairs (ties count for
neither side), the attempted/failed operation counts of each side, and a
verdict:

  improved     the change wins at least 9/10 of the pairs and its median is
               better than the parent's by more than the parent's
               interquartile range
  unresolved   the parent's spread (IQR / median) exceeds the metric's bound,
               unless every change run is better than every parent run
  regressed    the change's median is worse than the parent's by more than
               the bound (relative to the parent's median)
  within bound otherwise

A run that exits non-zero or prints no result line counts as failed; its
metrics are left out and its attempted/failed counts are unknown. Each run's
standard error goes to its own log, LOG_DIR/<side>-<workload>-<seed>.log
(LOG_DIR is `bench_pairs` under the system temporary directory; a traced
run's log ends in -traced.log, and a later run with the same name replaces
it). For every run that failed or reports failed operations the script
prints the log's path and the log's `[ingestbench]` lines, which carry the
first failed operation's exception.

With --traced the script makes ONE traced run (`--trace 1`) per side per
gated workload, at seed S, and prints the target, engine, executor and
JDBC layer metrics side by side (LAYER_METRICS, plus bytes written per merge
call: bytes_written ÷ merges). engine.route_ms is a batch's addBatch time
minus the summed time of its sink calls, so it reads below the routing time,
or below zero, when a multi-table batch applies its tables concurrently. A traced run's timings include the tracer's own cost, so compare
them only with traced runs.
"""
import argparse
import contextlib
import io
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG_DIR = os.path.join(tempfile.gettempdir(), "bench_pairs")

LAYER_METRICS = [
    "target.jobs_per_merge", "target.driver_ms", "target.lookup_jobs",
    "target.lookup_files_read", "target.bytes_written", "target.files_written",
    "target.merges", "engine.addbatch_ms", "engine.route_ms", "exec.busy_frac",
    "jdbc.merge_ms",
]


def quartiles(xs):
    """(q1, median, q3) with the inclusive method; one sample gives (x, x, x)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better(a, b, direction):
    """Whether value a is strictly better than b."""
    return a < b if direction == "lower" else a > b


def verdict(parent, change, pairs, direction, bound):
    """Verdict for one metric.

    parent, change: the runs' values; pairs: (parent, change) values of the
    pairs where both runs produced a result; bound: relative regression bound.
    """
    if not parent or not change:
        return "unresolved", 0.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    win_frac = wins / len(pairs) if pairs else 0.0
    if win_frac >= 0.9 and better(cm, pm, direction) and abs(cm - pm) > p3 - p1:
        return "improved", win_frac
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    all_better = all(better(c, p, direction) for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved", win_frac
    worse = (cm - pm) if direction == "lower" else (pm - cm)
    if pm and worse / abs(pm) > bound:
        return "regressed", win_frac
    return "within bound", win_frac


def parse_result(returncode, stdout):
    """The result of one run from its exit code and standard output: the
    first line that starts with '{', parsed; None when the run failed, printed
    no result line or reports incorrect output."""
    line = next((l for l in stdout.splitlines() if l.startswith("{")), None)
    if returncode != 0 or line is None:
        return None
    res = json.loads(line)
    return res if res.get("correct") else None


def log_path(side, workload, seed, trace=False):
    """Where the standard error of one run goes."""
    return os.path.join(LOG_DIR, f"{side}-{workload}-{seed}{'-traced' if trace else ''}.log")


def report_failures(res, log):
    """For a run that failed (res None) or reports failed operations, the
    lines to print: the log's path, then its `[ingestbench]` lines. None
    for a clean run."""
    if res is not None and not res.get("failed"):
        return None
    what = "failed" if res is None else f"reports {res['failed']} failed operation(s)"
    with open(log, errors="replace") as f:
        lines = [l.rstrip("\n") for l in f if l.startswith("[ingestbench]")]
    return [f"[bench_pairs] run {what}; stderr in {log}"] + ["  " + l for l in lines]


def run_one(side, side_dir, workload, seed, seconds, trace=False):
    cmd = ["python3", "ingestbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    os.makedirs(LOG_DIR, exist_ok=True)
    log = log_path(side, workload, seed, trace)
    with open(log, "wb") as err:
        r = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE, stderr=err)
    res = parse_result(r.returncode, r.stdout.decode())
    for line in report_failures(res, log) or []:
        print(line, file=sys.stderr, flush=True)
    return res


def layer_rows(parent, change):
    """(name, parent value, change value) for LAYER_METRICS and bytes per
    merge; a value is None when its run failed or lacks the metric."""
    def get(res, name):
        m = (res or {}).get("metrics", {}).get(name)
        return None if m is None else m["value"]

    def per_merge(res):
        b, n = get(res, "target.bytes_written"), get(res, "target.merges")
        return b / n if b is not None and n else None
    rows = [(n, get(parent, n), get(change, n)) for n in LAYER_METRICS]
    rows.append(("bytes_per_merge", per_merge(parent), per_merge(change)))
    return rows


def fmt_value(v):
    return "-" if v is None else f"{v:.4g}"


def main_traced(a):
    bench, workloads, sides = setup(a)
    seconds = bench["run_seconds"]
    for w in workloads:
        res = {}
        for side in ("parent", "change"):
            res[side] = run_one(side, sides[side], w, a.seed0, seconds, trace=True)
            state = "failed" if res[side] is None else "ok"
            print(f"[bench_pairs] {w} traced seed {a.seed0} {side}: {state}",
                  file=sys.stderr, flush=True)
        print(f"== {w}: traced, seed {a.seed0}, {seconds} s runs")
        print(f"  {'metric':<26} {'parent':>12} {'change':>12}")
        for n, p, c in layer_rows(res["parent"], res["change"]):
            print(f"  {n:<26} {fmt_value(p):>12} {fmt_value(c):>12}")
    return 0


def check_base(base_rev, base_dir):
    head = subprocess.run(["git", "-C", base_dir, "rev-parse", "HEAD"],
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    want = subprocess.run(["git", "-C", ROOT, "rev-parse", base_rev],
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    if want.returncode != 0:
        sys.exit(f"bench_pairs: unknown revision {base_rev}")
    if head.returncode != 0 or head.stdout.strip() != want.stdout.strip():
        sys.exit(f"bench_pairs: {base_dir} is not a checkout of {base_rev}")


def setup(a):
    """BENCHMARK.json, the workloads to run and each side's directory."""
    check_base(a.base_rev, a.base_dir)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    return bench, workloads, {"parent": os.path.abspath(a.base_dir), "change": ROOT}


def main_pairs(a):
    bench, workloads, sides = setup(a)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    for name, d in sides.items():
        r = subprocess.run(["python3", "ingestbench/run.py", "--selftest"],
                           cwd=d, stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.exit(f"bench_pairs: {name} build or selftest failed")
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run_one(side, sides[side], w, seed, seconds)
                runs[side].append(res)
                state = "failed" if res is None else "ok"
                print(f"[bench_pairs] {w} pair {i + 1}/{a.pairs} seed {seed} "
                      f"{side}: {state}", file=sys.stderr, flush=True)
        print(f"== {w}: {a.pairs} pairs, {seconds} s runs, seeds "
              f"{a.seed0}..{a.seed0 + a.pairs - 1}")
        for side in ("parent", "change"):
            ok = [r for r in runs[side] if r is not None]
            print(f"  {side}: runs {len(runs[side])} (failed {len(runs[side]) - len(ok)}), "
                  f"operations attempted {sum(r['attempted'] for r in ok)} "
                  f"failed {sum(r['failed'] for r in ok)}")
        print(f"  {'metric':<18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
              f"{'win':>5}  verdict")
        for m in metrics:
            n, bound, direction = m["name"], m["bound"], m["better"]

            def val(r):
                return r["metrics"][n]["value"]
            pv = [val(r) for r in runs["parent"] if r is not None]
            cv = [val(r) for r in runs["change"] if r is not None]
            pairs = [(val(p), val(c)) for p, c in zip(runs["parent"], runs["change"])
                     if p is not None and c is not None]
            v, win = verdict(pv, cv, pairs, direction, bound)

            def q(xs):
                return "/".join(f"{x:.4g}" for x in quartiles(xs)) if xs else "-"
            print(f"  {n:<18} {q(pv):>28} {q(cv):>28} {win:>5.2f}  {v}")
    return 0


def selftest():
    cases = [
        # lower is better, tight parent, change clearly faster in every pair
        (([10, 10.1, 10.2, 9.9, 10.0], [8, 8.1, 8.2, 7.9, 8.0], "lower", 0.25),
         "improved"),
        # same distribution: within bound
        (([10, 10.1, 10.2, 9.9, 10.0], [10.1, 10.0, 9.9, 10.2, 10.0], "lower", 0.25),
         "within bound"),
        # change 40 % slower on a tight parent: regressed
        (([10, 10.1, 10.2, 9.9, 10.0], [14, 14.1, 14.2, 13.9, 14.0], "lower", 0.25),
         "regressed"),
        # parent spread 0.5 > bound 0.25 and runs overlap: unresolved
        (([5, 10, 15, 8, 12], [9, 11, 14, 6, 13], "lower", 0.25), "unresolved"),
        # wide parent spread but every change run beats every parent run:
        # not unresolved; the wins and the median gap make it improved
        (([5, 10, 15, 8, 12], [1, 2, 3, 2, 1], "lower", 0.25), "improved"),
        # higher is better: 20 % lower throughput on a tight parent stays
        # within a 0.25 bound, 30 % lower regresses
        (([100, 101, 99, 100, 100], [80, 81, 79, 80, 80], "higher", 0.25),
         "within bound"),
        (([100, 101, 99, 100, 100], [70, 71, 69, 70, 70], "higher", 0.25),
         "regressed"),
        # 8 of 10 wins is below 9/10: a better median alone is not a gain
        (([10] * 10, [9] * 8 + [11] * 2, "lower", 0.25), "within bound"),
    ]
    bad = 0
    for (parent, change, direction, bound), want in cases:
        got, _ = verdict(parent, change, list(zip(parent, change)), direction, bound)
        if got != want:
            bad += 1
            print(f"FAIL {direction} parent={parent} change={change}: "
                  f"got {got}, want {want}")
    ties, win = verdict([1, 2, 3], [1, 2, 3], [(1, 1), (2, 2), (3, 3)], "lower", 0.25)
    if win != 0.0:
        bad += 1
        print(f"FAIL ties must count for neither side: win fraction {win}")
    if quartiles([1, 2, 3, 4, 5]) != (2, 3, 4):
        bad += 1
        print(f"FAIL quartiles {quartiles([1, 2, 3, 4, 5])}")
    # result parsing: noise before the result line, failed and incorrect runs
    out = 'log line\n{"correct": true, "attempted": 3, "failed": 0, "metrics": ' \
        '{"target.merges": {"value": 4, "unit": "count"}, ' \
        '"target.bytes_written": {"value": 1000, "unit": "bytes"}}}\n'
    res = parse_result(0, out)
    if res is None or res["attempted"] != 3:
        bad += 1
        print(f"FAIL parse_result of a good run: {res}")
    if parse_result(1, out) is not None or parse_result(0, "no result\n") is not None:
        bad += 1
        print("FAIL parse_result must reject a non-zero exit and a missing result line")
    if parse_result(2, out.replace("true", "false")) is not None:
        bad += 1
        print("FAIL parse_result must reject an incorrect run")
    rows = dict((n, (p, c)) for n, p, c in layer_rows(res, None))
    if rows["target.merges"] != (4, None) or rows["bytes_per_merge"] != (250, None) \
            or rows["target.jobs_per_merge"] != (None, None) or len(rows) != len(LAYER_METRICS) + 1:
        bad += 1
        print(f"FAIL layer_rows: {rows}")
    if fmt_value(None) != "-" or fmt_value(10.94) != "10.94":
        bad += 1
        print("FAIL fmt_value")
    # stderr logs: one per run under LOG_DIR, a traced run's apart
    if log_path("parent", "w", 3) != os.path.join(LOG_DIR, "parent-w-3.log") \
            or log_path("parent", "w", 3, trace=True) != os.path.join(LOG_DIR, "parent-w-3-traced.log"):
        bad += 1
        print("FAIL log_path")
    # run_one on a stand-in run.py that fails one operation: its stderr
    # lands in the run's log, and the report names the log and repeats only
    # the [ingestbench] lines
    with tempfile.TemporaryDirectory() as side:
        os.mkdir(os.path.join(side, "ingestbench"))
        with open(os.path.join(side, "ingestbench", "run.py"), "w") as f:
            f.write("import sys\n"
                    "print('noise', file=sys.stderr)\n"
                    "print('[ingestbench] lookups failed: boom', file=sys.stderr)\n"
                    "print('{\"correct\": true, \"attempted\": 2, \"failed\": 1}')\n")
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            res = run_one("selftest", side, "stand-in", 0, 1)
        log = log_path("selftest", "stand-in", 0)
        with open(log) as f:
            logged = f.read()
        if res is None or res["failed"] != 1 \
                or logged != "noise\n[ingestbench] lookups failed: boom\n" \
                or err.getvalue() != f"[bench_pairs] run reports 1 failed operation(s); " \
                f"stderr in {log}\n  [ingestbench] lookups failed: boom\n":
            bad += 1
            print(f"FAIL run_one must keep stderr in its log and report it: {res} {err.getvalue()!r}")
        if report_failures(None, log)[0] != f"[bench_pairs] run failed; stderr in {log}" \
                or report_failures({"failed": 0}, log) is not None:
            bad += 1
            print("FAIL report_failures: a failed run is reported, a clean one is not")
        os.unlink(log)
    print("selftest ok" if bad == 0 else f"selftest: {bad} failure(s)")
    return 0 if bad == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base-rev")
    ap.add_argument("--base-dir")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.base_rev or not a.base_dir:
        ap.error("--base-rev and --base-dir are required")
    return main_traced(a) if a.traced else main_pairs(a)


if __name__ == "__main__":
    sys.exit(main())
