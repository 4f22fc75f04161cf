#!/usr/bin/env python3
"""Same-session A/B of two git refs on one perfbench workload, or on
single queries timed by ``graft.TimeOne``.

Usage:
  python3 tools/ab.py REF_A REF_B --workload W --pairs N
                      [--seed0 S] [--trace-runs] [--save DIR]
  python3 tools/ab.py REF_A REF_B --timeone Q[,Q...] --sf DIR --pairs N

Each ref is exported with ``git archive`` into its own directory under a
fresh temporary directory, so both sides build and run from committed files
only, each with its own ``.bench_build/`` and ``.bench_work/``. The workload
must be one that REF_A's ``BENCHMARK.json`` lists, and every run lasts its
``run_seconds``. Pair ``i`` runs ``perfbench/run.py --trace 0`` once per
side with seed ``seed0 + i``; even pairs run A first, odd pairs B first, so
a drift of the host over the session falls on both sides alike.

Printed: every run (pair, seed, order, side, metrics, failed), then per
end-to-end metric of BENCHMARK.json the median and quartiles of each side,
the change of the medians, how many pairs B won, and whether the gap of the
medians exceeds A's interquartile range. ``--trace-runs`` adds one
``--trace 1`` run per side after the pairs and prints both sides of every
per-layer metric. ``--save DIR`` copies each
run's ``jvm.log`` and its ``*-out`` output directories (``mopso_avg``'s
reports) to ``DIR/pair<i>-seed<s>-<side>/`` and, after each pair, compares
the reports both sides wrote line by line (report directories matched by
path with the timestamp segment masked, the wall-clock ``elapsed sec:``
line skipped): it prints ``outputs identical`` or the first differing
line, and after the pairs how many pairs had identical outputs.

``--timeone`` times the named queries instead: each exported ref is built
with its own ``perfbench/build.py``, and pair ``i`` runs ``graft.TimeOne Q...``
once per side against the fixtures in ``--sf`` (A first in even pairs, B
first in odd ones), each run in a fresh work directory. A run's value for a
query is the median of its timed passes (``SPARK_GRAFT_PASSES``, default 3,
after one warm-up pass). Printed: every run, then per query the median and
quartiles of each side, the change, and how many pairs B won.

The temporary directory is removed at the end. Nothing under the
repository's ``perfbench/`` is touched: the runs use the exported copies.
"""
import argparse
import itertools
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 900


def export(ref, dest):
    """Writes the committed tree of `ref` into `dest`; returns its sha."""
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--verify",
                          f"{ref}^{{commit}}"], check=True, text=True,
                         capture_output=True).stdout.strip()
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout,
                   check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {ref} failed")
    return sha


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: (metrics {name: value}, failed)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, text=True,
                       capture_output=True, timeout=RUN_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"ab: {' '.join(cmd)} in {checkout} exited "
                         f"with {p.returncode}")
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, res["failed"]


def save_outputs(checkout, workload, dest):
    """Copies a run's jvm.log and *-out directories to `dest`."""
    work = checkout / ".bench_work" / workload
    dest.mkdir(parents=True)
    if (work / "jvm.log").exists():
        shutil.copy(work / "jvm.log", dest)
    for out in work.glob("*-out"):
        shutil.copytree(out, dest / out.name)


STAMP = re.compile(r"^\d{4}(-\d\d){5}$")


def saved_reports(run_dir):
    """{report: lines} of one saved run. A report is a directory under its
    ``*-out`` directories that holds ``part-*`` files, named by its path
    with a timestamp segment masked; its lines are those of its part files
    in name order, without the wall-clock ``elapsed sec:`` line."""
    reports = {}
    for d in sorted({p.parent for p in run_dir.glob("*-out/**/part-*")}):
        key = "/".join("<stamp>" if STAMP.match(seg) else seg
                       for seg in d.relative_to(run_dir).parts)
        reports.setdefault(key, []).extend(
            line for p in sorted(d.glob("part-*"))
            for line in p.read_text().splitlines()
            if not line.startswith("elapsed sec:"))
    return reports


def compare_outputs(dir_a, dir_b):
    """(identical, message) for the saved reports of a pair's two runs.
    A timed run's unit count varies, so only the reports both sides wrote
    are compared: the same report path is the same unit and seed."""
    ra, rb = saved_reports(dir_a), saved_reports(dir_b)
    common = sorted(set(ra) & set(rb))
    if not common:
        return False, "no report on both sides"
    for key in common:
        for n, (x, y) in enumerate(itertools.zip_longest(ra[key], rb[key])):
            if x != y:
                return False, f"{key} line {n + 1}: A {x!r} B {y!r}"
    return True, (f"outputs identical ({len(common)} reports on both "
                  f"sides; A wrote {len(ra)}, B {len(rb)})")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


TIMEONE_LINE = re.compile(
    r"^\[timeone\] (\S+): warm=\S+ passes=\[([^\]]*)\]")


def timeone_run(checkout, classpath, queries, sf, jvm_options):
    """One ``graft.TimeOne`` run in a fresh work directory of `checkout`:
    {query: median seconds of its timed passes}."""
    work = checkout / ".timeone_work"
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java", *jvm_options(work), "-cp", classpath,
           "graft.TimeOne", *queries]
    p = subprocess.run(cmd, cwd=work, text=True, capture_output=True,
                       timeout=RUN_TIMEOUT_S,
                       env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf,
                                SPARK_LOCAL_DIRS=str(work / "spark-local")))
    times = {}
    for line in p.stdout.splitlines():
        m = TIMEONE_LINE.match(line)
        if m:
            passes = [float(x) for x in m.group(2).split(",")]
            times[m.group(1)] = statistics.median(passes)
    if p.returncode != 0 or set(times) != set(queries):
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"ab: graft.TimeOne in {checkout} exited with "
                         f"{p.returncode}, timed {sorted(times)}")
    return times


def summary(runs, metrics):
    """Per (name, lower_is_better) metric: both sides' medians and
    quartiles, and the pairs B won."""
    out = []
    pairs = sorted({r["pair"] for r in runs})
    for name, lower in metrics:
        side = {s: [r["metrics"][name] for r in runs
                    if r["side"] == s and name in r["metrics"]]
                for s in ("A", "B")}
        if not side["A"] or not side["B"]:
            continue
        won = 0
        for i in pairs:
            a = [r["metrics"][name] for r in runs
                 if r["pair"] == i and r["side"] == "A"]
            b = [r["metrics"][name] for r in runs
                 if r["pair"] == i and r["side"] == "B"]
            if a and b and ((b[0] < a[0]) if lower else (b[0] > a[0])):
                won += 1
        med_a, med_b = statistics.median(side["A"]), statistics.median(side["B"])
        qa, qb = quartiles(side["A"]), quartiles(side["B"])
        out.append({
            "metric": name,
            "a_median": med_a, "a_q1": qa[0], "a_q3": qa[1],
            "b_median": med_b, "b_q1": qb[0], "b_q3": qb[1],
            "change_pct": (med_b - med_a) / med_a * 100 if med_a else None,
            "b_won": won, "pairs": len(pairs),
            "gap_exceeds_a_iqr": abs(med_b - med_a) > (qa[1] - qa[0])})
    return out


def print_summary(rows):
    print("\nmetric        A median [q1-q3]            "
          "B median [q1-q3]            change   B won  gap>IQR(A)")
    for r in rows:
        print(f"{r['metric']:<13} "
              f"{r['a_median']:9.4g} [{r['a_q1']:.4g}-{r['a_q3']:.4g}]"
              f"{'':>4}{r['b_median']:9.4g} [{r['b_q1']:.4g}-{r['b_q3']:.4g}]"
              f"{'':>4}{r['change_pct']:+6.1f}%  {r['b_won']:2d}/{r['pairs']}"
              f"  {r['gap_exceeds_a_iqr']}")


def timeone_ab(a, sides, shas):
    # the benchmark's JVM options (heap, module opens, scratch paths)
    sys.path.insert(0, str(ROOT / "perfbench"))
    from run import jvm_options

    queries = a.timeone.split(",")
    classpath = {}
    for s in ("A", "B"):
        built = subprocess.run([sys.executable, "perfbench/build.py"],
                               cwd=sides[s], text=True, capture_output=True)
        if built.returncode != 0:
            sys.stderr.write(built.stderr[-3000:])
            raise SystemExit(f"ab: perfbench/build.py failed for {s}")
        classpath[s] = built.stdout.strip().splitlines()[-1]
    print(f"A = {a.ref_a} ({shas['A'][:12]}), B = {a.ref_b} "
          f"({shas['B'][:12]}), graft.TimeOne {' '.join(queries)} on "
          f"{a.sf}, {a.pairs} pairs", flush=True)
    runs = []
    for i in range(a.pairs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for pos, s in enumerate(order):
            times = timeone_run(sides[s], classpath[s], queries, a.sf,
                                jvm_options)
            runs.append({"pair": i, "side": s, "metrics": times})
            print(f"pair {i:2d} {s} ({'first' if pos == 0 else 'second'}): "
                  + " ".join(f"{q}={times[q]:.3f}" for q in queries),
                  flush=True)
    print_summary(summary(runs, [(q, True) for q in queries]))


def main():
    ap = argparse.ArgumentParser(
        description="Alternating same-session perfbench A/B of two git refs.")
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("--workload")
    ap.add_argument("--timeone", help="comma-separated graft.TimeOne queries")
    ap.add_argument("--sf", help="fixture directory for --timeone")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--trace-runs", action="store_true")
    ap.add_argument("--save", default=None)
    a = ap.parse_args()
    if a.pairs < 1:
        raise SystemExit("ab: --pairs must be at least 1")
    if (a.workload is None) == (a.timeone is None):
        raise SystemExit("ab: give exactly one of --workload and --timeone")
    if a.timeone and not a.sf:
        raise SystemExit("ab: --timeone needs --sf DIR")

    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    try:
        sides = {"A": tmp / "a", "B": tmp / "b"}
        shas = {"A": export(a.ref_a, sides["A"]),
                "B": export(a.ref_b, sides["B"])}
        if a.timeone:
            timeone_ab(a, sides, shas)
            return
        bench = json.loads((sides["A"] / "BENCHMARK.json").read_text())
        workloads = [w["name"] for w in bench["workloads"]]
        if a.workload not in workloads:
            raise SystemExit(f"ab: --workload must be one of {workloads}")
        seconds = bench["run_seconds"]
        print(f"A = {a.ref_a} ({shas['A'][:12]}), "
              f"B = {a.ref_b} ({shas['B'][:12]}), workload {a.workload}, "
              f"{a.pairs} pairs from seed {a.seed0}", flush=True)

        runs = []
        identical = 0
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            saved = {s: Path(a.save) / f"pair{i}-seed{seed}-{s}"
                     for s in order} if a.save else {}
            for pos, s in enumerate(order):
                metrics, failed = run_once(
                    sides[s], a.workload, seed, seconds, 0)
                if a.save:
                    save_outputs(sides[s], a.workload, saved[s])
                runs.append({"pair": i, "side": s, "failed": failed,
                             "metrics": metrics})
                print(f"pair {i:2d} seed {seed} {s} "
                      f"({'first' if pos == 0 else 'second'}): failed={failed} "
                      + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()),
                      flush=True)
            if a.save:
                same, msg = compare_outputs(saved["A"], saved["B"])
                identical += same
                print(f"pair {i:2d} {msg}", flush=True)

        print_summary(summary(runs, [
            (m["name"], m.get("better", "lower") == "lower")
            for m in bench["end_to_end"]]))
        print("failed runs: " +
              str(sum(1 for r in runs if r["failed"])) + f" of {len(runs)}")
        if a.save:
            print(f"outputs identical in {identical} of {a.pairs} pairs")

        if a.trace_runs:
            traced = {}
            for s in ("A", "B"):
                traced[s], _ = run_once(sides[s], a.workload, a.seed0,
                                        seconds, 1)
            print("\nper-layer metric (one --trace 1 run each)   A   B")
            for name in sorted(set(traced["A"]) | set(traced["B"])):
                print(f"{name:<40} {traced['A'].get(name, float('nan')):10.4g}"
                      f" {traced['B'].get(name, float('nan')):10.4g}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
