#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage:
  python3 perfbench/run.py --workload mopso_avg|query_serve --seed N
                           --seconds S --trace 0|1

It builds the engine (perfbench/build.py), generates ``mopso_avg``'s input
from the seed (perfbench/gen.py; ``query_serve`` reads the sf0.01 fixture
tables in perfbench/fixtures and takes its pass order from the seed), runs
the JVM driver (graft.perfbench.Main) in a ``local[nproc]`` session, compares
query outputs with their DuckDB twins, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. All files go under
``.bench_work/`` in the checkout. See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("mopso_avg", "query_serve")
# Input sizes, fixed per workload (README.md explains the choice).
BLOB_POINTS, BLOB_FEATURES, BLOB_K = 10000, 19, 7
FIXTURES = HERE / "fixtures" / "sf0.01"  # query_serve's tables, read in place
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def driver_mem():
    """SPARK_DRIVER_MEM, else the tier-1 rule: half the RAM, 2g to 8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def inputs(workload, seed, work):
    """The directory of the workload's input tables."""
    if workload == "query_serve":
        return FIXTURES
    import gen  # numpy and pyarrow: only this workload needs them

    data = work / "data"
    data.mkdir(parents=True)
    t0 = time.perf_counter()
    gen.blobs(str(data / "blobs.parquet"), seed, BLOB_POINTS, BLOB_FEATURES,
              BLOB_K)
    print(f"[perfbench] input generated in {time.perf_counter() - t0:.2f} s",
          file=sys.stderr)
    return data


def jvm_options(work):
    """Heap, JDK 17 module opens, and every Spark/JVM scratch path under
    ``work``, so the driver writes nothing outside it."""
    for d in ("tmp", "spark-local", "warehouse", "artifacts"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return ([f"-Xmx{driver_mem()}"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dgraft.artifacts.root={work / 'artifacts'}",
               f"-Dspark.local.dir={work / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"])


def run_jvm(classpath, args, work):
    cmd = (["java", *jvm_options(work), "-cp", classpath,
            "graft.perfbench.Main"] + args)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
            env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")),
            start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def oracle_failures(data, check):
    """Compares each query result kept by the warm-up pass with its DuckDB
    twin in tools/check.py's canonical form; returns (compared, failed).

    A twin's answer depends only on its SQL, the input tables and DuckDB, so
    it is computed once per checkout and kept in ``.bench_work/oracle`` under
    a hash of the three (the s14 twin alone takes about 20 s)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    from check import TABLES, canon

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    inputs_hash = hashlib.sha256(duckdb.__version__.encode())
    for p in sorted(Path(data).glob("*.parquet")):
        inputs_hash.update(p.name.encode())
        inputs_hash.update(p.read_bytes())
    cache = ROOT / ".bench_work" / "oracle"
    cache.mkdir(parents=True, exist_ok=True)

    def result(sql):
        """(sorted column names, canonical rows in that column order)."""
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [[r[cols.index(c)] for c in sorted(cols)] for r in cur.fetchall()]
        return [sorted(cols), [list(r) for r in canon(rows)]]

    def twin(sql):
        h = inputs_hash.copy()
        h.update(sql.encode())
        f = cache / f"{h.hexdigest()}.json"
        if not f.exists():
            tmp = f.with_suffix(".tmp")
            tmp.write_text(json.dumps(result(sql)))
            tmp.rename(f)
        return json.loads(f.read_text())

    oracle = json.loads((check / "oracle_sql.json").read_text())
    failed = 0
    for name, sql in sorted(oracle.items()):
        try:
            ok = result(f"SELECT * FROM read_parquet('{check / name}/*.parquet')"
                        ) == twin(sql)
        except Exception as e:  # a failed compare is a failed check
            print(f"[perfbench] oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] oracle mismatch: {name}", file=sys.stderr)
            failed += 1
    return len(oracle), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((HERE / "metrics.json").read_text())
    classpath = build.build()
    work = ROOT / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    data = inputs(a.workload, a.seed, work)

    out = work / "result.json"
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", str(data), "--work", str(work), "--cores", str(cores()),
        "--out", str(out)], work)
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: driver exited with {rc}")
    res = json.loads(out.read_text())
    for c in res["checks"]:
        if not c["ok"]:
            print(f"[perfbench] check failed: {c['name']}", file=sys.stderr)
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "query_serve":
        n, f = oracle_failures(data, work / "check")
        attempted, failed = attempted + n, failed + f

    got = res["metrics"]
    metrics = {}
    for m in bench["per_layer" if a.trace else "end_to_end"]:
        name = m["name"]
        if name in got:
            value = got[name]
        elif a.workload in layers.get(name, {}).get("on", [a.workload]):
            raise SystemExit(f"perfbench: driver did not report {name}")
        else:
            value = 0.0  # a layer this workload does not exercise
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
