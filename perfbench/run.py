#!/usr/bin/env python3
"""Benchmark of the yaetlspark engine (see BENCHMARK.json for the workloads).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_flow --seed 1 --seconds 10 --trace 0

Builds the engine from source together with the harness in perfbench/src
(sbt, offline; cached in .bench_build/ by a hash of the sources), runs one
JVM that drives the workload through the engine's public entry points,
checks every item's output digest against perfbench/expected.json, and
prints one JSON object as the last line of standard output. With
--trace 0 it holds the end-to-end metrics, with --trace 1 the per-layer
metrics. A full report and, when traced, the spans file are written under
.bench_build/perfbench/. Exits non-zero when an item fails or a digest does
not match.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.1"
OUT = ROOT / ".bench_build" / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
# Tables each workload reads; all are checked before a run starts.
TABLES = {
    "etl_flow": ["lineitem", "orders", "customer"],
    "query_board": ["nation", "region", "supplier", "customer", "part", "orders",
                    "lineitem", "events"],
}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
END_TO_END_UNITS = {
    "wall_s": "s", "item_p50_s": "s", "item_p75_s": "s", "cpu_s": "s",
    "shuffle_mb": "MB", "jobs": "count", "heap_live_mb": "MB", "setup_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_key():
    h = hashlib.sha256(str(ROOT).encode())
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    OUT.mkdir(parents=True, exist_ok=True)
    stamp = OUT / "classpath.json"
    key = source_key()
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("key") == key:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if not (Path(env.get("SPARK_HOME", "")) / "jars").is_dir():
        fail("SPARK_HOME must name the Spark installation the engine builds against")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = OUT / "build.log"
    with open(log, "w") as f:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
            timeout=BUILD_TIMEOUT_S)
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = lines[-1].strip()
    stamp.write_text(json.dumps({"key": key, "classpath": cp}))
    return cp


# ---------------------------------------------------------- environment

def _proc(path):
    try:
        return Path(path).read_text()
    except OSError:
        return ""


def loadavg():
    parts = _proc("/proc/loadavg").split()
    return float(parts[0]) if parts else -1.0


def jiffies():
    """(steal, total) from /proc/stat's aggregate cpu line."""
    f = _proc("/proc/stat").splitlines()[:1]
    if not f:
        return 0, 0
    v = [int(x) for x in f[0].split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def cpu_psi60():
    for field in _proc("/proc/pressure/cpu").split():
        if field.startswith("avg60="):
            return float(field[6:])
    return -1.0


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    for line in _proc("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            return min(4, max(2, int(line.split()[1]) // (4 * 1024 * 1024)))
    return 2


# ------------------------------------------------------------- checking

def parquet(d):
    return f"SELECT * FROM read_parquet('{d}/*.parquet')"


def digest(con, relation):
    """Order-insensitive digest of a relation given as SQL: its sorted
    column names, row count and the sum of its rows' hashes, with every
    cell cast to text. Engine outputs and DuckDB oracles both go through
    this one function, so their text forms agree."""
    cols = sorted(con.sql(relation).columns)
    row = " || chr(31) || ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    n, h = con.sql(f"SELECT count(*), sum(hash({row})::HUGEINT) FROM ({relation})").fetchone()
    return {"columns": cols, "rows": n, "hash_sum": str(h or 0)}


def check_outputs(verify_root, items):
    """Compare each item's outputs with perfbench/expected.json; returns
    {item: [problem, ...]} for the items that do not match."""
    import duckdb
    expected = json.loads((HERE / "expected.json").read_text())["items"]
    con = duckdb.connect()
    wrong = {}
    for item in items:
        exp = expected.get(item)
        if exp is None:
            wrong[item] = ["no expected digest"]
            continue
        bad = []
        for out, want in exp["outputs"].items():
            d = verify_root / item / out
            if not any(d.glob("*.parquet")):
                bad.append(f"{out}: no output")
                continue
            got = digest(con, parquet(d))
            if got != want:
                bad.append(f"{out}: got {got['rows']} rows, hash sum {got['hash_sum']}; "
                           f"want {want['rows']} rows, hash sum {want['hash_sum']}")
        if bad:
            wrong[item] = bad
    con.close()
    return wrong


# ------------------------------------------------------------------ run

def run_harness(cp, workload, seed, seconds, trace, run_dir, result, spans, deadline):
    """Start the JVM, wait for it, and return its result record."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
           *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Harness",
           f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
           f"trace={trace}", f"cores={cores()}", f"data={DATA}",
           f"scratch={run_dir}", f"result={result}", f"spans={spans}"]
    log = OUT / "harness.log"
    with open(log, "w") as f:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep it in the run dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness did not finish in time, see {log}")
    if rc != 0 or not result.exists():
        tail = log.read_text().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited {rc}, see {log}")
    return json.loads(result.read_text())


def end_to_end(r):
    """Medians over the untraced timed passes: of the pass walls, of the
    item latencies, and of the per-pass counters."""
    plain = [p for p in r["passes"] if not p["traced"]]
    lat = [s["s"] for s in r["samples"] if s["pass"] >= 0 and not s["traced"] and s["ok"]]
    med = statistics.median
    q = statistics.quantiles(lat, n=4, method="inclusive") if len(lat) > 1 else lat * 3
    return {
        "wall_s": med(p["wall_s"] for p in plain),
        "item_p50_s": med(lat),
        "item_p75_s": q[2],
        "cpu_s": med(p["cpu_s"] for p in plain),
        "shuffle_mb": med(p["shuffle_bytes"] for p in plain) / 1e6,
        "jobs": med(p["jobs"] for p in plain),
        "heap_live_mb": r["heap_live_mb"],
        "setup_s": r["setup_s"],
    }


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or ".mb_" in name:
        return "MB"
    if name in ("spark.task_skew", "spark.core_util", "trace.overhead"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [t for t in TABLES[a.workload] if not (DATA / f"{t}.parquet").is_file()]
    if missing:
        fail(f"input tables missing under {DATA}: {', '.join(missing)}")
    cp = build()

    env = {"nproc": cores(), "master": f"local[{cores()}]", "xmx": f"{heap_gb()}g",
           "seed": a.seed, "loadavg_start": loadavg(), "cpu_psi60_start": cpu_psi60()}
    steal0, total0 = jiffies()
    run_dir = OUT / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result, spans = run_dir / "result.json", OUT / f"spans-{tag}.json"
    try:
        r = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, result,
                        spans, time.monotonic() + RUN_TIMEOUT_S)
        items = list(r["items"])
        wrong = check_outputs(run_dir / "verify", items)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = jiffies()
    env.update(loadavg_end=loadavg(), cpu_psi60_end=cpu_psi60(),
               steal_pct=100.0 * (steal1 - steal0) / max(1, total1 - total0))

    failed = len(r["failures"])
    # a counter read that timed out may have missed events of its item
    undrained = r["quiesce_timeouts"]
    e2e = end_to_end(r)
    summary = dict(e2e, failed_ratio=failed / r["attempted"], wrong_results=len(wrong))
    report = {"workload": a.workload, "trace": a.trace, "env": env,
              "end_to_end": summary, "per_layer": r["layers"],
              "failures": r["failures"], "wrong": wrong, "harness": r}
    (OUT / f"report-{tag}.json").write_text(json.dumps(report, indent=1))

    print(f"perfbench {a.workload}: closed loop, 1 client, {env['master']}, "
          f"seed {a.seed}, {len(items)} items, "
          f"{sum(not p['traced'] for p in r['passes'])} timed passes")
    print("env " + json.dumps(env))
    units = dict(END_TO_END_UNITS, failed_ratio="ratio", wrong_results="count")
    for k, v in summary.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    for f in r["failures"]:
        print(f"  FAILED {f['item']} ({f['phase']}): {f['error']}")
    for item, problems in wrong.items():
        print(f"  WRONG {item}: {'; '.join(problems)}")
    print(f"  quiesce_timeouts = {undrained} count")
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(r["layers"].items())}
        print(f"  spans: {spans}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": not wrong, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))
    if undrained:
        print(f"perfbench: {undrained} counter reads timed out waiting for the "
              "listener bus; counts may be short", file=sys.stderr)
    sys.exit(0 if not wrong and not failed and not undrained else 1)


if __name__ == "__main__":
    main()
