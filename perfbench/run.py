#!/usr/bin/env python3
"""Benchmark for the Spark energy-ETL engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload gate-heavy --seed 1 --seconds 20 --trace 0

It builds the engine and the harness from the checkout's sources (once;
outputs go to .bench_build/), generates the workload's inputs from the
seed, runs them in one JVM on local[nproc] from a single client thread,
checks every result outside the timed region, and prints one JSON object
as the last line of stdout. --trace 0 prints the end-to-end metrics;
--trace 1 prints the per-layer metrics from a traced run and writes the
span tree to .bench_build/trace-<workload>-<seed>.json.

Workloads (why each exists is in BENCHMARK.json):
  gate-heavy       2 build- and shuffle-heavy gate queries
  energy-pipeline  the paper's path: CSV ingest, snapshot commits, API reads
"""
import argparse
import contextlib
import datetime as dt
import hashlib
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# A build-heavy query (eager actions while the DataFrame is built) and a
# shuffle-heavy one, from the top of the per-query budget list.
GATE_HEAVY = ["q243_item_item_recs", "q242_negative_edges"]
WORKLOADS = {
    "gate-heavy": {"kind": "gate", "queries": GATE_HEAVY, "sf": 0.02},
    "energy-pipeline": {"kind": "energy"},
}
# The gate tables are the same in every run (seed 42, like the engine's
# test data); the run seed permutes the query order. Per-query cost
# depends on the data, so a seeded table would add run-to-run spread.
GATE_DATA_SEED = 42
SETUP_REPS = 5
BLOB_ROWS = 50_000       # the reference CSV's size
PRELOAD_BLOBS = 2
TICKS_PER_PASS = 3
MERGE_EVERY = 3          # the last tick of each pass also merges ...
MERGE_LAG = 2            # ... the blob landed two ticks earlier
MAX_PASSES = 2
ENDPOINTS = ["by_home", "home_vs_avg", "kpis", "topk", "season_totals",
             "anomalies_home", "forecast"]
FORECAST_DAYS = 30       # the horizon of the prophet fixture
TOPK = 10
HEAP = "4g"              # fixed size: heap resizing adds run-to-run spread
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        for d, _, files in sorted(os.walk(top)) if os.path.isdir(top) else [("", [], [top])]:
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns
    the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala; run from a checkout root")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if not (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false", "writeClasspath"]
        t0 = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT).returncode
        if rc != 0 or not os.path.isfile(cp_file):
            fail(f"build failed (see {BUILD}/build.log)")
        log(f"perfbench: built in {time.time() - t0:.0f}s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip()


# ----------------------------------------------------------------- inputs

def energy_plan(seed, n_ticks):
    """Seeded request mix: every tick issues each endpoint once, in a
    seeded order and with seeded parameters."""
    rng = np.random.default_rng([seed, 4])
    ticks = []
    for _ in range(n_ticks):
        reqs = []
        for i in rng.permutation(len(ENDPOINTS)):
            op = ENDPOINTS[i]
            r = {"op": op}
            if op in ("by_home", "home_vs_avg", "anomalies_home", "forecast"):
                r["home"] = str(int(rng.integers(1, gen.N_HOMES + 1)))
            if op == "anomalies_home":
                d0 = gen.DAY0 + dt.timedelta(int(rng.integers(0, gen.N_DAYS - 30)))
                r["start"] = d0.isoformat()
                r["end"] = (d0 + dt.timedelta(29)).isoformat()
            if op == "topk":
                r["k"] = TOPK
            if op == "forecast":
                r["days"] = FORECAST_DAYS
            reqs.append(r)
        ticks.append(reqs)
    return ticks


def make_inputs(workload, seed, data):
    """Writes the workload's inputs under `data`; returns the part of the
    run description that names them."""
    w = WORKLOADS[workload]
    if w["kind"] == "gate":
        gen.gate_tables(GATE_DATA_SEED, w["sf"], data)
        return {"data": data, "queries": seeded_order(w["queries"], seed)}
    n_ticks = TICKS_PER_PASS * MAX_PASSES
    paths = gen.energy_blobs(seed, PRELOAD_BLOBS + 1 + n_ticks, BLOB_ROWS, data)
    pre = os.path.join(data, "preload")
    os.makedirs(pre, exist_ok=True)
    for p in paths[:PRELOAD_BLOBS]:
        os.replace(p, os.path.join(pre, os.path.basename(p)))
    return {"energy": {
        "preload": pre, "warm": paths[PRELOAD_BLOBS],
        "blobs": paths[PRELOAD_BLOBS + 1:], "requests": energy_plan(seed, n_ticks),
        "ticks_per_pass": TICKS_PER_PASS, "merge_every": MERGE_EVERY,
        "merge_lag": MERGE_LAG}}


def seeded_order(names, seed):
    return [names[i] for i in np.random.default_rng([seed, 5]).permutation(len(names))]


def inputs_reproducible(workload, seed, run, scratch):
    """Generates part of the inputs a second time and compares bytes: the
    gate tables, or the first energy blob."""
    shutil.rmtree(scratch, ignore_errors=True)
    if WORKLOADS[workload]["kind"] == "gate":
        gen.gate_tables(GATE_DATA_SEED, WORKLOADS[workload]["sf"], scratch)
        pairs = [(os.path.join(run["data"], f), os.path.join(scratch, f))
                 for f in sorted(os.listdir(scratch))]
    else:
        n = PRELOAD_BLOBS + 1 + TICKS_PER_PASS * MAX_PASSES
        again, = gen.energy_blobs(seed, n, BLOB_ROWS, scratch, write=[0])
        pairs = [(os.path.join(run["energy"]["preload"], os.path.basename(again)), again)]
    same = all(open(a, "rb").read() == open(b, "rb").read() for a, b in pairs)
    shutil.rmtree(scratch, ignore_errors=True)
    return same


# ------------------------------------------------------------------ checks

def check_gate(data, work, res):
    """Oracle check of every query's result (written by its warm-up
    execution) with tools/check_oracle.py; returns the failing names."""
    with open(os.path.join(work, "results", "oracle_sql.json"), "w") as f:
        json.dump(res["oracle_sql"], f)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data, os.path.join(work, "results"))
    fails = [line for line in buf.getvalue().splitlines() if line.startswith("FAIL ")]
    for line in fails:
        log(f"perfbench: {line}")
    return {line.split()[1].rstrip(":") for line in fails}


def close(a, b, rel=1e-9):
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def energy_db(cfg):
    con = duckdb.connect()
    files = sorted(os.path.join(cfg["preload"], f) for f in os.listdir(cfg["preload"]))
    files += cfg["blobs"]
    con.execute("""CREATE TABLE raw AS SELECT * FROM read_csv(?, header=true,
        all_varchar=true, filename=true)""", [files])
    con.execute(f"""CREATE TABLE r AS SELECT
        CASE WHEN filename LIKE '%preload%' THEN 0
             ELSE list_position(?, filename) END AS landed,
        "Home ID" AS home, "Appliance Type" AS app,
        try_cast("Energy Consumption (kWh)" AS DOUBLE) AS kwh, "Season" AS season,
        strptime("Date", '%d-%m-%Y')::DATE AS d, "Date" AS date_s,
        try_cast("Household Size" AS INTEGER) AS hs FROM raw""", [cfg["blobs"]])
    con.execute("""CREATE TABLE v AS SELECT * FROM r
        WHERE home IS NOT NULL AND app IS NOT NULL AND kwh IS NOT NULL""")
    return con


def check_request(con, rec, fixture):
    """True when one collected API result matches DuckDB over the CSVs
    landed so far (or the forecast fixture)."""
    req, rows, k = rec["request"], rec["rows"], rec["landed"]
    view = f"(SELECT * FROM v WHERE landed <= {k})"
    op = req["op"]
    q = lambda sql, *a: con.execute(sql.replace("{V}", view), list(a)).fetchall()
    if op == "by_home":
        exp = q("SELECT home, app, kwh, season, date_s FROM {V} WHERE home = ?", req["home"])
        return sorted(map(tuple, rows)) == sorted(exp)
    if op == "home_vs_avg":
        exp = dict((a, (s, m)) for a, s, m in q("""SELECT g.app, h.s, g.m FROM
            (SELECT app, avg(kwh) m FROM {V} GROUP BY app) g JOIN
            (SELECT app, sum(kwh) s FROM {V} WHERE home = ? GROUP BY app) h
            ON g.app = h.app""", req["home"]))
        return len(rows) == len(exp) and all(
            a in exp and close(s, exp[a][0]) and close(m, exp[a][1]) for a, s, m in rows)
    if op == "kpis":
        (t, m, n, h), = q("SELECT sum(kwh), avg(kwh), count(*), avg(hs) FROM {V}")
        (gt, gm, gn, gh), = rows
        return gn == n and close(gt, t) and close(gm, m) and close(gh, h)
    if op == "topk":
        totals = dict(q("SELECT home, sum(kwh) FROM {V} GROUP BY home"))
        ranked = sorted(totals.values(), reverse=True)
        got = [s for _, s in rows]
        return (len(rows) == req["k"] and got == sorted(got, reverse=True)
                and all(close(s, totals.get(h, math.nan)) for h, s in rows)
                and close(got[-1], ranked[req["k"] - 1]))
    if op == "season_totals":
        exp = dict(q("SELECT season, sum(kwh) FROM {V} GROUP BY season"))
        return len(rows) == len(exp) and all(close(s, exp.get(x, math.nan)) for x, s in rows)
    if op == "anomalies_home":
        # FIXTURES.md section 3: one row per day from the home's first to
        # last reading in range, zero-filled, first rolling mean = total
        daily = dict(q("""SELECT d::VARCHAR, sum(kwh) FROM {V} WHERE home = ?
            AND d BETWEEN CAST(? AS DATE) AND CAST(? AS DATE) GROUP BY d""",
                       req["home"], req["start"], req["end"]))
        if not daily:
            return rows == []
        got = sorted(rows, key=lambda r: r[1])
        lo, hi = min(daily), max(daily)
        span = (dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo)).days + 1
        days = [r[1] for r in got]
        return (len(got) == span and days[0] == lo and days[-1] == hi
                and len(set(days)) == span
                and close(got[0][4], got[0][2], 1e-6)
                and all(close(r[2], daily.get(r[1], 0.0), 1e-6) for r in got)
                and all(r[7] == (r[6] < 0) for r in got))
    if op == "forecast":
        exp = fixture["rows"][:req["days"]]
        return len(rows) == len(exp) and all(
            r[0] == e["ds"] and abs(r[1] - e["yhat"]) < 1e-6
            and abs(r[2] - e["yhat_lower"]) <= e["edge_tol"]
            and abs(r[3] - e["yhat_upper"]) <= e["edge_tol"]
            for r, e in zip(sorted(rows), exp))
    return False


def check_energy(run, res):
    """Returns (names of failing operations, failed request indices,
    whether the final snapshot matches)."""
    cfg = run["energy"]
    con = energy_db(cfg)
    with open(os.path.join(ROOT, "src", "test", "resources",
                           "prophet_forecast_fixture.json")) as f:
        fixture = json.load(f)
    bad_reqs = []
    for i, rec in enumerate(res["requests"]):
        try:
            ok = check_request(con, rec, fixture)
        except Exception as e:  # a malformed result is a wrong result
            log(f"perfbench: check error on {rec['request']}: {e}")
            ok = False
        if not ok:
            log(f"perfbench: FAIL {rec['request']['op']} at tick {rec['tick']}: {rec['request']}")
            bad_reqs.append(i)
    fin = res["final"]
    view = f"(SELECT * FROM v WHERE landed <= {fin['landed']})"
    (t, m, n, h), = con.execute(f"SELECT sum(kwh), avg(kwh), count(*), avg(hs) FROM {view}").fetchall()
    (gt, gm, gn, gh), = fin["kpis"]
    homes = dict(con.execute(f"SELECT home, sum(kwh) FROM {view} GROUP BY home").fetchall())
    final_ok = (gn == n and close(gt, t) and close(gm, m) and close(gh, h)
                and len(fin["per_home"]) == len(homes)
                and all(close(s, homes.get(k, math.nan)) for k, s in fin["per_home"]))
    if not final_ok:
        log(f"perfbench: FAIL final snapshot: rows {gn} vs {n}, kWh {gt} vs {t}")
    (landed_rows,), = con.execute(
        f"SELECT count(*) FROM r WHERE landed BETWEEN 1 AND {fin['landed']}").fetchall()
    (valid_rows,), = con.execute(
        f"SELECT count(*) FROM v WHERE landed BETWEEN 1 AND {fin['landed']}").fetchall()
    return bad_reqs, final_ok, valid_rows, landed_rows


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Per span kind: duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, lo
        for a, b in iv:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, hi - lo - covered) / 1e3
    return out


def op_counts(spans):
    """Exact per-operation counts: jobs, stages and exchanges under each
    op span, keyed by op name; one entry per execution."""
    by_id = {s["id"]: s for s in spans}
    counts = {}
    for s in spans:
        if s["kind"] == "op":
            counts[s["id"]] = {"op": s["name"], "jobs": 0, "stages": 0, "exchanges": 0}
    for s in spans:
        p = s["parent"]
        while p >= 0 and by_id[p]["kind"] != "op":
            p = by_id[p]["parent"]
        if p < 0:
            continue
        c = counts[p]
        if s["kind"] == "job":
            c["jobs"] += 1
        elif s["kind"] == "stage":
            c["stages"] += 1
        c["exchanges"] += s["counters"].get("exchanges", 0)
    table = {}
    for c in counts.values():
        table.setdefault(c["op"], set()).add((c["jobs"], c["stages"], int(c["exchanges"])))
    return table


# Which end-to-end metric each layer metric should move, and where:
#   core.build_s, core.build_jobs           -> wall_s on gate-heavy
#   plans.analysis/optimization/planning_s  -> op_p50_s on energy-pipeline
#   plans.exchanges, plans.sort_merge_joins -> wall_s on gate-heavy
#   sched.jobs/stages/tasks/task_delay_s    -> op_p50_s on energy-pipeline
#   exec.*, tables.scan_bytes/scan_files    -> wall_s on gate-heavy (scan_files also
#                                              api.by_home_s on energy-pipeline)
#   shuffle.*                               -> wall_s on gate-heavy
#   sources.append/merge_s, write_amp,
#   commit_p50_s, ingest_rows_per_s         -> wall_s on energy-pipeline
#   sources.read_s, sources.live_files      -> op_p50_s on energy-pipeline
#   api.*_s                                 -> op_p50_s on energy-pipeline
#   jvm.driver_gc_s                         -> heap_retained_mb, wall_s
# Counts and times are per traced pass.
def layer_metrics(res, traced_passes, valid_ratio):
    spans = res["spans"]
    n = len(traced_passes) or 1
    cpus = res["cpus"]
    tot = {}
    for s in spans:
        for k, v in s["counters"].items():
            tot[k] = tot.get(k, 0.0) + v
    def kind_sum(kind, name=None):
        return sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                   if s["kind"] == kind and (name is None or s["name"] == name))
    by_id = {s["id"]: s for s in spans}
    build_jobs = sum(1 for s in spans if s["kind"] == "job"
                     and by_id[s["parent"]]["kind"] == "build")
    traced_wall = sum(p["wall_s"] for p in traced_passes)
    # pass 0 still settles after the warm-up, so it is the reference only
    # when no later untraced pass ran
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    untraced = untraced[1:] or untraced
    traced_ids = {i for i, p in enumerate(res["passes"]) if p["traced"]}
    ops = [o for o in res["ops"] if o["pass"] in traced_ids]
    def api(op):
        return median([o["s"] for o in ops if o["name"] == op])
    commits = [o["s"] for o in ops if o["kind"] in ("append", "merge")]
    fin = res.get("final", {})
    committed_rows = valid_ratio * BLOB_ROWS * sum(1 for o in ops if o["kind"] in ("append", "merge"))
    m = {
        "core.build_s": kind_sum("build") / n,
        "core.build_jobs": build_jobs / n,
        "plans.analysis_s": kind_sum("plan", "analysis") / n,
        "plans.optimization_s": kind_sum("plan", "optimization") / n,
        "plans.planning_s": kind_sum("plan", "planning") / n,
        "plans.exchanges": tot.get("exchanges", 0) / n,
        "plans.sort_merge_joins": tot.get("sort_merge_joins", 0) / n,
        "sched.jobs": sum(1 for s in spans if s["kind"] == "job") / n,
        "sched.stages": sum(1 for s in spans if s["kind"] == "stage") / n,
        "sched.tasks": tot.get("tasks", 0) / n,
        "sched.task_delay_s": tot.get("task_delay_s", 0) / n,
        "exec.run_s": tot.get("run_s", 0) / n,
        "exec.cpu_s": tot.get("cpu_s", 0) / n,
        "exec.gc_s": tot.get("gc_s", 0) / n,
        "exec.busy_ratio": tot.get("run_s", 0) / max(1e-9, traced_wall * cpus),
        "tables.scan_bytes": tot.get("scan_bytes", 0) / n,
        "tables.scan_files": tot.get("scan_files", 0) / n,
        "shuffle.write_bytes": tot.get("shuffle_write_bytes", 0) / n,
        "shuffle.read_bytes": tot.get("shuffle_read_bytes", 0) / n,
        "shuffle.fetch_wait_s": tot.get("fetch_wait_s", 0) / n,
        "shuffle.spill_disk_bytes": tot.get("spill_disk_bytes", 0) / n,
        "sources.append_s": median([o["s"] for o in ops if o["kind"] == "append"]),
        "sources.merge_s": median([o["s"] for o in ops if o["kind"] == "merge"]),
        "sources.write_amp": fin.get("committed_bytes", 0) / max(1, fin.get("landed_bytes", 0)),
        "sources.read_s": median([(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans
                                  if s["kind"] == "read"]),
        "sources.live_files": fin.get("live_files", 0),
        "sources.commit_p50_s": median(commits),
        "sources.ingest_rows_per_s": committed_rows / max(1e-9, sum(commits)),
        "api.p50_s": median([o["s"] for o in ops if o["kind"] == "request"]),
        "ingest.valid_ratio": valid_ratio,
        "jvm.driver_gc_s": res["gc_s"] / max(1, len(res["passes"])),
        "trace.overhead_ratio": median([p["wall_s"] for p in traced_passes]) / median(untraced) - 1.0,
    }
    for e in ENDPOINTS:
        m[f"api.{e}_s"] = api(e)
    return m


LAYER_UNITS = {"_per_s": "rows/s", "_s": "s", "_bytes": "bytes", "_ratio": "ratio",
               "_amp": "ratio"}


def unit_of(name):
    for suffix, u in LAYER_UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the root of a checkout of the engine")
    classpath = build()

    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{a.trace}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "results"))
    run = {"workload": a.workload, "kind": WORKLOADS[a.workload]["kind"],
           "cpus": os.cpu_count(), "seconds": a.seconds, "trace": bool(a.trace),
           "work": work, "setup_reps": SETUP_REPS}
    run.update(make_inputs(a.workload, a.seed, data))
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump(run, f)

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", os.path.join(work, "run.json")])
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT).returncode
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        fail(f"benchmark JVM exited {rc} (see {work}/jvm.log)")
    log(f"perfbench: JVM done in {time.time() - t0:.1f}s")
    with open(res_path) as f:
        res = json.load(f)
    res["cpus"] = run["cpus"]

    # --- correctness, outside the timed region
    ops = res["ops"]
    failed_ops = [o for o in ops if "error" in o]
    for o in failed_ops:
        log(f"perfbench: FAIL {o['name']} (pass {o['pass']}): {o['error']}")
    valid_ratio = 1.0
    if run["kind"] == "gate":
        bad = check_gate(data, work, res)
        failed_ops += [o for o in ops if o["name"] in bad and "error" not in o]
    else:
        bad_reqs, final_ok, valid_rows, landed_rows = check_energy(run, res)
        valid_ratio = valid_rows / max(1, landed_rows)
        reqs = [o for o in ops if o["kind"] == "request"]
        failed_ops += [reqs[i] for i in bad_reqs if "error" not in reqs[i]]
        if not final_ok:
            failed_ops += [o for o in ops if o["kind"] in ("append", "merge")
                           and "error" not in o]
    reproducible = inputs_reproducible(a.workload, a.seed, run, os.path.join(work, "regen"))
    if not reproducible:
        log("perfbench: FAIL the same seed generated different input bytes")

    # --- metrics
    passes = res["passes"]
    measured = [p for p in passes if not p["traced"]]
    timed = [o for o in ops if not passes[o["pass"]]["traced"]]
    # one user operation: a gate query, or on energy-pipeline one tick's
    # dashboard refresh (its seven requests, back to back)
    refresh = {}
    for o in timed:
        if o["kind"] == "request":
            refresh[o["tick"]] = refresh.get(o["tick"], 0.0) + o["s"]
    latency = [o["s"] for o in timed if o["kind"] == "query"] + list(refresh.values())
    if a.trace:
        traced = [p for p in passes if p["traced"]]
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in layer_metrics(res, traced, valid_ratio).items()}
        spans = res["spans"]
        with open(os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": spans}, f)
        print(f"self time by layer, {a.workload} (s per traced pass):")
        for k, v in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
            print(f"  {k:10s} {v / len(traced):9.3f}")
        print(f"trace.overhead_ratio {metrics['trace.overhead_ratio']['value']:.4f}")
        print("exact counts per operation (jobs, stages, exchanges):")
        for op, cs in sorted(op_counts(spans).items()):
            print(f"  {op:28s} " + " | ".join(f"{j} {s} {x}" for j, s, x in sorted(cs)))
    else:
        metrics = {
            "setup_s": {"value": median(res["setup_s"]), "unit": "s"},
            "wall_s": {"value": median([p["wall_s"] for p in measured]), "unit": "s"},
            "op_p50_s": {"value": median(latency), "unit": "s"},
            "heap_retained_mb": {"value": res["heap_retained_mb"], "unit": "MB"},
        }
        for k, v in metrics.items():
            print(f"{k:18s} {v['value']:.4f} {v['unit']}")
        print(f"passes {len(measured)}, operations {len(timed)}, "
              f"failed_ratio {len(failed_ops) / max(1, len(ops)):.4f}")
    for d in ("data", "results", "spark-local", "tables", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": reproducible and not failed_ops, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
