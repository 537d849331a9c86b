#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM, one client.

    python3 perfbench/run.py --workload report --seed 1 --seconds 10 --trace 0

Builds the program (build.py), derives the seeded inputs, runs the Scala
harness, checks every op's first result against the DuckDB oracle and
every later rep against the first, and prints one JSON line: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import build

ROOT = build.ROOT
DATA = ROOT / "perfbench" / "data"
WORK = ROOT / ".bench_work"
WORKLOADS = ("report", "ann_serve")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Fixed multi-file layout, the same for every seed.
FILES_PER_TABLE = 4
ROW_GROUP_ROWS = 4096
JVM_TIMEOUT_S = 160
# graft.GraftSession needs these opens on JDK 17 (as build.sbt's javaOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def derive_inputs(seed: int, src: Path, dst: Path) -> None:
    """A seeded row permutation of every table, written as FILES_PER_TABLE
    parquet files per table under <dst>/<table>.parquet/."""
    shutil.rmtree(dst, ignore_errors=True)
    for i, t in enumerate(TABLES):
        table = pq.read_table(src / f"{t}.parquet")
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        table = table.take(perm)
        out = dst / f"{t}.parquet"
        out.mkdir(parents=True)
        bounds = np.linspace(0, table.num_rows, FILES_PER_TABLE + 1).astype(int)
        for f in range(FILES_PER_TABLE):
            part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
            pq.write_table(part, out / f"part-{f:05d}.parquet",
                           row_group_size=ROW_GROUP_ROWS)


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """tools/compare.py's rule: columns sorted by name, fresh index."""
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def oracle_mismatch(con, dump: Path, sql: str):
    """None when the Spark dump equals the oracle's result (same rows,
    dtypes and values, as tools/compare.py checks), else the diff."""
    spark_df = norm(con.sql(f"SELECT * FROM '{dump}/*.parquet'").df())
    ora_df = norm(con.sql(sql).df())
    if len(spark_df) != len(ora_df):
        return f"rows {len(spark_df)} != oracle {len(ora_df)}"
    s_types = list(spark_df.dtypes.astype(str))
    o_types = list(ora_df.dtypes.astype(str))
    if list(spark_df.columns) != list(ora_df.columns) or s_types != o_types:
        return (f"schema {dict(zip(spark_df.columns, s_types))} != oracle "
                f"{dict(zip(ora_df.columns, o_types))}")
    if not spark_df.equals(ora_df):
        neq = (spark_df != ora_df) & ~(spark_df.isna() & ora_df.isna())
        bad = neq.any(axis=1)
        return (f"{int(bad.sum())} rows differ, first: "
                f"{spark_df[bad].head(1).to_dict('records')} != oracle "
                f"{ora_df[bad].head(1).to_dict('records')}")
    return None


def check(result: dict, in_dir: Path, dump_dir: Path, tmp: Path) -> dict:
    """Oracle verdict per op: None (match) or the reason it failed."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    verdict = {}
    for op, sql in result["oracle"].items():
        dump = dump_dir / op
        if not dump.is_dir():
            verdict[op] = "no result: every rep failed"
            continue
        try:
            verdict[op] = oracle_mismatch(con, dump, sql)
        except Exception as e:  # noqa: BLE001 - a failed check is a failed op
            verdict[op] = f"{type(e).__name__}: {e}"
    con.close()
    return verdict


def failed_reps(result: dict, verdict: dict) -> list:
    """Reps that threw, differ from their op's first rep, or repeat a first
    result the oracle rejected."""
    return [r for r in result["ops"]
            if r["error"] or not r["digest_ok"] or verdict.get(r["op"])]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result: dict) -> dict:
    timed = [r for r in result["ops"] if r["timed"]]
    return {
        "setup_s": result["setup_s"],
        "build_s": median([b["build_ms"] for b in result["builds"]]) / 1e3,
        "pass_s": median(result["pass_s"]),
        "op_p50_ms": median([r["ms"] for r in timed]),
        "cache_mb": result["cache_mb"],
    }


def attribute(trace: dict) -> tuple:
    """Map every job and stage to the span that caused it: the span named
    by its job group when the event falls inside that span, else the
    innermost span open at the event's time (jobs started from pooled
    threads carry a stale inherited group). Sub-spans of an op (construct,
    plan, collect) are resolved by time inside the op's span."""
    spans = {s["id"]: s for s in trace["spans"]}
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s)

    def inside(s, t):
        return s["start"] - 1 <= t <= s["end"] + 1

    def resolve(group, t):
        s = spans.get(int(group)) if group.isdigit() else None
        if s is None or not inside(s, t):
            open_ = [x for x in trace["spans"]
                     if x["parent"] == -1 and inside(x, t)]
            s = min(open_, key=lambda x: x["ms"]) if open_ else None
        if s is None:
            return None, None
        sub = [c for c in children.get(s["id"], []) if inside(c, t)]
        return s["id"], (min(sub, key=lambda x: x["ms"])["name"]
                         if sub else None)

    stages = {}
    for st in trace["stages"]:
        st["span"], st["sub"] = resolve(st["group"], st["time"])
        stages[st["stage"]] = st
    jobs = []
    for j in trace["jobs"]:
        j["span"], j["sub"] = resolve(j["group"], j["time"])
        ran = [stages[s] for s in j["stages"]
               if s in stages and stages[s]["tasks"] > 0]
        j["tasks"] = sum(s["tasks"] for s in ran)
        jobs.append(j)
    return spans, jobs, list(stages.values())


def per_op_counts(result: dict) -> dict:
    """(op, pass) -> jobs, tasks, cache fills and rows of that rep."""
    _, jobs, stages = attribute(result["trace"])
    out = {}
    for r in result["ops"]:
        out[(r["op"], r["pass"])] = {
            "jobs": sum(1 for j in jobs if j["span"] == r["span"]),
            "tasks": sum(s["tasks"] for s in stages if s["span"] == r["span"]),
            "fills": r["fills"], "rows": r["rows"]}
    return out


def per_layer(result: dict) -> dict:
    spans, jobs, stages = attribute(result["trace"])
    cores = result["cores"]
    builds = [s["id"] for s in spans.values() if s["name"] == "build"]
    passes = sorted({r["pass"] for r in result["ops"] if r["timed"]})

    def layer_of_pass(p):
        reps = [r for r in result["ops"] if r["pass"] == p]
        ids = {r["span"] for r in reps}
        pj = [j for j in jobs if j["span"] in ids]
        ps = [s for s in stages if s["span"] in ids and s["tasks"] > 0]
        collect_run_ms = sum(s["run_ms"] for s in ps if s["sub"] == "collect")
        collect_ms = sum(r["collect_ms"] for r in reps)
        return {
            "queries.construct_ms": sum(r["construct_ms"] for r in reps),
            "queries.construct_jobs": sum(1 for j in pj
                                          if j["sub"] == "construct"),
            "plan.executed_plan_ms": sum(r["plan_ms"] for r in reps),
            "plan.analysis_ms": sum(r["analysis_ms"] for r in reps),
            "plan.optimization_ms": sum(r["optimization_ms"] for r in reps),
            "plan.planning_ms": sum(r["planning_ms"] for r in reps),
            "sched.jobs": len(pj),
            "sched.stages": len(ps),
            "sched.tasks": sum(s["tasks"] for s in ps),
            "sched.one_task_jobs": sum(1 for j in pj if j["tasks"] == 1),
            "sched.delay_ms": sum(s["delay_ms"] for s in ps),
            "exec.collect_ms": collect_ms,
            "exec.task_run_s": sum(s["run_ms"] for s in ps) / 1e3,
            "exec.task_cpu_s": sum(s["cpu_ns"] for s in ps) / 1e9,
            "exec.core_util": (collect_run_ms / (collect_ms * cores)
                               if collect_ms else 0.0),
            "exec.gc_ms": sum(s["gc_ms"] for s in ps),
            "shuffle.write_mb": sum(s["shuffle_write"] for s in ps) / 2**20,
            "shuffle.read_mb": sum(s["shuffle_read"] for s in ps) / 2**20,
            "storage.spill_mb": sum(s["spill"] for s in ps) / 2**20,
            "ext.cache_fills": sum(r["fills"] for r in reps),
            "result.rows": sum(r["rows"] for r in reps),
        }

    rows = [layer_of_pass(p) for p in passes]
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["ext.build_jobs"] = median(
        [sum(1 for j in jobs if j["span"] == b) for b in builds])
    out["ext.build_task_s"] = median(
        [sum(s["run_ms"] for s in stages if s["span"] == b) / 1e3
         for b in builds])
    out["ext.clear_ms"] = median([b["clear_ms"] for b in result["builds"]])
    out["storage.cache_mb"] = median(
        [b["storage_mb"] for b in result["builds"]])
    out["trace.pass_s"] = median(result["pass_s"])
    out["jvm.rss_peak_mb"] = result["rss_peak_mb"]
    return out


def units() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def cpu_steal() -> float:
    """Seconds of CPU time the hypervisor gave to other guests since boot
    (0 where /proc/stat is unavailable): outside load a run cannot see."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """Run once; return the result record plus the oracle verdict."""
    cp = build.build()
    run_dir = WORK / workload
    in_dir = run_dir / "input"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    t0 = time.monotonic()
    derive_inputs(seed, DATA / "sf0.01", in_dir)
    t_jvm, steal0 = time.monotonic(), cpu_steal()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # No /tmp/hsperfdata file: the run writes only inside the checkout.
           ["-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", cp, "perfbench.Harness", workload, str(in_dir),
            str(run_dir), str(seconds), "1" if trace else "0",
            str(seed), str(cores)])
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  cwd=run_dir, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not (run_dir / "result.json").is_file():
        tail = log.read_text()[-3000:]
        raise RuntimeError(f"harness exit {code}; log tail:\n{tail}")
    result = json.loads((run_dir / "result.json").read_text())
    result["dir"] = str(run_dir)
    t_check, steal = time.monotonic(), cpu_steal() - steal0
    result["verdict"] = check(result, in_dir, run_dir / "dump", tmp)
    print(f"[bench] derive {t_jvm - t0:.1f} s, harness {t_check - t_jvm:.1f} s"
          f" ({steal / (t_check - t_jvm) / cores:.1%} of the CPUs stolen by"
          f" the host), oracle {time.monotonic() - t_check:.1f} s",
          file=sys.stderr)
    return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    failed = failed_reps(result, result["verdict"])
    for op, why in sorted(result["verdict"].items()):
        if why:
            print(f"[oracle] {op}: {why}", file=sys.stderr)
    u = units()
    values = per_layer(result) if a.trace else end_to_end(result)
    print(json.dumps({
        "correct": not failed and not any(result["verdict"].values()),
        "attempted": len(result["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
