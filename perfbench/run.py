#!/usr/bin/env python3
"""Benchmark of the Spark engine: end-to-end metrics per workload, and a
traced run with per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the JVM side of the benchmark (perfbench/scala)
with scalac into .bench_build/, writes the seed's inputs there
(perfbench/inputs.py), runs the DuckDB twin of every op, then runs one JVM:
one Spark session (local[k], k = min(4, nproc), shuffle partitions k), one
client thread in a closed loop. Every op's result is fingerprinted inside
the timed action and checked against its twin; an op whose twin fails has
no expected value and counts as failed. The last stdout line is one JSON
object; the full run record (passes, ops, failures, counters and, with
--trace 1, spans with self times) is left in .bench_build/runs/.

Workloads (BENCHMARK.json gives the why of each):
  sql_analytics  11 tpch_* queries (one warm-up pass, then timed)
  corpus_dedup   4 dd_* queries: candidate self-joins and localCheckpoint
                 barriers (one warm-up pass, then timed)
  nhl_pipeline   Synthetic bronze -> NhlPipeline.run -> 16 outputs consumed
                 in dependency order -> release (first pass timed)
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402

BUILD = ".bench_build"
# input sizes: TPC-H scale factor and number of documents per workload
SIZES = {
    "sql_analytics": {"scale": 0.01, "docs": 0},
    "corpus_dedup": {"scale": 0.0, "docs": 500},
    "nhl_pipeline": {"scale": 0.001, "docs": 0},
}
DBT_LAYERS = ["staging", "dims", "facts", "metrics", "props", "report"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# seconds the run may take once the build is done (the build itself may take
# longer on the first run in a checkout)
RUN_LIMIT_S = 170
# share by which a pass's shuffle bytes and records read may differ from the
# first timed pass's (a release that leaves cached plans behind moved them 5x)
SHUFFLE_TOL = 0.01

# Twins the engine ships no oracle for, written over the oracles of their
# inputs ({name} is that op's twin SQL): dim_team.sql's distinct union of the
# home and away sides, and rpt_sog_props_performance.sql's overall cut
# (settled props; ROUND(num/den, 2) half away from zero in exact integers).
DERIVED_TWINS = {"nhl_pipeline": {
    "dim_team": """WITH stg_games AS ({stg_games}),
sides AS (SELECT home_team_id AS team_id, home_team_abbrev AS team_abbrev FROM stg_games
          UNION SELECT away_team_id, away_team_abbrev FROM stg_games)
SELECT team_id, team_abbrev,
       'https://assets.nhle.com/logos/nhl/svg/' || team_abbrev || '_light.svg' AS logo_url
FROM sides""",
    "rpt_overall": """WITH v2 AS ({fact_player_sog_props_v2}),
settled AS (SELECT * FROM v2 WHERE outcome IN ('over', 'under', 'push')),
agg AS (
  SELECT 'overall' AS scope, COUNT(*) AS n_props,
         CAST(SUM(CASE WHEN outcome = 'over' THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
         CAST(SUM(CASE WHEN outcome = 'under' THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
         CAST(SUM(CASE WHEN outcome = 'push' THEN 1 ELSE 0 END) AS BIGINT) AS n_push,
         COUNT(CASE WHEN outcome <> 'push' THEN 1 END) AS n_decided,
         SUM(CAST(beat_line_by * 2 AS BIGINT)) AS beat_halves,
         COUNT(beat_line_by) AS n_beat
  FROM settled GROUP BY 1)
SELECT scope, n_props, n_over, n_under, n_push,
       CASE WHEN n_decided = 0 THEN NULL
            ELSE CAST((200 * 100 * n_over + n_decided) // (2 * n_decided) AS DOUBLE) / 100 END AS over_hit_pct,
       CASE WHEN n_beat = 0 OR beat_halves IS NULL THEN NULL
            ELSE (CASE WHEN beat_halves < 0 THEN -1 ELSE 1 END)
                 * CAST((200 * abs(beat_halves) + 2 * n_beat) // (4 * n_beat) AS DOUBLE) / 100 END AS avg_beat_line_by
FROM agg"""}}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under '{jars}' (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not any(f.startswith("src/main/scala/") for f in files):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    return files


def build(jars):
    """Compile engine + benchmark with scalac (scala-compiler ships in the
    Spark jars); skipped when the sources are unchanged. Returns the classes
    directory and the build time (None when skipped)."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, None
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    res = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                          "-nowarn", "-d", tmp, "-cp", jars] + files,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        fail("build failed:\n" + res.stdout[-4000:], 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    java(jars, classes, ["--dump-oracles", os.path.join(BUILD, "oracles.json")])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, time.time() - t0


def java(jars, classes, args, timeout=None):
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           f"-Djava.io.tmpdir={BUILD}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.PerfBench"] + args
    os.makedirs(f"{BUILD}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"JVM run exceeded {timeout:.0f} s", 4)
    if proc.returncode != 0:
        fail(f"JVM exited with {proc.returncode}:\n" + out[-4000:], 4)
    return out


def data_dir(workload, seed, sf):
    size = dict(SIZES[workload])
    if sf is not None and size["scale"] > 0:
        size["scale"] = sf
    d = os.path.join(BUILD, "data", f"s{size['scale']}-d{size['docs']}-seed{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        inputs.generate(d, seed, size["scale"], size["docs"])
        open(os.path.join(d, "DONE"), "w").close()
    return d


def twins(workload, data):
    """Run each op's DuckDB twin on the seed's inputs; results land as
    parquet for the JVM to fingerprint, failures as <op>.error."""
    import duckdb
    sqls = {op: o["sql"] for op, o in json.load(open(os.path.join(BUILD, "oracles.json")))[workload].items()}
    for op, tmpl in DERIVED_TWINS.get(workload, {}).items():
        sqls[op] = tmpl.format(**sqls)
    digest = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    out = os.path.join(BUILD, "twins", f"{workload}-{os.path.basename(data)}-{digest}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    for op, sql in sorted(sqls.items()):
        try:
            con.execute(f"COPY ({sql}) TO '{out}/{op}.parquet' (FORMAT PARQUET)")
        except Exception as e:  # noqa: BLE001 - reported; the op then has no expected value and fails
            with open(os.path.join(out, f"{op}.error"), "w") as fh:
                fh.write(f"{type(e).__name__}: {e}")
    open(os.path.join(out, "DONE"), "w").close()
    return out


def add_self_times(spans):
    """A span's self time: its duration minus the time its children cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    for sp in spans:
        covered, end = 0.0, sp["start_s"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_s"]):
            covered += max(0.0, c["end_s"] - max(c["start_s"], end))
            end = max(end, c["end_s"])
        sp["self_s"] = sp["end_s"] - sp["start_s"] - covered


def median(xs):
    return statistics.median(xs) if xs else 0.0


def isolation(rec):
    """Shuffle records written, rows out and persisted-RDD count must repeat
    exactly across the timed passes of a run, shuffle records written and
    rows also against the last warm-up pass (whose parallel ops release RDDs
    before all can be counted). Shuffle bytes and records read must repeat to
    within SHUFFLE_TOL: compressed block sizes follow the order in which rows
    reach a partition, and a read that stops early (a limit) stops after as
    many records as its fetches happened to deliver. Storage must be empty
    after each release."""
    def rows(p):
        return sum(o["rows"] for o in p["ops"] if o["rows"] > 0)

    passes = rec["passes"]
    w = rec.get("warmup")
    runs = [(f"timed pass {p['idx']}", p["counters"], rows(p), p["points"]) for p in passes]
    if w:
        runs.append(("warm-up pass", w["counters"], w["rows"], None))
    _, c0, rows0, points0 = runs[0]
    problems = []
    for name, c, r, points in runs[1:]:
        if (c["shuffle_write_records"], r) != (c0["shuffle_write_records"], rows0) \
                or (points is not None and points != points0):
            problems.append(f"{name} differs from timed pass 0 (shuffle records written, rows out, points): "
                            f"{(c['shuffle_write_records'], r, points)} vs "
                            f"{(c0['shuffle_write_records'], rows0, points0)}")
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "shuffle_read_records"):
            if abs(c[k] - c0[k]) > SHUFFLE_TOL * max(c0[k], 1):
                problems.append(f"{name} differs from timed pass 0 in {k}: {c[k]} vs {c0[k]}")
    leaked = [p["retained_mb"] for p in passes if p["retained_mb"] > 0]
    if leaked:
        problems.append(f"storage retained after release: {leaked} MB")
    return problems


def end_to_end(rec, passes):
    ops = [o["total_s"] for p in passes for o in p["ops"]]
    pass_s = median([p["wall_s"] for p in passes])
    return {
        "setup_s": (median(rec["setup_s"]), "s"),
        "pass_s": (pass_s, "s"),
        "input_rows_per_s": (rec["input_rows"] / pass_s, "rows/s"),
        "op_p50_s": (median(ops), "s"),
        "process_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
    }


def per_layer(rec, passes, all_ops):
    cores = rec["config"]["cores"]

    def per_pass(f):
        return median([f(p) for p in passes])

    def opsum(p, key, pred=lambda o: True):
        return sum(o[key] for o in p["ops"] if pred(o))

    def cnt(key, scale=1.0):
        return per_pass(lambda p: p["counters"][key] * scale)

    def pair_yield(p):
        j = [o for o in p["ops"] if o["join_rows"] > 0 and o["rows"] >= 0]
        return sum(o["rows"] for o in j) / sum(o["join_rows"] for o in j) if j else 0.0

    attempted = sum(len(p["ops"]) for p in passes)
    m = {
        "queries.build_s": (per_pass(lambda p: opsum(p, "build_s")), "s"),
        "queries.eager_jobs": (per_pass(lambda p: opsum(p, "eager_jobs")), "count"),
        "plan.planning_s": (per_pass(lambda p: opsum(p, "planning_s")), "s"),
        "plan.action_s": (per_pass(lambda p: opsum(p, "action_s")), "s"),
        "sched.jobs": (cnt("jobs"), "count"),
        "sched.stages": (cnt("stages"), "count"),
        "sched.tasks": (cnt("tasks"), "count"),
        "sched.task_run_s": (cnt("task_run_ms", 1e-3), "s"),
        "sched.busy_share": (per_pass(lambda p: p["counters"]["task_run_ms"] / 1e3 / (cores * p["wall_s"])), "ratio"),
        "sched.task_failures": (cnt("task_failures"), "count"),
        "shuffle.write_mb": (cnt("shuffle_write_bytes", 1e-6), "MB"),
        "shuffle.read_mb": (cnt("shuffle_read_bytes", 1e-6), "MB"),
        "shuffle.fetch_wait_s": (cnt("fetch_wait_ms", 1e-3), "s"),
        "spill.mem_mb": (cnt("spill_mem_bytes", 1e-6), "MB"),
        "spill.disk_mb": (cnt("spill_disk_bytes", 1e-6), "MB"),
        "storage.points": (per_pass(lambda p: p["points"]), "count"),
        "storage.peak_mb": (per_pass(lambda p: p["peak_mb"]), "MB"),
        "storage.retained_mb": (max(p["retained_mb"] for p in passes), "MB"),
        "storage.release_s": (per_pass(lambda p: opsum(p, "release_s")), "s"),
        "sources.scan_mb": (cnt("scan_bytes", 1e-6), "MB"),
        "sources.scan_rows": (cnt("scan_rows"), "count"),
        "ops.pair_yield": (per_pass(pair_yield), "ratio"),
        "ops.failed_ratio": (sum(not o["ok"] for p in passes for o in p["ops"]) / max(1, attempted), "ratio"),
        "nhl.defects": (float(sum(1 for d in rec["defects"] if d["error"])), "count"),
        "jvm.gc_s": (per_pass(lambda p: p["gc_s"]), "s"),
        "warmup.pass_s": (rec["warmup_s"][0] if rec["warmup_s"] else 0.0, "s"),
        "trace.overhead_s": (per_pass(lambda p: opsum(p, "trace_s")), "s"),
    }
    for layer in DBT_LAYERS:
        m[f"nhl.{layer}_s"] = (per_pass(lambda p: opsum(p, "total_s", lambda o: o["layer"] == layer))
                               if rec["workload"] == "nhl_pipeline" else 0.0, "s")
    for name in all_ops:
        m[f"op.{name}_s"] = (median([o["total_s"] for p in passes for o in p["ops"] if o["name"] == name]), "s")
    return m


def all_op_names():
    """Every op of every workload, for the op.<name>_s per-layer metrics."""
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    return [m["name"][3:-2] for m in bench["per_layer"] if m["name"].startswith("op.")]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default="", help="op whose expected fingerprint is deliberately wrong (self-test)")
    ap.add_argument("--sf", type=float, default=None, help="TPC-H scale override (smoke tests)")
    args = ap.parse_args()

    jars = spark_jars()
    classes, build_s = build(jars)
    t_start = time.time()
    data = data_dir(args.workload, args.seed, args.sf)
    twin_dir = twins(args.workload, data)
    prep_s = time.time() - t_start
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = "" if args.sf is None and not args.corrupt else f"-sf{args.sf}-corrupt{args.corrupt}"
    out = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}{tag}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    java(jars, classes, [
        "--workload", args.workload, "--data", data, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--twins", twin_dir, "--corrupt", args.corrupt, "--work", BUILD, "--out", out],
        timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
    rec = json.load(open(out))
    if args.corrupt and args.corrupt not in rec["expected"]:
        fail(f"--corrupt {args.corrupt}: no such op in {args.workload}")
    rec["build_s"], rec["prep_s"] = build_s, prep_s
    add_self_times(rec["spans"])
    with open(out, "w") as fh:
        json.dump(rec, fh)

    passes = rec["passes"]
    ops = [o for p in passes for o in p["ops"]]
    failed = [o for o in ops if not o["ok"]]
    problems = isolation(rec)
    for o in failed:
        print(f"# FAILED {o['name']}: {o['error']}")
    for f in sorted(glob.glob(os.path.join(twin_dir, "*.error"))):
        print(f"# DuckDB twin failed for {os.path.basename(f)[:-6]}: {open(f).read()[:300]}")
    for d in rec["defects"]:
        print(f"# defect probe {d['op']}: {d['error'] or 'ok'}")
    for msg in problems:
        print(f"# CHECK FAILED: {msg}", file=sys.stderr)
        print(f"# CHECK FAILED: {msg}")
    cfg = rec["config"]
    twin_n = sum(not e["error"] for e in rec["expected"].values())
    print(f"# build: {'%.1f s' % build_s if build_s is not None else 'up to date'}; "
          f"inputs and DuckDB twins: {prep_s:.1f} s")
    print(f"# config: master={cfg['master']} cores={cfg['cores']} shuffle_partitions={cfg['shuffle_partitions']} "
          f"aqe={cfg['aqe']} heap_max_mb={cfg['heap_max_mb']:.0f} logs={cfg['log_level']} "
          f"warmup_passes={cfg['warmup_passes']} (threads={cfg['warmup_threads']}, {sum(rec['warmup_s']):.2f} s) "
          f"timed_passes={cfg['timed_passes']} expected: {twin_n} of {len(rec['expected'])} "
          f"from DuckDB twins; record {out}")
    print(f"# {len(ops)} op samples, failed {len(failed)}/{len(ops)}")
    metrics = per_layer(rec, passes, all_op_names()) if args.trace else end_to_end(rec, passes)
    print(json.dumps({
        "correct": not failed and not problems,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
