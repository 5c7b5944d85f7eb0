#!/usr/bin/env python3
"""graft benchmark: hillview gesture sessions and a training-data pipeline.

    python3 perfbench/run.py --workload gestures_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles the
library together with the driver in ``perfbench/`` (sbt, offline) into
``.bench_build/``; later runs reuse the build while the sources are
unchanged. Inputs are generated from ``--seed`` into ``.bench_data/``.
The driver JVM runs one workload on ``local[4]``; this script then checks
the pipeline outputs against the DuckDB oracle and prints one JSON line
last. See ``perfbench/README.md`` for the metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("gestures_sf01", "gestures_x16", "pipeline_sf01")
# metrics every workload reports (--trace 0) ...
END_TO_END = ("setup_s", "op_mean_ms", "peak_rss_mb", "heap_live_mb")
# ... and the per-layer figures of a traced run (--trace 1)
PER_LAYER = (
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "sched.jobs_per_op", "sched.stages_per_op", "sched.tasks_per_op",
    "sched.in_job_ms", "sched.driver_gap_ms",
    "scan.bytes", "scan.rows", "scan.mrows_per_s",
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.deserialize_s", "exec.cpu_util",
    "exec.task_skew",
    "shuffle.exchanges", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.write_ms",
    "result.bytes", "result.rows",
    "memo.hit_ratio", "memo.used_bytes",
    "progressive.partials", "progressive.jobs", "progressive.cost_ratio",
    "artifacts.builds", "artifacts.serves", "artifacts.bytes_written",
    "jvm.driver_gc_ms", "jvm.heap_used_peak_mb",
    "trace.op_p50_ms", "trace.self_fit_ratio",
)
# the headline figures of each workload, printed by name in the report
HEADLINE = {
    "gestures_sf01": ("gesture_p50_ms", "gesture_p90_ms", "gestures_per_s"),
    "gestures_x16": ("gesture_p50_ms", "gesture_p90_ms", "gestures_per_s",
                     "first_partial_p50_ms"),
    "pipeline_sf01": ("pipeline_s", "build_s", "serve_p50_ms"),
}
DATA_SEED = 42
DEADLINE_S = 170.0
BUILD_DEADLINE_S = 850.0
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_bounded(cmd, deadline, **kw):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ── build ────────────────────────────────────────────────────────────────
def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the library compiles against: $SPARK_HOME/jars, else
    the jars beside a Spark distribution's bin/ directory on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(p) for p in os.environ.get("PATH", "").split(os.pathsep)]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-sql_*.jar")):
            return os.path.join(h, "jars")
    die("Spark jars not found: set SPARK_HOME or put Spark's bin/ on PATH")


def build(deadline):
    """Compile library + driver once per source state; return the classpath."""
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_f = os.path.join(BUILD, "build.log")
    log("building (first run in this checkout) ...")
    with open(log_f, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], deadline,
                         cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = open(log_f).read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); see {log_f}", 3)
    with open(cp_f, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


# ── inputs ───────────────────────────────────────────────────────────────
def prepare_tables():
    """The sf0.1 tables and their x16 replica: generated once per checkout
    from a fixed data seed (the shape of the repository's fixtures), so a
    run's time goes to the session, not to writing 170 MB of parquet."""
    import gen
    done = os.path.join(DATA, "tables", "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(os.path.join(DATA, "tables"), ignore_errors=True)
        log("generating sf0.1 tables and the x16 replica (first run in this checkout) ...")
        gen.tables(os.path.join(DATA, "tables", "sf01"), DATA_SEED)
        gen.replicate(os.path.join(DATA, "tables", "sf01"), os.path.join(DATA, "tables", "x16"),
                      DATA_SEED)
        open(done, "w").close()
    return {"tables": os.path.join(DATA, "tables", "sf01"),
            "x16": os.path.join(DATA, "tables", "x16")}


def prepare_corpus(seed, run_dir):
    """The pipeline's per-run input, drawn from the run's seed."""
    import gen
    path = os.path.join(run_dir, "input_corpus")
    gen.corpus(path, seed)
    return {"corpus": path}


# ── pipeline output checks ───────────────────────────────────────────────
def read_parquet_dir(d):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        raise ValueError(f"no committed output in {d}")
    if not parts:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True) if len(df.columns) else df


def compare(a, b):
    """Value-for-value compare of two frames, order-independent; None if equal."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns differ: spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"row count differs: spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        kinds = {x.dtype.kind, y.dtype.kind}
        if kinds & {"i", "u"} and "f" in kinds:
            return f"column {c}: dtype spark={x.dtype} duckdb={y.dtype}"
        if "f" in kinds:
            eq = (x.isna() & y.isna()) | (x.astype(float) == y.astype(float))
        else:
            eq = x.astype(str) == y.astype(str)
        if not eq.all():
            i = int((~eq).values.argmax())
            return f"column {c} row {i}: spark={x.iloc[i]!r} duckdb={y.iloc[i]!r}"
    return None


def check_pipeline(run_dir):
    """Every call of the check pass, serves included, against its stage's
    DuckDB oracle; a stage without one must return rows. The timed passes
    are tied to these outputs by the row digests (row count and hash sum)
    that the driver JVM compares call by call."""
    import duckdb
    spec = json.load(open(os.path.join(run_dir, "check.json")))
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{spec['corpus']}/{t}.parquet'")
    checked, problems, rows_only = 0, [], []
    for stage, s in spec["stages"].items():
        if "oracle" not in s:
            rows_only.append(stage)
        want = None
        for n in range(s["calls"]):
            checked += 1
            try:
                got = read_parquet_dir(os.path.join(run_dir, "check", f"{stage}__{n}"))
                if "oracle" not in s:
                    err = None if len(got) else "no rows"
                else:
                    if want is None:
                        want = con.sql(s["oracle"]).df()
                    err = compare(got, want)
            except Exception as e:  # a missing or unreadable output is a failure
                err = f"{type(e).__name__}: {e}"
            if err:
                problems.append(f"{stage} call {n}: {err}")
    return checked, problems, rows_only


# ── gesture answer checks ────────────────────────────────────────────────
def _same(a, b, mode):
    if mode == "quantile":
        return all(x is None and y is None or
                   x is not None and y is not None and abs(x - y) <= 1e-4 + 1e-9 * abs(y)
                   for x, y in zip(a, b))
    if mode == "approx":  # HLL++ at rsd 0.05 against the exact distinct count
        return abs(a[0] - b[0]) <= max(2, 0.15 * b[0])
    return list(a) == list(b)


def check_gestures(run_dir):
    """Each timed sketch call against its DuckDB reference query. The
    queries run over the sf0.1 tables; on the replica every count is
    scaled by 16 in the query and every other value must be equal."""
    import duckdb
    answers = json.load(open(os.path.join(run_dir, "answers.json")))
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    cache, problems = {}, []
    for a in answers:
        if a["sql"] not in cache:
            cache[a["sql"]] = [tuple(r) for r in con.sql(a["sql"]).fetchall()]
        want = cache[a["sql"]]
        got = [tuple(r) for r in a["rows"]]
        if a["mode"] != "ordered":
            got, want = sorted(got, key=repr), sorted(want, key=repr)
        ok = len(got) == len(want) and all(_same(g, w, a["mode"]) for g, w in zip(got, want))
        if not ok:
            problems.append(f"step {a['step']} {a['kind']}: spark={got[:3]} duckdb={want[:3]} "
                            f"({len(got)} vs {len(want)} rows)")
    return len(answers), problems


# ── main ─────────────────────────────────────────────────────────────────
def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(LIB_SRC) or not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(f"library sources not found under {LIB_SRC}: run from a full source checkout")
    cp = build(t_start + BUILD_DEADLINE_S)
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    prepare_tables()
    deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(DATA, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(DATA, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    paths = prepare_tables() if args.workload.startswith("gestures") else \
        prepare_corpus(args.seed, run_dir)

    java = shutil.which("java") or die("java is not on PATH")
    # a fixed, pre-touched heap: peak RSS then moves only with memory
    # outside the heap, instead of with when the collector grew the heap;
    # heap_live_mb covers the heap
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", run_dir]
    for k, v in paths.items():
        cmd += [f"--{k}", v]
    env = dict(os.environ, SPARK_GRAFT_RT_DIR=os.path.join(run_dir, "rt"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        rc = run_bounded(cmd, deadline, cwd=run_dir, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res_f = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_f):
        tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-25:]
        sys.stderr.write("\n".join(tail) + "\n")
        die("driver JVM " + ("timed out" if rc is None else f"exited {rc}"), 4)
    res = json.load(open(res_f))

    attempted, failed = res["attempted"], res["failed"]
    problems = [f"error: {e}" for e in res["errors"]]
    if args.workload.startswith("gestures"):
        n, bad = check_gestures(run_dir)
        failed += len(bad)
        problems += [f"check: {b}" for b in bad]
        log(f"gesture answers: {n} sketch calls checked against DuckDB, {len(bad)} differ")
    else:
        checked, bad, rows_only = check_pipeline(run_dir)
        attempted += checked
        failed += len(bad)
        problems += [f"check: {b}" for b in bad]
        log(f"pipeline outputs: {checked} calls checked, rows-only stages: {rows_only}; "
            f"{len(bad)} failed")
    m = res["metrics"]
    m["ops_failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "ratio"}

    # human-readable report (stderr), then the one result line (stdout)
    log(f"{args.workload} seed={args.seed}: attempted={attempted} failed={failed} "
        f"notes={json.dumps(res['notes'])}")
    for name in ("setup_s",) + HEADLINE[args.workload] + ("ops_failed_ratio", "peak_rss_mb",
                                                         "heap_live_mb", "op_p50_ms", "op_p90_ms",
                                                         "op_mean_ms", "ops_per_s"):
        if name in m:
            log(f"  {name:22s} {m[name]['value']:12.4f} {m[name]['unit']}")
    for name in sorted({"gesture_p50_ms", "gesture_p90_ms", "gestures_per_s", "first_partial_p50_ms",
                        "pipeline_s", "build_s", "serve_p50_ms"} - set(HEADLINE[args.workload])):
        log(f"  {name:22s} {'n/a':>12s} (not exercised by {args.workload})")
    for p in problems[:20]:
        log(f"  FAIL {p}")
    if args.trace:
        layers = res.get("layers", {})
        trace_f = os.path.join(DATA, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_f), exist_ok=True)
        with open(trace_f, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "end_to_end": m, "notes": res["notes"]}, fh, indent=1)
        log(f"per-layer trace written to {os.path.relpath(trace_f, ROOT)}")
        for k, v in layers.items():
            log(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
        metrics = {k: layers[k] for k in PER_LAYER}
    else:
        metrics = {k: m[k] for k in END_TO_END}
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)) or math.isnan(v["value"]):
            die(f"metric {k} is not a number")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if failed:
        sys.exit(1)  # the result line stands, but a failed check fails the run


if __name__ == "__main__":
    main()
