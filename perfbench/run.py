#!/usr/bin/env python3
"""graft benchmark: one run of one workload. See perfbench/README.md.

    python3 perfbench/run.py --workload catalog_cold --seed 7 --seconds 10 --trace 0

Builds the engine and the benchmark's JVM program from source on first use
(sbt, offline), runs the workload in a fresh JVM, checks its outputs and
prints one JSON result as the last line of standard output.
"""
import argparse
import datetime
import decimal
import functools
import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA, "sf0.01")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
JVM_TIMEOUT_S = 165
# fixed, so that peak RSS and GC do not follow the caller's environment
HEAP = "2g"
# keys drawn per run: one per QueryGroup, the rest by group size; see sample()
SAMPLE_SIZE = 35
# keys whose stand-alone cold call took longer stay outside the frame
COLD_CAP_S = 5.0
# declared keys run during set-up to warm the JVM, the same on every run
# and never sampled: sink-free keys of median cost from six large groups
WARMUP_KEYS = ("ts_ar1", "agg_mode", "corpus_epochs", "sql_tpch_q6", "join_semi", "set_except")

WORKLOADS = ("catalog_cold", "delay_board_live")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "src", "**", "*.scala"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return [p for pat in pats for p in glob.glob(pat, recursive=True)]


def build():
    """Compile engine and benchmark with sbt when a source is newer than the
    recorded classpath; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (run from a checkout)")
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.sparkJars={os.path.join(spark_home, 'jars')}",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(cp, work, args):
    """Run perfbench.Main in a fresh JVM; return its result.json."""
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={jtmp}", "-cp", cp, "perfbench.Main"] + args
    # spark.local.dir (inside the work directory) must win
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    out = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-40:]))
        fail(f"JVM run failed ({rc})")
    return json.load(open(out))


def sweep_tmp(work):
    """Remove /tmp entries named after this run's Spark application, in
    case the JVM died before it swept them itself."""
    app = os.path.join(work, "app_id")
    if not os.path.exists(app):
        return
    app_id = open(app).read().strip()
    if not app_id:
        return
    tags = {app_id, "".join(c if c.isalnum() else "_" for c in app_id)}
    for name in os.listdir("/tmp"):
        if any(t in name for t in tags):
            shutil.rmtree(os.path.join("/tmp", name), ignore_errors=True)


# ---------------------------------------------------------------- inputs

def load_frame():
    """Declared keys with their QueryGroup, reference costs and the sinks
    they touch, and each sink's size, as recorded once (README.md,
    'Sample')."""
    def rows(name):
        with open(os.path.join(DATA, name)) as f:
            header = f.readline().rstrip("\n").split("\t")
            return [dict(zip(header, line.rstrip("\n").split("\t"))) for line in f]
    frame = rows("frame.tsv")
    for r in frame:
        r["cold_s"] = float(r["cold_s"])
        r["sinks"] = set(filter(None, r["sinks"].split(",")))
    frame = [r for r in frame if r["cold_s"] <= COLD_CAP_S and r["key"] not in WARMUP_KEYS]
    return frame, {r["sink"]: float(r["mb"]) for r in rows("sinks.tsv")}


def sample(seed, frame, sink_mb):
    """The seed's key sample, in call order.

    Stratified by QueryGroup: every group gives one key and larger groups
    more. Balanced: draws repeat from the seed's generator until the
    sample's reference cold costs (their sum, median and 90th percentile)
    and the size of the sinks it touches each lie within a few percent of
    their median over reference draws. So each seed runs other keys while
    run totals and percentiles stay comparable."""
    groups = {}
    for r in frame:
        groups.setdefault(r["group"], []).append(r)
    extra = SAMPLE_SIZE - len(groups)
    quota = {g: 1 + extra * len(rs) // len(frame) for g, rs in groups.items()}
    while sum(quota.values()) < SAMPLE_SIZE:
        quota[max(groups, key=lambda g: len(groups[g]) / quota[g])] += 1

    def draw(rng):
        return [r for g in sorted(groups) for r in rng.sample(groups[g], quota[g])]

    def profile(keys):
        cost = [r["cold_s"] for r in keys]
        mb = sum(sink_mb[s] for s in set().union(*(r["sinks"] for r in keys)))
        return (sum(cost), quantile(cost, 0.5), quantile(cost, 0.9), mb)

    ref = random.Random(0)
    refs = [profile(draw(ref)) for _ in range(2001)]
    target = [sorted(p[i] for p in refs)[1000] for i in range(4)]
    tol = (0.03, 0.04, 0.04, 0.10)
    rng = random.Random(seed)
    for _ in range(500000):
        keys = draw(rng)
        if all(abs(v / t - 1) <= e for v, t, e in zip(profile(keys), target, tol)):
            rng.shuffle(keys)
            return [r["key"] for r in keys]
    fail("no balanced sample found")


# ---------------------------------------------------------------- checks

@functools.lru_cache(maxsize=None)
def canon_fn():
    """A cell as dev/check.py stringifies it (no Decimal normalisation)."""
    import numpy as np
    import pandas as pd

    def canon(v):
        if v is None or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, np.floating):
            return canon(float(v))
        if isinstance(v, np.integer):
            return str(int(v))
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, decimal.Decimal):
            return str(v)
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
            return v.isoformat()
        return str(v)
    return canon


def frame_digest(df):
    """Row count and sha256 of a result frame, columns in name order,
    rows in the order produced (dev/check.py compares row by row)."""
    canon = canon_fn()
    cols = sorted(df.columns)
    h = hashlib.sha256()
    h.update(("\x1f".join(cols) + "\n").encode())
    sub = df[cols]
    for row in sub.itertuples(index=False, name=None):
        h.update(("\x1f".join(canon(v) for v in row) + "\n").encode())
    return len(df), h.hexdigest()


def check_outputs(work, keys):
    """Compare every key's dumped output with its DuckDB oracle digest.
    Returns {key: reason} for keys that do not match."""
    import pyarrow.parquet as pq
    oracle = json.load(open(os.path.join(DATA, "oracle_sf0.01.json")))
    bad = {}
    for k in keys:
        files = sorted(glob.glob(os.path.join(work, "out", k, "*.parquet")))
        if k not in oracle:
            bad[k] = "no recorded oracle digest"
            continue
        if not files:
            bad[k] = "no output"
            continue
        rows, digest = frame_digest(pq.read_table(files).to_pandas())
        want = oracle[k]
        if rows != want["rows"]:
            bad[k] = f"rows {rows} != oracle {want['rows']}"
        elif digest != want["sha256"]:
            bad[k] = "content differs from oracle"
    return bad


# ---------------------------------------------------------------- metrics

@functools.lru_cache(maxsize=None)
def hd_weights(n, q, steps=64):
    """Harrell-Davis weights: the Beta((n+1)q, (n+1)(1-q)) mass of each
    of n equal slices of [0, 1], by the midpoint rule."""
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    h = 1.0 / (n * steps)
    return [h * sum(math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
                    for x in ((i * steps + j + 0.5) * h for j in range(steps)))
            for i in range(n)]


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all order statistics, steadier than one order statistic on the few
    dozen calls of a catalog run. Every percentile the benchmark reports
    is computed here."""
    s = sorted(x for x in xs if x is not None and not math.isnan(x))
    if not s:
        return float("nan")
    return sum(w * x for w, x in zip(hd_weights(len(s), q), s))


def catalog(args, cp, work):
    frame, sink_mb = load_frame()
    keys = sample(args.seed, frame, sink_mb)
    files = {}
    for name, ks in (("keys", keys), ("warmup", WARMUP_KEYS)):
        files[name] = os.path.join(work, name + ".txt")
        with open(files[name], "w") as f:
            f.write("\n".join(ks) + "\n")
    res = jvm(cp, work, ["catalog", work, SF_DIR, files["keys"], files["warmup"],
                         str(args.trace)])
    calls = res["calls"]
    bad = {c["key"]: c["error"] for c in calls if c["error"]}
    for k, e in res["dump_errors"].items():
        bad.setdefault(k, e)
    bad.update(check_outputs(work, [k for k in keys if k not in bad]))
    control_failed = bool(res["control"]["error"])
    lat = [c["latency_s"] for c in calls if c["key"] not in bad]
    e2e = {
        "setup_s": res["setup_s"],
        "total_s": sum(lat),
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "fail_frac": (len(bad) + control_failed) / (len(keys) + 1),
        "peak_rss_mb": res["peak_rss_mb"],
        "tmp_left_mb": res["tmp_left_mb"],
    }
    layer = dict(res["layer"])
    problems = [f"{k}: {e}" for k, e in sorted(bad.items())]
    if not control_failed:
        problems.append("control call did not fail")
    if args.trace:
        accounted = layer["queries.build_s"] + layer["catalyst.plan_s"] + layer["exec.run_s"]
        layer["trace.accounted_frac"] = accounted / sum(lat) if lat else 0.0
        layer["trace.total_s"] = e2e["total_s"]
        if not 0.6 <= layer["trace.accounted_frac"] <= 1.05:
            problems.append(f"trace accounts for {layer['trace.accounted_frac']:.2f} of call time")
    slow = sorted(calls, key=lambda c: -c["latency_s"])[:5]
    print(f"perfbench: {args.workload} seed {args.seed}: {len(keys)} keys; slowest: " + ", ".join(
        f"{c['key']} {c['latency_s']:.2f}s (build {c['build_s']:.2f}s)" for c in slow),
        file=sys.stderr)
    return e2e, layer, problems, len(calls), sum(1 for c in calls if c["key"] in bad)


def live(args, cp, work):
    res = jvm(cp, work, ["live", work, str(args.seed), str(args.seconds), str(args.trace)])
    lag = res["lag_ms"]
    on_board = [x for x in lag if x is not None]
    lost = len(lag) - len(on_board)
    control_failed = res["control"]["error"] is not None
    e2e = {
        "setup_s": res["setup_s"],
        "total_s": res["total_s"],
        "query_p50_s": quantile(on_board, 0.5) / 1000.0,
        "query_p90_s": quantile(on_board, 0.9) / 1000.0,
        "fail_frac": (lost + control_failed) / (len(lag) + 1),
        "peak_rss_mb": res["peak_rss_mb"],
        "tmp_left_mb": res["tmp_left_mb"],
    }
    layer = dict(res["layer"])
    if args.trace:
        series = res["series"]
        layer["generator.late_p99_ms"] = quantile(series["late_ms"], 0.99)
        for name, key, q in (("streaming.batch_p50_ms", "batch_ms", 0.5),
                             ("streaming.batch_p99_ms", "batch_ms", 0.99),
                             ("streaming.addbatch_ms", "addbatch_ms", 0.5),
                             ("streaming.planning_ms", "planning_ms", 0.5),
                             ("streaming.walcommit_ms", "walcommit_ms", 0.5),
                             ("streaming.state_commit_ms", "state_commit_ms", 0.5)):
            layer[name] = quantile(series[key], q)
    problems = []
    if res["stream_error"]:
        problems.append("stream failed: " + res["stream_error"])
    if not res["board_ok"]:
        problems.append(f"live board differs from the batch Transit composition: {res['board']}")
    if lost:
        problems.append(f"{lost} polls never reached the board")
    if not control_failed:
        problems.append("control call did not fail")
    if args.trace:
        layer["trace.total_s"] = e2e["total_s"]
    print(f"perfbench: {args.workload} seed {args.seed}: {len(lag)} polls, "
          f"{res['backlog_passages']} backlog passages, board {res['board']}", file=sys.stderr)
    return e2e, layer, problems, len(lag), lost


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    # the previous run's scratch stays until the next run of the workload
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_workload = live if args.workload == "delay_board_live" else catalog
        e2e, layer, problems, attempted, failed = run_workload(args, cp, work)
    finally:
        sweep_tmp(work)
    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": 0.0 if v is None or math.isnan(v) else v, "unit": m["unit"]}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
