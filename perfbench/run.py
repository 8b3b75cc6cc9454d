#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds the
harness together with graft's sources (sbt), generates the input tables
and computes the DuckDB oracle answers of every batch query once; all of
it is kept under `.bench_build/` (or `$CARGO_TARGET_DIR`) and reused.
Each run then starts one JVM for the workload, checks its outputs and
prints, as the last line of stdout,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import layers  # noqa: E402
from metrics import geomean, median, percentile  # noqa: E402

ROOT = os.getcwd()
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
HARNESS = os.path.join(HERE, "harness")
CONFIG = os.path.join(HERE, "config.json")
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
                    os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Compile graft's sources with the harness; returns the classpath
    and whether this run built it."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "build.stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == digest:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, False
    log("building the harness and graft (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    with open(os.path.join(bdir, "build.log"), "w") as out:
        tmp = os.path.join(bdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             f"-Djava.io.tmpdir={tmp}", "compile", "writeClasspath"],
                            cwd=HARNESS, env=env,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=780).returncode
    if rc != 0:
        fail(f"build failed (rc={rc}); see {bdir}/build.log", 3)
    shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), True


def java_cmd(cfg, cp, args):
    """The harness JVM; its temporary files and Spark's scratch space stay
    inside the build directory."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *OPENS, *cfg["java_options"], "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "graft.perfbench.Main", *args]


def run_jvm(cmd, out_dir, timeout):
    """Run the harness in its own process group; kill the group on timeout."""
    with open(os.path.join(out_dir, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, stdout=errf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def prepare_data(cfg, bdir):
    sf = cfg["scale_factor"]
    d = os.path.join(bdir, "data", f"sf{sf}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        log(f"generating tables at sf{sf}")
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, sf, cfg["data_seed"])
        open(done, "w").close()
    return d


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def prepare_expected(cfg, cp, bdir, data):
    """DuckDB oracle answers of every batch query, computed once per checkout."""
    exp = os.path.join(bdir, "expected")
    queries = sorted({q for w in cfg["workloads"].values() if w["kind"] == "batch"
                      for q in w["queries"]})
    missing = [q for q in queries if not os.path.exists(os.path.join(exp, f"{q}.parquet"))]
    if not missing:
        return exp
    import duckdb
    os.makedirs(exp, exist_ok=True)
    oracle_file = os.path.join(bdir, "oracle_sql.json")
    rc = run_jvm(java_cmd(cfg, cp, ["--dump-oracles", oracle_file]), bdir, 120)
    if rc != 0:
        fail("could not dump the oracle SQL", 3)
    oracle = json.load(open(oracle_file))
    log(f"computing {len(missing)} oracle answers with DuckDB")
    con = duckdb.connect()
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for q in missing:
        if q not in oracle:
            fail(f"query {q} has no oracle SQL", 3)
        canon(con.execute(oracle[q]).df()).to_parquet(os.path.join(exp, f"{q}.parquet"))
    return exp


def check_batch(results_dir, exp, query):
    """Compare one query's output with its oracle the way scripts/check.py
    does: same columns, rows, dtype kinds, and values after sorting.
    Returns (ok, rows)."""
    import pandas as pd
    files = glob.glob(os.path.join(results_dir, query, "*.parquet"))
    if not files:
        return False, 0
    got = canon(pd.concat([pd.read_parquet(f) for f in files]))
    want = pd.read_parquet(os.path.join(exp, f"{query}.parquet"))
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False, len(got)
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind != w.dtype.kind:
            return False, len(got)
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            ok = bool(((g.isna() & w.isna()) | (g == w)).all())
        else:
            ok = g.astype(str).equals(w.astype(str))
        if not ok:
            return False, len(got)
    return True, len(got)


def batch_metrics(res, exp, out_dir, cores, trace):
    inv = res["invocations"]
    untraced = [p for p in res["passes"] if not p["traced"]]
    rows, failed_checks = {}, 0
    for c in res["checks"]:
        ok, n = check_batch(os.path.join(out_dir, "results"), exp, c["query"]) \
            if c["ok"] else (False, 0)
        rows[c["query"]] = n
        if not ok:
            failed_checks += 1
            log(f"wrong or missing output: {c['query']} {c.get('error') or ''}")
    bad_inv = [i for i in inv if not i["ok"]]
    for i in bad_inv:
        log(f"failed: pass {i['pass']} {i['query']}: {i['error']}")
    bad_warm = [i for i in res["warmups"] if not i["ok"]]
    for i in bad_warm:
        log(f"failed: warm-up {i['query']}: {i['error']}")
    attempted = len(inv) + len(res["checks"]) + len(res["warmups"])
    failed = len(bad_inv) + failed_checks + len(bad_warm)
    ok_inv = [i for i in inv if i["ok"] and not any(
        p["traced"] for p in res["passes"] if p["pass"] == i["pass"])]
    walls = [i["wall_s"] for i in ok_inv]
    pass_s = median([p["wall_s"] for p in untraced])
    per_query = {}
    for i in ok_inv:
        per_query.setdefault(i["query"], []).append(i["wall_s"] * 1e3)
    lat = [median(v) for v in per_query.values()]
    # the stream metrics have no batch meaning; their batch stand-ins:
    # result rows delivered per second of a pass, and each query's median
    # invocation wall, its geometric mean over queries and its maximum
    m = {
        "pass_s": (pass_s, "s"),
        "query_p50_s": (percentile(walls, 0.5), "s"),
        "stream_rows_per_s": (sum(rows.values()) / pass_s if pass_s else None, "rows/s"),
        "event_latency_p50_ms": (geomean(lat), "ms"),
        "event_latency_p99_ms": (max(lat, default=None), "ms"),
    }
    log(f"{len(walls)} timed invocations over {len(untraced)} untraced passes; "
        f"{sum(rows.values())} result rows per pass")
    per_layer = layers.batch_layers(res, os.path.join(out_dir, "trace.json"), cores) \
        if trace else {}
    return m, attempted, failed, per_layer


def stream_metrics(res, out_dir, cores, trace):
    measured = res["rounds"][0]
    capacity, p50, p99, drains, batch_s = [], [], [], [], []
    attempted = failed = 0
    for t in measured["topologies"]:
        attempted += 1 + len(t["batches"])
        if not t["ok"]:
            failed += 1
            log(f"topology {t['topology']} failed its check: {t['error']}")
            continue
        d = layers.drain(t)
        capacity.append(d["rows_per_s"])
        drains.append(d["seconds"])
        lat, _ = layers.rate_latencies(t)
        p50.append(percentile(lat, 0.5))
        p99.append(percentile(lat, 0.99))
        batch_s += [b["batch_ms"] / 1e3 for b in t["batches"]]
        log(f"{t['topology']}: drain {d['rows_per_s']:.0f} rows/s over {d['batches']} batches, "
            f"{len(lat)} rate rows, p50 {p50[-1]} ms p99 {p99[-1]} ms")
    m = {
        "pass_s": (sum(drains) if len(drains) == len(measured["topologies"]) else None, "s"),
        "query_p50_s": (percentile(batch_s, 0.5), "s"),
        "stream_rows_per_s": (geomean(capacity), "rows/s"),
        "event_latency_p50_ms": (geomean(p50), "ms"),
        "event_latency_p99_ms": (geomean(p99), "ms"),
    }
    log(f"{len(batch_s)} micro-batches")
    per_layer = layers.stream_layers(res, os.path.join(out_dir, "trace.json"), cores) \
        if trace else {}
    return m, attempted, failed, per_layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, help="override the configured local[N]")
    a = ap.parse_args()
    started = time.time()
    if not os.path.exists(os.path.join(PROGRAM, "SparkEntry.scala")):
        fail(f"no graft sources under {PROGRAM}: run from the root of a graft checkout")
    cfg = json.load(open(CONFIG))
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload}; known: {sorted(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp, built = build(bdir)
    data = prepare_data(cfg, bdir)
    exp = prepare_expected(cfg, cp, bdir, data)
    out_dir = os.path.join(bdir, "runs", a.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cores = a.cores or cfg["cores"]
    args = ["--config", CONFIG, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--out", out_dir, "--cores", str(cores)]
    # the first run of a checkout may spend most of its budget building
    budget = max(60.0, (880 if built else 170) - (time.time() - started))
    launch_ms = time.time() * 1e3
    rc = run_jvm(java_cmd(cfg, cp, args), out_dir, budget)
    result_file = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"harness {'timed out' if rc is None else f'exited with {rc}'}; "
             f"see {out_dir}/jvm.log", 4)
    res = json.load(open(result_file))
    if w["kind"] == "batch":
        m, attempted, failed, per_layer = batch_metrics(res, exp, out_dir, cores, a.trace)
    else:
        m, attempted, failed, per_layer = stream_metrics(res, out_dir, cores, a.trace)
    m["setup_s"] = ((res["first_op_ms"] - launch_ms) / 1e3, "s")
    m["live_heap_mb"] = (res["live_heap_mb"], "MiB")
    m["ok_frac"] = ((attempted - failed) / attempted if attempted else None, "fraction")
    if a.trace:
        per_layer["exec.leaked_jobs"] = (res["leaked_jobs"], "count")
        m = per_layer
    missing = [k for k, (v, _) in m.items() if v is None]
    if missing:
        log(f"metrics without a value (sample too small or a topology failed): {missing}")
    print(json.dumps({
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": (v if v is not None else 0.0), "unit": u}
                    for k, (v, u) in m.items()},
    }), flush=True)
    # skip interpreter teardown: the native libraries loaded for the checks
    # (pyarrow, duckdb) must not turn a finished run into a non-zero exit
    os._exit(0)


if __name__ == "__main__":
    main()
