#!/usr/bin/env python3
"""eventstreamspark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ingest|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark package (perfbench/build.sbt, which depends on the root build)
with sbt, offline; later runs reuse the build while the sources are
unchanged. Node workloads start the load generator (perfbench.Node, its own
JVM, serving a chain generated from the seed by chaingen.py) and the engine
(perfbench.Engine) with SPARK_GRAFT_CPUS = the cores this process may use.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Lines before it summarise the run by the
names perfbench/BENCHMARK.md uses. Every run also leaves a record (host,
metrics, layers, failures) under .bench_work/runs/, and a traced run its
spans under .bench_work/<workload>/spans.json.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, BENCH)
import chaingen  # noqa: E402

WORKLOADS = ("ingest", "analytics")
# chain layout: heights 1..BACKFILL_TIP are history (the backfill drains
# them); the live tail starts above it, one scheduled tail's worth of
# heights per tail (two when traced)
BACKFILL_TIP = 1000
ANALYTICS_DATA = os.path.join(BENCH, "data", "sf0.01")
# the analytics mix, one or more per layer (see BENCHMARK.md): streaming
# state, iterative operators, the dedup kernels, joins, plan rewrites, windows
QUERIES = [
    "st3_stream_hll_distinct", "g4_triangle_census", "dd2_ngram_jaccard_pairs",
    "dd12_bloom_incremental_dedup", "q4_join_lineitem_orders", "q6b_asof_merge",
]
# the per-layer metrics (by name prefix) each workload measures; a traced
# run reports the others as 0, and fails if one of its own is missing
PRODUCES = {
    "ingest": ("sources.", "blocks.", "sinks.", "session.", "streaming.",
               "backfill.", "live.", "trace.backfill_", "host.",
               "failed_frac"),
    "analytics": ("session.", "streaming.", "queries.", "analytics.",
                  "trace.analytics_", "host.", "failed_frac"),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def live_phases(seconds):
    """(rate, count) of the live tail's warm, slow and fast phases; slow gets
    half the run's seconds (its median is the end-to-end latency, and its
    spread across seeds shrinks with the triggers it spans), fast 1/8."""
    return [(60.0, 120), (10.0, round(10 * seconds / 2)),
            (150.0, round(150 * seconds / 8))]


# the ingest run's backfill drains get 45% of its seconds
BACKFILL_SHARE = 0.45


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            picks += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dp, _, fs in os.walk(d):
            picks += [os.path.join(dp, f) for f in fs]
    return sorted(p for p in picks if os.path.isfile(p))


def ensure_build():
    """Classpath of the engine + benchmark, rebuilding when sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources (build.sbt, src/main/scala) at the checkout root")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    fp = h.hexdigest()
    cp_file, fp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            "-Dsbt.offline=true", f"-Dsbt.global.base={BUILD}/sbt-global",
            f"-Dsbt.ivy.home={BUILD}/ivy2",
            "-J-Xmx3g", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building the engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", *opts, "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    log(f"build took {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1].strip()


# ------------------------------------------------------------------- host

def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu": cpu, "load": load, "t": time.time()}


def host_record(a, b):
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d) or 1
    return {"nproc": len(os.sched_getaffinity(0)), "load1": b["load"][0],
            "loadavg_start": a["load"], "loadavg_end": b["load"],
            "steal_frac": d[7] / total, "busy_frac": 1 - (d[3] + d[4]) / total}


# ------------------------------------------------------------------ JVMs

def java_cmd(cp, main, heap, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ["java", *opens, f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


class NodeProcess:
    """The load-generator JVM; stops when its stdin closes."""

    def __init__(self, cp, chain, tip, warm, log_path):
        self.log = open(log_path, "w")
        self.p = subprocess.Popen(java_cmd(cp, "perfbench.Node", "768m",
                                           [chain, str(tip), *map(str, warm)]),
                                  stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True)
        q = queue.Queue()
        threading.Thread(target=lambda: q.put(self.p.stdout.readline()),
                         daemon=True).start()
        try:
            line = q.get(timeout=120)
        except queue.Empty:
            line = ""
        if not line.startswith("{"):
            self.stop()
            die(f"the node did not come up; see {log_path}")
        self.urls = json.loads(line)

    def stop(self):
        if self.p.poll() is None:
            try:
                self.p.stdin.close()
                self.p.wait(timeout=15)
            except Exception:
                self.p.kill()
                self.p.wait()
        self.log.close()


def run_engine(cp, workload, seed, seconds, trace, extra, env, log_path):
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"work={work}", f"result={result}", *extra]
    with open(log_path, "w") as lf:
        p = subprocess.run(java_cmd(cp, "perfbench.Engine", "3g", args), env=env,
                           stdin=subprocess.DEVNULL, stdout=lf, stderr=lf,
                           timeout=170)
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"the engine failed ({workload}); see {log_path}")
    with open(result) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def oracle_check(result_dir):
    """Each query result against its DuckDB oracle, compared the way the
    repository's tools/check.py compares (its normalisation, its HUGEINT
    lint). Returns the failing query names, leaving out those the engine
    already counted."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(ANALYTICS_DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in QUERIES:
        if name not in oracle:  # the engine already counted it as failed
            continue
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not files:
            bad.append(name)
            continue
        sql = oracle[name]
        try:
            hug = [r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall()
                   if "HUGEINT" in str(r[1]).upper()]
            if hug:
                raise ValueError(f"HUGEINT oracle column(s) {hug}")
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            log(f"FAIL {name}: oracle: {e}")
            bad.append(name)
            continue
        a, b = check.norm(pd.concat([pd.read_parquet(f) for f in files])), check.norm(duck)
        if list(a.columns) != list(b.columns) or len(a) != len(b) or not a.equals(b):
            log(f"FAIL {name}: result differs from its oracle "
                f"({len(a)} rows, {list(a.columns)} vs {len(b)} rows, {list(b.columns)})")
            bad.append(name)
    return bad


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)

    h0 = host_sample()
    cp = ensure_build()
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    work = os.path.join(WORK, a.workload)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)

    node = None
    extra_failed, extra_attempted, notes = 0, 0, []
    try:
        if a.workload == "analytics":
            extra = [f"data={ANALYTICS_DATA}", "queries=" + ",".join(QUERIES)]
        else:
            chains = os.path.join(WORK, "chains")
            os.makedirs(chains, exist_ok=True)
            chain = os.path.join(chains, f"seed-{a.seed}")
            for old in os.listdir(chains):  # keep one chain on disk
                if os.path.join(chains, old) != chain:
                    shutil.rmtree(os.path.join(chains, old), ignore_errors=True)
            log("generating the chain")
            phases = live_phases(a.seconds)
            top = BACKFILL_TIP + (2 if a.trace else 1) * sum(n for _, n in phases)
            chaingen.ensure(a.seed, chain, heights=top, range_to=BACKFILL_TIP,
                            **chaingen.GOLDEN_MIX)
            warm = (top, BACKFILL_TIP)
            node = NodeProcess(cp, chain, BACKFILL_TIP, warm,
                               os.path.join(logs, f"node-{a.workload}.log"))
            log("node up")
            extra = [f"http={node.urls['http']}", f"grpc={node.urls['grpc']}",
                     f"ctl={node.urls['ctl']}", f"tip={BACKFILL_TIP}",
                     f"expected={os.path.join(chain, 'expected.json')}",
                     "phases=" + ",".join(f"{r}x{n}" for r, n in phases)]
        seconds = a.seconds * (BACKFILL_SHARE if a.workload == "ingest" else 1)
        res = run_engine(cp, a.workload, a.seed, seconds, a.trace, extra, env,
                         os.path.join(logs, f"engine-{a.workload}.log"))
        layers = res["layers"]
        if a.trace and a.workload == "ingest":
            one = run_engine(cp, "backfill_cpus1", a.seed, seconds, 0, extra,
                             dict(env, SPARK_GRAFT_CPUS="1"),
                             os.path.join(logs, "engine-backfill_cpus1.log"))
            extra_attempted += one["attempted"]
            extra_failed += one["failed"]
            notes += one["failures"]
            layers["backfill.cpus1_http_bps"] = one["metrics"]["throughput_per_s"]
            layers["backfill.scaling_ratio"] = (
                layers["backfill.http_bps"] / one["metrics"]["throughput_per_s"])
    finally:
        if node:
            node.stop()

    log("engine done")
    if a.workload == "analytics":
        bad = oracle_check(os.path.join(work, "analytics", "result"))
        extra_failed += len(bad)
        notes += [f"analytics: {q} does not match its oracle" for q in bad]

    log("checks done")
    host = host_record(h0, host_sample())
    layers.update({"host.steal_frac": host["steal_frac"], "host.load1": host["load1"],
                   "host.nproc": host["nproc"]})
    attempted = res["attempted"] + extra_attempted
    failed = res["failed"] + extra_failed
    failures = res["failures"] + notes
    layers["failed_frac"] = failed / max(attempted, 1)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "host": host, "metrics": res["metrics"], "layers": layers,
              "attempted": attempted, "failed": failed, "failures": failures,
              "samples": res.get("samples", {})}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{int(time.time() * 1000)}-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, v in list(res["metrics"].items()) + sorted(layers.items()):
        print(f"{a.workload} {k} = {v:.6g}")
    print(f"{a.workload} host nproc={host['nproc']} load1={host['load1']} "
          f"steal_frac={host['steal_frac']:.4f}")
    for msg in failures:
        print(f"{a.workload} FAILED {msg}")

    if a.trace:
        wanted, source = spec["per_layer"], layers
    else:
        wanted, source = spec["end_to_end"], res["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if not a.trace or m["name"].startswith(PRODUCES[a.workload]):
                die(f"metric {m['name']} was not measured on {a.workload}")
            v = 0.0  # the workload does not exercise this layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
