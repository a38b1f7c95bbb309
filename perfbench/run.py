#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the graft sources and the JVM harness under $CARGO_TARGET_DIR
(default .bench_build) with the Scala compiler that ships in the Spark jars,
runs the workload in one JVM on local[<cores>] over the fixture tables in
perfbench/data, checks every output, and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Why each workload exists and which layer metric should move which
end-to-end metric is in perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

TIME_LIMIT_S = 165  # for everything after the build
RUN_DIR = ".bench_data"
# Copies of the repository's read-only sf fixtures (seed 42), kept with the
# benchmark because a run reads nothing outside its checkout.
FIXTURES = os.path.join(HERE, "data")
# Per workload and query, the canonical hash of the DuckDB oracle's output
# over the fixtures (test_perfbench confirms them against the oracle).
EXPECTED = os.path.join(HERE, "expected.json")

# Every workload's queries are graft.SparkEntry entries; their order in a
# run is shuffled by the seed, so state leaking from one query into the
# next shows up as a seed-dependent result.
WORKLOADS = {
    "batch_sf001": {
        "kind": "batch", "data": "sf0.01",
        "queries": ["q_join3", "q_asof_join", "q_lm3_score"],
        "sources": ["lineitem", "orders", "customer", "events", "documents"],
    },
    "stream_events": {
        "kind": "stream", "data": "sf0.1", "queries": [], "sources": ["events"],
    },
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_geomean_ms": "ms", "heap_live_peak_mb": "MB"}


START = time.time()


def log(msg):
    print(f"[perfbench {time.time() - START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def per_layer_units():
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    unmanagedBase directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("set SPARK_HOME: no build.sbt here names the Spark jars")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def scalac(jars, classpath, out, sources):
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", classpath, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise SystemExit("compile failed:\n" + r.stdout[-4000:])


def build(build_dir, jars):
    """Compile graft's main sources and the harness; reuse a build whose
    sources are unchanged. Returns the runtime classpath."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main_src:
        raise SystemExit("no graft sources under src/main/scala: run from the repository root")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(build_dir, exist_ok=True)
    main_out, bench_out = os.path.join(build_dir, "main"), os.path.join(build_dir, "bench")
    cp = os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])
    stamp_file = os.path.join(build_dir, "stamp")
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        t0 = time.time()
        for d in (main_out, bench_out):
            shutil.rmtree(d, ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), main_out, main_src)
        scalac(jars, os.pathsep.join([main_out, os.path.join(jars, "*")]), bench_out, bench_src)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    return cp


def canon(df):
    """Row-order-free canonical form: columns sorted by name, floats at
    4 decimals, rows sorted (the canonicalization of tools/check.py)."""
    cols = sorted(df.columns)
    recs = []
    for row in df[cols].itertuples(index=False):
        out = []
        for v in row:
            if isinstance(v, float):
                out.append("nan" if math.isnan(v) else f"{v:.4f}")
            elif v is None:
                out.append("NULL")
            else:
                out.append(str(v))
        recs.append("|".join(out))
    return cols, sorted(recs)


def digest(df):
    cols, recs = canon(df)
    return hashlib.sha256(("|".join(cols) + "\n" + "\n".join(recs)).encode()).hexdigest()


def check_outputs(out, queries, expected):
    """Hash every query's output and compare it with its expected hash.
    Returns the list of mismatches."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for q in queries:
        files = glob.glob(os.path.join(out, "outputs", q, "*.parquet"))
        got = digest(con.execute(f"SELECT * FROM read_parquet('{out}/outputs/{q}/*.parquet')").df()) \
            if files else None
        if got != expected.get(q):
            bad.append(f"{q}: output hash {got} != expected {expected.get(q)}")
    return bad


def run_dir(workload, seed, trace):
    """Where a run writes its outputs, result and traces."""
    return os.path.abspath(os.path.join(RUN_DIR, "runs", f"{workload}-seed{seed}-trace{trace}"))


def run_jvm(cp, args, deadline, out):
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={out}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd + ["-cp", cp, "perfbench.Harness"] + args,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("harness ran past the time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    # a SIGTERM unwinds like an error, so the JVM child is stopped first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    cp = build(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", spark_jars())
    deadline = time.time() + TIME_LIMIT_S
    data = os.path.join(FIXTURES, w["data"])
    out = run_dir(a.workload, a.seed, a.trace)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    queries = list(w["queries"])
    random.Random(a.seed).shuffle(queries)
    cores = len(os.sched_getaffinity(0))
    log(f"{a.workload} seed {a.seed}: local[{cores}], order {' '.join(queries) or '-'}")
    args = ["--workload", a.workload, "--kind", w["kind"], "--data", data,
            "--queries", ",".join(queries), "--sources", ",".join(w["sources"]),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
            "--cores", str(cores)]
    res = run_jvm(cp, args, deadline, out)

    failures = list(res["failures"])
    if w["kind"] == "batch":
        with open(EXPECTED) as f:
            failures += check_outputs(out, queries, json.load(f)[a.workload])
    for f in failures:
        log(f"FAILED {f}")
    attempted = max(1, res["attempted"])
    failed = len(failures)
    log(f"error_rate {failed / attempted:.4f} ({failed}/{attempted}); "
        f"set-ups {res['setup_s_samples']} s (the first is cold); warm-up {res['warmup_s']:.2f} s; "
        f"{res['passes']} passes, {res['samples']} timed operations")
    if a.trace:
        units = per_layer_units()
        layers = res["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
