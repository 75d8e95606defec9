#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the checkout root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run builds the program and the harness with sbt (perfbench/
build.sbt) and caches the classpath under .bench_build/perfbench; later runs
start the JVM directly. The JVM runs set-up, the timed region and the
in-process checks, and writes the full run record; curation_batch results
are then compared with their DuckDB oracle here. Every metric is printed with
its unit, sample count and statistic; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"} holding the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Full records are kept in
.bench_build/perfbench/runs/.
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
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream_backfill", "curation_batch")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run in a checkout may take 900 s

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in sorted(os.walk(base)):
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Build if the sources changed since the cached build; the classpath."""
    stamp = source_stamp()
    cache = os.path.join(STATE, "build.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["cp"]):
            return c["cp"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    log("building (sbt compile) ...")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True,
            timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail(f"build failed (exit {p.returncode})")
    cps = [l.strip() for l in lines if os.pathsep in l and ".jar" in l
           and not l.startswith("[")]
    if not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("could not read the classpath from sbt")
    cp = cps[-1].split(os.pathsep)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "cp": cp}, fh)
    return cp


def program_env():
    """The environment without the program's tuning knobs: the program
    sees only the generated inputs."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")}


def jvm(cp, work):
    """The benchmark JVM's command line up to the main class's arguments."""
    # C1 only: with the full tiered JIT, C2 compiles for 60-80 s of CPU
    # during a run, on the same 4 cores as the timed work, and how much of
    # it lands in the timed region differs from run to run
    cmd = [java_bin(), "-Xmx4g", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp), "perfbench.Main"]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def oracle_check(record):
    """Compare each curation result with its DuckDB oracle through the
    repository's own comparison (scripts/check.py); mismatch descriptions,
    one per failed query. An oracle's result depends only on its SQL and
    the corpus, so it is cached under .bench_build by their hash."""
    import duckdb
    import pandas as pd
    check = load_check()
    corpus, results = record["info"]["corpus"], record["info"]["results"]
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    tables = ("documents", "events")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    data = table_hash(con, tables)
    failures = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{results}/{name}/*.parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        key = hashlib.sha256((data + sql).encode()).hexdigest()
        cached = os.path.join(cache, key + ".pkl")
        if os.path.exists(cached):
            exp = pd.read_pickle(cached)
        else:
            try:
                exp = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that does not run is a failure
                failures.append(f"{name}: oracle error {e}")
                continue
            exp.to_pickle(cached)
        status, detail = check.compare(exp[sorted(exp.columns)],
                                       got[sorted(got.columns)])
        if status != "OK":
            failures.append(f"{name}: {status} {detail}")
    return failures


def table_hash(con, tables):
    """Hash of the rows of `tables`, read through `con` in a fixed order."""
    h = hashlib.sha256()
    for t in tables:
        cols = [d[0] for d in con.execute(f"SELECT * FROM {t} LIMIT 0").description]
        order = ", ".join(str(i + 1) for i in range(len(cols)))
        for row in con.execute(f"SELECT * FROM {t} ORDER BY {order}").fetchall():
            h.update(repr(row).encode())
    return h.hexdigest()


def load_check():
    """scripts/check.py as a module."""
    import importlib.util
    path = os.path.join(ROOT, "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def overhead(spec, record):
    """Traced minus untraced value of each end-to-end metric, against the
    median of this checkout's untraced records of the same workload and
    build."""
    runs = []
    pattern = os.path.join(STATE, "runs", f"{record['workload']}-*-t0-*.json")
    for f in glob.glob(pattern):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("build") == record["build"]:
            runs.append(r)
    out = {}
    for m in spec["end_to_end"]:
        base = [r["end_to_end"][m["name"]]["value"] for r in runs
                if r["end_to_end"][m["name"]]["value"] is not None]
        traced = record["per_layer"].get("traced." + m["name"], {}).get("value")
        if base and traced is not None:
            med = statistics.median(base)
            out[m["name"]] = {"traced": traced, "untraced_median": med,
                              "untraced_runs": len(base),
                              "overhead": traced - med}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    for need in ("src/main/scala/graft", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's {need} is not in this checkout")

    cp = build(start + BUILD_LIMIT_S)
    run_deadline = time.time() + RUN_LIMIT_S

    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    names = os.path.join(work, "metrics.txt")
    with open(names, "w") as fh:
        fh.write("\n".join(m["name"] for m in
                           spec["end_to_end"] + spec["per_layer"]) + "\n")
    record_path = os.path.join(work, "record.json")
    cmd = jvm(cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--record", record_path, "--metrics", names]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=work, env=program_env(),
                           stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10, run_deadline - time.time() - 15))
    except subprocess.TimeoutExpired:
        fail("run timed out")
    if p.returncode != 0 or not os.path.exists(record_path):
        fail(f"benchmark JVM failed (exit {p.returncode})")
    with open(record_path) as fh:
        record = json.load(fh)
    record["build"] = source_stamp()

    log(f"benchmark JVM ran {time.time() - t0:.1f} s")
    if a.workload == "curation_batch" and "corpus" in record["info"]:
        t0 = time.time()
        record["failures"] += oracle_check(record)
        log(f"oracle check ran {time.time() - t0:.1f} s")
    if a.trace == 1:
        record["trace_overhead"] = overhead(spec, record)

    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    correct = True
    for m in spec[section]:
        got = record[section][m["name"]]
        if got["value"] is None or (section == "end_to_end" and got["value"] <= 0):
            record["failures"].append(f"no value for {m['name']}")
            correct = False
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(f"{m['name']:40s} {got['value']:>14.4f} {m['unit']:7s} "
              f"n={got['n']:<5d} {got['stat']}")
    for name, o in record.get("trace_overhead", {}).items():
        print(f"trace overhead {name:25s} {o['overhead']:+.4f} "
              f"(traced {o['traced']:.4f} vs untraced median "
              f"{o['untraced_median']:.4f} of {o['untraced_runs']} runs)")
    for f in record["failures"]:
        log(f"FAILED: {f}")
    failed = len(record["failures"])
    correct = correct and failed == 0
    with open(os.path.join(STATE, "runs", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct,
                      "attempted": max(1, record["attempted"], failed),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
