#!/usr/bin/env python3
"""Benchmark for the lake's three uses: HTTP query serving, streaming
ingest and heavy batch.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run compiles the engine
from the checkout's sources together with the benchmark's own code
(perfbench/build.sbt); later runs reuse that build until a source file
changes. Each run starts one engine JVM (local[4]), which builds the
workload's inputs from the seed, runs the timed window, checks every
answer and writes result.json; this script adds the DuckDB oracle check
for batch_heavy and prints one JSON line as the last line of stdout.
With --trace 0 the line carries the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics. The full artifact
(host stamp, per-kind figures, failures) and the span file of a traced
run stay in .perfbench_work/<workload>/.

Exit codes: 0 all ops correct, 1 some op failed or was wrong (named on
stderr), 2 bad arguments or missing sources, 3 build failed, 4 the
engine run crashed or timed out.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_read", "ingest_write", "batch_heavy")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the metrics whose traced-minus-untraced difference is the tracing overhead
OVERHEAD_OF = ("latency_p50_ms", "latency_p90_ms", "throughput_per_s", "cpu_ms_per_op")


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the engine's own build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        die(2, "no unmanagedBase in the engine's build.sbt")
    return m.group(1)


def build():
    """Compile once per source state; the stamp holds the sources' digest."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           HERE, env, out, BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(3, f"build failed (exit {code}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_bounded(cmd, cwd, env, out, timeout_s):
    """Runs cmd in its own process group; kills the group on timeout, or
    when this script is terminated, and waits for it, so no process
    outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)

    def terminate(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        else:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def canon(df):
    """The oracle's canonical form: columns by name, rows as text, sorted."""
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        row = []
        for v in r:
            if isinstance(v, float):
                row.append("NaN" if math.isnan(v) else repr(v))
            else:
                row.append(str(v))
        rows.append("\x01".join(row))
    rows.sort()
    return cols, rows


def oracle_check(work):
    """Each warm-pass answer against its SparkEntry.oracleSql in DuckDB."""
    import duckdb
    con = duckdb.connect()
    data = os.path.join(work, "data")
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}/*.parquet')")
    oracle = json.load(open(os.path.join(work, "oracle", "oracle_sql.json")))
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{work}/oracle/{name}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a query the oracle cannot run is a failed check
            fails.append(f"oracle {name}: {e}")
            continue
        gc, gr = canon(got)
        wc, wr = canon(want)
        if gc != wc:
            fails.append(f"oracle {name}: columns {gc} != {wc}")
        elif gr != wr:
            diff = [(a, b) for a, b in zip(gr, wr) if a != b][:2]
            fails.append(f"oracle {name}: {len(gr)} vs {len(wr)} rows; first diffs {diff}")
    return len(oracle), fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(2, f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        die(2, "--seconds must be at least 1")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        die(2, f"engine sources not found under {ROOT}/src/main/scala")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die(2, "BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))

    build()

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    classpath = os.path.join(HERE, "target", "scala-2.13", "classes") + ":" + \
        os.path.join(spark_jars(), "*")
    jvm = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0_ms = int(time.time() * 1000)
    cmd = jvm + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
                 "--work", work, "--t0-ms", str(t0_ms)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_bounded(cmd, work, env, out, RUN_TIMEOUT_S - (time.time() - t0_ms / 1000))
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log).read()[-4000:])
        die(4, f"engine run {'timed out' if code is None else f'exited {code}'}; log in {log}")
    res = json.load(open(result_path))

    failures = list(res["failures"])
    failed = res["failed"]
    attempted = res["attempted"]
    if a.workload == "batch_heavy" and not failed:
        checked, oracle_fails = oracle_check(work)
        res["oracle"] = {"checked": checked, "failed": oracle_fails}
        attempted += checked
        failed += len(oracle_fails)
        failures += oracle_fails

    if a.trace == "0":
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = res["e2e"]
        with open(os.path.join(base, f"{a.workload}.untraced.json"), "w") as fh:
            json.dump(res, fh)
    else:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = dict(res["layer"])
        untraced = os.path.join(base, f"{a.workload}.untraced.json")
        if os.path.exists(untraced):
            before = json.load(open(untraced))["e2e"]
            for m in OVERHEAD_OF:
                if m in before and m in res["e2e"]:
                    source[f"trace_overhead.{m}"] = res["e2e"][m] - before[m]
        res["traced_e2e"] = res["e2e"]
    metrics = {}
    for name, unit in names:
        v = source.get(name)
        if v is None and a.trace == "0":
            failures.append(f"metric {name} was not measured")
            failed += 1
            continue
        metrics[name] = {"value": v if v is not None else 0.0, "unit": unit}
    res["metrics"] = metrics
    with open(os.path.join(work, "artifact.json"), "w") as fh:
        json.dump(res, fh, indent=1)

    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
