#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into target/ and perfbench/target/); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM for the workload with local[N], N = nproc, checks the outputs, and
prints a health line and, last, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(BENCHMARK.json lists both). Everything the run writes stays under
.bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("dedup", "pipeline", "admission")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Spark on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "perfbench/src/main", "project"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(timeout):
    """Compile engine and harness; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout of the repository")
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=timeout, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def heap_size():
    """Half the machine's memory, between 2 and 4 GiB (a run peaks
    near 1.5 GiB)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // (2 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_jvm(cp, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{heap_size()}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload did not finish within {timeout:.0f} s" if code is None
             else f"workload exited with code {code}", 4 if code is None else 5)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def cpu_times():
    """Busy and stolen jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7] if len(v) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def canon(df):
    """Columns in name order, timestamps as pandas datetimes."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c])
    return df.reset_index(drop=True)


def oracle_check(c):
    """Compare one reference result with its DuckDB oracle over the same
    tables, value for value after sorting rows. Returns (name, reason
    or None, seconds)."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    t0 = time.time()
    reason = None
    try:
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for t in TABLES:
            path = os.path.join(c["tables_dir"], f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        got = canon(pq.ParquetDataset(c["result_dir"]).read().to_pandas())
        exp = canon(con.execute(c["sql"]).df())
        if list(got.columns) != list(exp.columns):
            reason = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            reason = f"rows {len(got)} vs {len(exp)}"
        else:
            cols = list(got.columns)
            pd.testing.assert_frame_equal(
                got.sort_values(cols).reset_index(drop=True),
                exp.sort_values(cols).reset_index(drop=True),
                check_dtype=False, check_exact=True)
    except AssertionError as e:
        reason = f"values differ: {e}"[:300]
    except Exception as e:  # an oracle that cannot run is a failed check
        reason = f"oracle error: {e}"[:300]
    return c["name"], reason, round(time.time() - t0, 3)


def oracle_failures(checks, seconds):
    """Run the oracle comparisons, one process per core. Returns
    {query: reason} for the ones that differ; `seconds` gets each
    comparison's time."""
    if not checks:
        return {}
    from concurrent.futures import ProcessPoolExecutor
    bad = {}
    with ProcessPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        for name, reason, secs in pool.map(oracle_check, checks):
            seconds[name] = secs
            if reason:
                bad[name] = reason
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, built = build(timeout=840)
    # a run must finish within 180 s (900 s with the build)
    limit = (890 if built else 175) - (time.time() - started) - 20
    work = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.time()
        total0, steal0 = cpu_times()
        res = run_jvm(cp, args, work, timeout=limit)
        total1, steal1 = cpu_times()
        t_oracle = time.time()
        oracle_s = {}
        bad = oracle_failures(res.get("oracle", []), oracle_s)
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # a virtual machine's load average does not show that contention
        res["health"].update(build_s=round(t_jvm - started, 3), jvm_s=round(t_oracle - t_jvm, 3),
                             oracle_s=round(time.time() - t_oracle, 3),
                             steal_frac=round((steal1 - steal0) / max(1, total1 - total0), 4))
        if args.trace:
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = res["failed"] + sum(c["executions"] for c in res.get("oracle", [])
                                 if c["name"] in bad)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value = res["metrics"].get(m["name"])
        if value is None and not args.trace:
            fail(f"workload {args.workload} did not measure {m['name']}", 6)
        # a layer this workload never calls did no work there
        metrics[m["name"]] = {"value": 0.0 if value is None else value, "unit": m["unit"]}
    errors = res.get("errors", []) + [f"{k}: {v}" for k, v in sorted(bad.items())]
    print(json.dumps({"health": res["health"], "report": res["report"], "oracle_s": oracle_s,
                      "oracle_checked": len(res.get("oracle", [])),
                      "oracle_failed": sorted(bad), "errors": errors[:50]}))
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
