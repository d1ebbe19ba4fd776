#!/usr/bin/env python3
"""Benchmark of the weather lakehouse pipeline and the analytics query mix.

Run from the root of the repository:

    python3 perfbench/run.py --workload daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, both modes

Workloads (closed loop, one client, one JVM at local[nproc]):

  daily      a lake seeded with a week of history; each operation is one
             Pipeline.run for the next date, default Pipeline.Config
  analytics  a read-only mix of SparkEntry queries over seeded tables, each
             drained to the noop sink, in a seeded order per pass

The first run builds the engine and the harness with sbt (offline) and keeps
the classpath under .bench_build/perfbench; later runs reuse it until a
source or build file changes. All inputs are generated from --seed inside
the checkout. The output checks (gold against a fold of the generated
observations, silver row count, one ledger row per processed partition, and
each analytics query against its DuckDB oracle) run outside the timed
window. With --trace 0 the last line carries the end-to-end metrics, with
--trace 1 the per-layer metrics; both are listed in BENCHMARK.json.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["daily", "analytics"]
RUN_LIMIT_S = 170

# The same JDK 17 module openings the repository build passes to Spark.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Analytics table size relative to the sf0.1 test tables.
TABLE_SCALE = 0.1
DOC_SCALE = 0.3


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala", "build.sbt",
            "project/*.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def build():
    """Compile with sbt unless the classpath of an identical tree is kept."""
    files = source_files()
    if not any("/src/main/scala/graft/" in f for f in files) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found: run from the root of a repository checkout")
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def run_jvm(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--tables", os.path.join(work, "tables")]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"{args.workload}: timed out (log: {log})")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{args.workload}: the JVM exited with {proc.returncode} (log: {log})")
    with open(out) as fh:
        return json.load(fh)


def norm(df):
    """Column-sorted, type-normalised, row-sorted frame (the comparison the
    repository's local oracle check makes)."""
    import datetime

    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_failures(work, tables):
    """Compare each query's result with its DuckDB oracle; returns failures."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/tables/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    failures = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        got = norm(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            want = norm(con.execute(sql).df())
        except Exception as e:  # any oracle error is a failed check
            failures.append(f"{name}: oracle error {e}")
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            failures.append(f"{name}: shape {list(got.columns)} x {len(got)} vs "
                            f"{list(want.columns)} x {len(want)}")
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            failures.append(f"{name}: values differ: {str(e).splitlines()[0]}")
    con.close()
    return failures


def tail_percentile(samples):
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(samples)
    if n < 20:
        return None
    p = 100.0 * (n - 10) / n
    return p, sorted(samples)[n - 11]


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(args, classpath, deadline):
    work = os.path.join(BUILD_DIR, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tables = []
    if args.workload == "analytics":
        sys.path.insert(0, HERE)
        sys.dont_write_bytecode = True
        import gen_tables
        tables = gen_tables.generate(os.path.join(work, "tables"), args.seed, TABLE_SCALE, DOC_SCALE)
    res = run_jvm(classpath, args, work, deadline)
    failures = list(res["failures"])
    if args.workload == "analytics":
        failures += oracle_failures(work, tables)
    ops = res["ops"]
    attempted = max(1, len(ops))
    failed = min(attempted, len(failures))
    plain = [o["seconds"] for o in ops if not o["traced"]]

    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": statistics.median(plain) if plain else 0.0,
        "wall_s": sum(plain),
        "lake_bytes_per_input_byte": res["disk_bytes"] / max(1.0, res["input_bytes"]),
        "jvm.rss_peak_mb": res["rss_peak_mb"],
    }
    values.update(res["layers"])
    values["host.loadavg_1m"] = res["host"]["loadavg_1m"]
    values["host.ext_user_cpu"] = res["host"]["ext_user_cpu"]
    values["host.steal_cpu"] = res["host"]["steal_cpu"]

    spec = benchmark_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={res['cpus']} "
          f"ops={len(ops)} setup_runs={len(res['setup_s'])}")
    for name, m in metrics.items():
        note = "" if name in values else "  (not exercised by this workload)"
        print(f"{name} = {m['value']:.6g} {m['unit']}{note}")
    tail = tail_percentile(plain)
    if tail:
        print(f"op_tail_s = {tail[1]:.6g} s at p{tail[0]:.1f} of {len(plain)} samples")
    else:
        print(f"op_tail_s not reported: {len(plain)} samples, fewer than 20")
    print("op_s: " + " ".join(f"{o['seconds']:.3f}" for o in ops))
    print("op_cpu_s: " + " ".join(f"{o['cpu_seconds']:.3f}" for o in ops))
    print("setup_runs_s: " + " ".join(f"{s:.3f}" for s in res["setup_s"]))
    print(f"host: loadavg_1m={res['host']['loadavg_1m']:.2f} "
          f"external_user_cpu={res['host']['ext_user_cpu']:.2f} cores "
          f"stolen_cpu={res['host']['steal_cpu']:.2f} cores")
    print(f"error_rate = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    print(f"checks: {'passed' if not failures else 'FAILED'}")
    for f in failures[:20]:
        print(f"  failure: {f}")
    return {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    os.chdir(ROOT)
    classpath = build()
    if args.seconds is None:
        args.seconds = benchmark_spec()["run_seconds"]
    if args.workload != "all":
        out = run_one(args, classpath, time.monotonic() + RUN_LIMIT_S)
        print(json.dumps(out))
        return
    ok = True
    for wl in WORKLOADS:
        for trace in (0, 1):
            sub = argparse.Namespace(**{**vars(args), "workload": wl, "trace": trace})
            out = run_one(sub, classpath, time.monotonic() + RUN_LIMIT_S)
            ok = ok and out["correct"]
            print()
    print(f"all workloads: checks {'passed' if ok else 'FAILED'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
