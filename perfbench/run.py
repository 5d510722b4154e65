#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and harness from source, runs
one workload in one JVM, checks outputs, prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_trickle --seed 1 --seconds 10 --trace 0

The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1. The run record (host stamp, input sizes, every metric,
and spans when traced) is written to .bench_out/. Exits 1 when a
correctness gate fails, 2 when the run cannot be made.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ["etl_trickle", "etl_backfill", "etl_replay", "registry_micro"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
DATA = os.path.join(HERE, "data", "sf0.001")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the build compiles against: SPARK_HOME, or
    the first PATH entry holding spark-submit whose parent has jars/."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution found: set SPARK_HOME")


def build():
    """Compiles engine + harness with sbt (offline) unless up to date;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    # the build resolves only from local caches: never from the network
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "-Xmx2g").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and not any(o.startswith("-Dsbt.repository.config=") for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if "-Dsbt.offline=true" not in opts:
        opts.append("-Dsbt.offline=true")
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "bench-build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if p.returncode != 0:
        fail(f"build failed; see {log}")
    with open(log) as f:
        cps = [l.strip() for l in f if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        fail(f"no classpath in build output; see {log}")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cps[-1])
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cps[-1]


def oracle_failures(dumps):
    """Sampled registry queries whose warm-pass result differs from the
    DuckDB oracle: columns sorted by name, every value stringified, rows
    sorted, then compared (the repository's oracle rule). Queries without
    oracle SQL are checked for row count only, by the harness."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(DATA, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1).astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    bad = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(dumps, name, "*.parquet"))
        if not files:
            bad.append(name)
            continue
        try:
            got = canon(con.sql(f"SELECT * FROM '{os.path.join(dumps, name)}/*.parquet'").df())
            exp = canon(con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            bad.append(name)
            continue
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) or not got.equals(exp):
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: the engine sources (src/main/scala) are not here")
    if not os.path.isdir(DATA):
        fail(f"missing registry fixture {DATA}")
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    record = os.path.join(outdir, f"{tag}.json")
    env = dict(os.environ, GRAFT_TMP_ROOT=tmp, PERFBENCH_ROOT=ROOT,
               SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", record, "--data", DATA])
    log = os.path.join(outdir, f"{tag}.log")
    try:
        with open(log, "w") as err:
            try:
                p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                   text=True, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
        lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH ")]
        if p.returncode != 0 or not lines:
            fail(f"run failed (exit {p.returncode}); see {log}")
        result = json.loads(lines[-1][len("PERFBENCH "):])
        if a.workload == "registry_micro":
            with open(record) as f:
                rec = json.load(f)
            bad = oracle_failures(rec["registry_dumps"])
            if bad:
                print(f"perfbench: oracle mismatch: {', '.join(bad)}", file=sys.stderr)
                result["correct"] = False
                result["failed"] += sum(rec["op_groups"].get(q, 0) - rec["failed_ops_by_group"].get(q, 0)
                                        for q in bad)
                if "ok_frac" in result["metrics"]:
                    result["metrics"]["ok_frac"]["value"] = 1.0 - result["failed"] / result["attempted"]
                rec["oracle_failures"] = bad
                with open(record, "w") as f:
                    json.dump(rec, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
