#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark package (the engine's sources plus the runner in
perfbench/src) on first use, runs one workload in one JVM, checks the
outputs, and prints one JSON line: correct, attempted, failed, metrics.
For query_surface the DuckDB oracle comparison runs here, after the JVM
has finished its timed passes. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
CLASSPATH = HERE / "target" / "classpath.txt"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("lifecycle", "query_surface")
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark distribution behind a `spark-submit` on PATH (one with a
    jars/ directory; a pip-installed launcher has none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        launcher = Path(d) / "spark-submit"
        if launcher.is_file():
            home = launcher.resolve().parent.parent
            if (home / "jars").is_dir():
                return str(home)
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")


def build():
    """Compile once per checkout; the runtime classpath is kept in target/."""
    if CLASSPATH.exists():
        return CLASSPATH.read_text().strip()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: the engine sources (src/main/scala) are not "
                         "in this checkout; nothing to build")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx3g -XX:-UsePerfData "
                       f"-Djava.io.tmpdir={WORK / 'tmp'} "
                       + ("-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                          if (Path.home() / ".sbt" / "repositories").exists() else ""))
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    log("building (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    cps = [l.strip() for l in p.stdout.splitlines() if "scala-2.13/classes" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    cp = cps[-1]
    CLASSPATH.write_text(cp + "\n")
    return cp


def run_jvm(cp, args, deadline):
    work = WORK / args.workload
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--data", str(DATA)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the run exceeded its time limit")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: the runner exited with {proc.returncode}")
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line), work
    raise SystemExit("perfbench: the runner printed no result")


def canon(rows, cols):
    """Columns sorted by name, rows sorted by value (the repo's oracle gate)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t)), \
        [cols[i] for i in order]


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return fa == fb or (math.isnan(fa) and math.isnan(fb)) or \
            math.isclose(fa, fb, rel_tol=1e-12, abs_tol=1e-12)
    return str(a) == str(b)


def oracle_failures(work):
    """Names of the queries whose Spark result differs from the oracle SQL
    run by DuckDB over the same tables."""
    import duckdb
    spec = json.loads((work / "oracle" / "oracle.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in sorted(p.stem for p in DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    failed = {}
    for name, q in sorted(spec.items()):
        try:
            got = con.execute(f"SELECT * FROM '{work / 'oracle' / name}/*.parquet'")
            grows, gcols = canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(q["sql"])
            erows, ecols = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as e:  # an unreadable result or a broken oracle is a failure
            failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
            continue
        if gcols != ecols:
            failed[name] = f"columns {gcols} vs oracle {ecols}"
        elif len(grows) != len(erows):
            failed[name] = f"{len(grows)} rows vs oracle {len(erows)}"
        elif any(not cells_equal(a, b) for gr, er in zip(grows, erows) for a, b in zip(gr, er)):
            failed[name] = "cell values differ"
    return failed, {n: q["executions"] for n, q in spec.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    cp = build()
    if not DATA.is_dir():
        raise SystemExit(f"perfbench: missing {DATA}")
    deadline = max(deadline, time.time() + 120)  # a first-run build gets its own budget
    result, work = run_jvm(cp, args, deadline)
    if args.workload == "query_surface" and args.trace == 0:
        failed, executions = oracle_failures(work)
        for name, why in sorted(failed.items()):
            log(f"oracle mismatch {name}: {why}")
        result["failed"] += sum(executions[n] for n in failed)
        result["correct"] = result["correct"] and not failed
    for trace in work.glob("trace-*.json"):
        trace.replace(WORK / trace.name)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
