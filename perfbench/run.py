#!/usr/bin/env python3
"""Benchmark runner: builds the harness if the sources changed, runs one
workload in one JVM, checks registry results against the DuckDB oracle,
and prints one JSON result object as the last line of stdout.

    python3 perfbench/run.py --workload catalog_session --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --test     # generator determinism test

Run it from the repository root. Build output, scratch tables, logs and
traces all go under .bench_build/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("catalog_session", "collect_and_serve", "registry_slice")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} timed out after {timeout:.0f} s", 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def sources():
    roots = [ROOT / "src" / "main", ROOT / "build.sbt",
             ROOT / "project" / "build.properties", HERE / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compiles main sources plus harness once per source fingerprint."""
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp, cp = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.is_file() and cp.is_file() and \
            stamp.read_text() == h.hexdigest():
        return cp.read_text().strip(), False
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], deadline - time.time(), cwd=HERE,
            env=sbt_env(), stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (log: {log})", 1)
    stamp.write_text(h.hexdigest())
    return cp.read_text().strip(), True


def heap():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 test sizing)."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def oracle_check(out_dir):
    """Compares each dumped registry result with DuckDB running the
    query's oracle SQL on the same fixture, under the canonical hash of
    tools/selfcheck.py. Returns the query count and the mismatches."""
    sys.dont_write_bytecode = True  # leave no cache files in tools/
    spec = importlib.util.spec_from_file_location(
        "selfcheck", ROOT / "tools" / "selfcheck.py")
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)
    import duckdb
    import pandas as pd
    data = Path((out_dir / "data_dir").read_text())
    con = duckdb.connect()
    for t in sc.TABLES:
        if (data / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data / (t + '.parquet')}'")
    errors = []
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    for name, sql in sorted(oracle.items()):
        try:
            got = sc.canon_df(pd.read_parquet(out_dir / name))
            want = sc.canon_df(con.sql(sql).df())
        except Exception as e:  # a failed read or query is a mismatch
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if got != want:
            errors.append(f"{name}: spark {got[1]} rows {got[0][:12]}, "
                          f"oracle {want[1]} rows {want[0][:12]}")
    return len(oracle), errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true",
                    help="run the harness's own tests")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources under {ROOT}; run from a repository checkout")
    if args.test:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "test"], 900, cwd=HERE, env=sbt_env(),
                              stdin=subprocess.DEVNULL)
        sys.exit(code)
    if args.workload is None:
        die("--workload is required")

    start = time.time()
    classpath, built = build(start + 840)
    # 180 s per run, 900 s for the run that builds; the rest after the
    # JVM exits is the oracle check.
    deadline = start + (880 if built else 165)
    work = BUILD / "work" / args.workload
    tmp = BUILD / "tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    out = BUILD / "out"
    out.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), str(work),
            str(HERE / "data" / "sf0.01")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    # The program's own tuning overrides would change what is measured.
    env.pop("SPARK_GRAFT_ADVISORY", None)
    env.pop("SPARK_GRAFT_RESHARD", None)
    with open(out / f"{tag}.log", "w") as err:
        code, stdout = run_bounded(cmd, deadline - time.time(), cwd=ROOT,
                                   env=env, stdout=subprocess.PIPE,
                                   stderr=err, stdin=subprocess.DEVNULL,
                                   text=True)
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        sys.stderr.write(open(out / f"{tag}.log").read()[-4000:])
        die(f"harness exited {code} without a result (log: "
            f"{out / (tag + '.log')})", 1)

    errors = result.pop("errors")
    if args.workload == "registry_slice":
        n, mismatches = oracle_check(work / "oracle")
        result["failed"] += len(mismatches)
        errors += [f"oracle mismatch: {m}" for m in mismatches]
        print(f"# oracle: {n - len(mismatches)}/{n} registry results match")
    if args.trace:
        for f in ("trace.jsonl", "layers.tsv"):
            shutil.copy(work / f, out / f"{tag}-{f}")
        print(f"# trace: {out / (tag + '-trace.jsonl')}")
        print(f"# layers: {out / (tag + '-layers.tsv')}")
    result["correct"] = result["correct"] and not errors
    for e in errors[:20]:
        print(f"# incorrect: {e}")
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
