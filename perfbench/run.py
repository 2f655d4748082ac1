#!/usr/bin/env python3
"""Replication benchmark for the engine in `src/main/scala`.

    python3 perfbench/run.py --workload cdc_narrow --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
benchmark's own Scala sources (`perfbench/scala`) with the Scala compiler
that ships in `$SPARK_HOME/jars` into `perfbench/.build/`; later runs
reuse the classes while the sources are unchanged. Each run works in a
fresh directory under `perfbench/.work/` and deletes it afterwards.

Inputs: the fixture tables under `$PERFBENCH_DATA` (default
`~/testdata`); the change stream is generated from `--seed`.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed`, and `metrics` — every `end_to_end` metric of BENCHMARK.json with
`--trace 0`, every `per_layer` metric with `--trace 1`. Query results
are checked against the DuckDB-oracle hashes pinned in `oracle_sf0.01.json`,
with the canonical hash of `tools/check.py`.
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
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
ORACLE = os.path.join(HERE, "oracle_sf0.01.json")
RUN_TIMEOUT_S = 165

# the module opens Spark needs on JDK 17 outside spark-submit (as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("cannot find Spark: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build():
    """Compile engine + benchmark once per source state; return the
    classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=BUILD_DIR)
    jars = spark_jars()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def java(classes, work, args, timeout):
    """Run perfbench.Main in its own process group; return its stdout.
    The whole group is killed and reaped on every exit path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, spark_jars()]), "perfbench.Main"] + args)
    log = open(os.path.join(work, "stderr.log"), "wb")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = b""
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        log.close()
    return p.returncode, out.decode("utf-8", "replace")


def stderr_tail(work, n=40):
    try:
        with open(os.path.join(work, "stderr.log"), errors="replace") as f:
            lines = f.readlines()
    except OSError:
        return
    keep = [ln for ln in lines if "[perfbench]" in ln or "Exception" in ln or "Error" in ln]
    sys.stderr.writelines((keep or lines)[-n:])


def fingerprint(df):
    """What a result must match: column names, row count and the
    canonical value hash of `tools/check.py`, the repo's oracle compare."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon, table_hash
    c = canon(df)
    return {"columns": list(c.columns), "rows": len(c), "md5": table_hash(c)}


def check_deck(deck_dir, names):
    """Oracle mismatches among the deck's written results."""
    import pandas as pd
    with open(ORACLE) as f:
        pinned = json.load(f)["queries"]
    bad = []
    for n in names:
        try:
            got = fingerprint(pd.read_parquet(os.path.join(deck_dir, n)))
        except Exception as e:  # a missing or unreadable result is a mismatch
            bad.append(f"{n}: no result ({e})")
            continue
        if got != pinned.get(n):
            bad.append(f"{n}: got {got}, oracle {pinned.get(n)}")
    return bad


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not a.selftest and a.workload not in workloads:
        die(f"unknown workload {a.workload!r} (have: {', '.join(workloads)})", 2)
    classes = build()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload or 'selftest'}-", dir=WORK_DIR)
    try:
        if a.selftest:
            code, out = java(classes, work, ["--selftest", os.path.join(work, "gen")], RUN_TIMEOUT_S)
            sys.stdout.write(out)
            if code != 0:
                stderr_tail(work)
            sys.exit(0 if code == 0 else 1)

        data = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
        if not os.path.isdir(data):
            die(f"fixture root {data} not found (set PERFBENCH_DATA)")
        code, out = java(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", data], RUN_TIMEOUT_S)
        result = [ln for ln in out.splitlines() if ln.startswith("RESULT ")]
        if code != 0 or not result:
            stderr_tail(work)
            die(f"benchmark process exited {code} without a result")
        raw = json.loads(result[-1][len("RESULT "):])
        problems = list(raw["problems"])
        failed = raw["failed"]
        mismatches = check_deck(os.path.join(work, "deck"), raw["deck"])
        problems += [f"oracle mismatch: {m}" for m in mismatches]
        failed += len(mismatches)
        wanted = spec["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if raw["metrics"].get(m["name"]) is None]
        if missing:
            stderr_tail(work)
            die(f"run produced no value for {', '.join(missing)}; problems: {problems}")
        for p in problems:
            print(f"perfbench: {p}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": raw["attempted"],
            "failed": failed,
            "metrics": {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    main()
