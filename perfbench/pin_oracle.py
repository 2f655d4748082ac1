#!/usr/bin/env python3
"""Pin the DuckDB-oracle fingerprints of the benchmark's query deck.

    python3 perfbench/pin_oracle.py [fixture root]

Runs each deck query's oracle SQL (`SparkEntry.oracleSql`) in DuckDB over
the fixture tables and writes `perfbench/oracle_sf0.01.json`. A benchmark
run compares every Spark result against these, so it needs no DuckDB.
Re-pin only when a query's definition changes on purpose.
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check import TABLES  # noqa: E402  (the repo's oracle compare)

SF = "sf0.01"


def main():
    data = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata"))
    classes = run.build()
    os.makedirs(run.WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="oracle-", dir=run.WORK_DIR)
    try:
        out = os.path.join(work, "oracle_sql.json")
        code, _ = run.java(classes, work, ["--oracle-sql", out], run.RUN_TIMEOUT_S)
        if code != 0:
            run.die("could not dump the oracle SQL")
        with open(out) as f:
            sql = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{SF}/{t}.parquet'")
    pinned = {n: run.fingerprint(con.execute(q).df()) for n, q in sorted(sql.items())}
    with open(run.ORACLE, "w") as f:
        json.dump({"sf": SF, "queries": pinned}, f, indent=1, sort_keys=True)
        f.write("\n")
    for n, fp in pinned.items():
        print(f"{n}: {fp['rows']} rows {fp['md5']}")


if __name__ == "__main__":
    main()
