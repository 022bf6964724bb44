#!/usr/bin/env python3
"""Establishes the catalog workload's expected digests from the DuckDB oracle.

Usage (from the checkout root): python3 perfbench/establish_digests.py

Runs every catalog query of the benchmark once in the engine (which also
stages the synthetic corpora the oracle SQL reads), runs each query's
`SparkEntry.oracleSql` in DuckDB over the same tables, and writes the
oracle's digests to perfbench/expected/catalog_digests.json. Exits non-zero
if any engine digest differs from the oracle's; for such a query it also
digests the engine's result parquet through DuckDB, which tells a
normalisation difference from a wrong result.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from digest import digest  # noqa: E402


def run_sql(con, sql):
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def main():
    data = os.path.join(build.BENCH, "data", "sf0.01")
    out = os.path.join(build.OUT, "establish")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = build.java_command(build.build(), out) + ["--establish", data, out]
    subprocess.run(cmd, check=True)
    with open(os.path.join(out, "engine_digests.json")) as f:
        engine = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{f}')")
    expected, bad = {}, 0
    for q in engine:
        if q not in oracle:
            print(f"[no oracle] {q}")
            bad += 1
            continue
        want = run_sql(con, oracle[q])
        expected[q] = want
        if engine[q] == want:
            print(f"[match    ] {q} {want}")
            continue
        bad += 1
        spark = run_sql(con, f"SELECT * FROM read_parquet('{out}/results/{q}/*.parquet')")
        why = "normalisation differs" if spark == want else "results differ"
        print(f"[MISMATCH ] {q}: engine {engine[q]} oracle {want} ({why})")
    with open(os.path.join(build.BENCH, "expected", "catalog_digests.json"), "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
