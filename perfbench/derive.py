#!/usr/bin/env python3
"""Derives perfbench/expected.json: the expected fingerprint (row count
and bit_xor of Spark xxhash64 over the result's rows) of every query of
the queries workload over the benchmark corpus.

Each query runs once in Spark through the harness, which reports its
result's column types; DuckDB then runs the query's oracle SQL over the
same parquet files and the result is hashed with those types. Where a
query has an oracle, the DuckDB fingerprint is the expectation; a query
without one (an operator with no SQL equivalent) keeps the Spark result
of the commit that derived it. Disagreements are printed and the DuckDB
value is kept, so the benchmark reports them as failures.

Usage (from the repository root): python3 perfbench/derive.py
"""
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import duckdb

import run as bench


def main():
    root = os.getcwd()
    cp = bench.ensure_build(root)
    oracle_file = os.path.join(bench.build_dir(), "oracles.json")
    subprocess.run(bench.jvm_command(cp, ["--oracles", oracle_file],
                                     os.path.join(bench.build_dir(), "work")), check=True)
    with open(oracle_file) as f:
        oracles = json.load(f)
    data = bench.ensure_data(bench.SCALE)
    con = duckdb.connect()
    for name in os.listdir(data):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data, name)}'")
    ops = [{"id": i, "pass": 0, "kind": k, "name": n} for i, (k, n) in enumerate(bench.QUERIES)]
    args = SimpleNamespace(workload="queries", trace=0)
    res, _, _ = bench.run_jvm(cp, args, ops, data, "derive-queries")
    out, mismatches = {}, []
    for o in res["ops"]:
        n = o["name"]
        if not o["ok"]:
            sys.exit(f"{n} failed in Spark: {o['error']}")
        spark_fp = (o["rows"], o["hash"])
        if n in oracles:
            rows, h = bench.duck_fingerprint(con, oracles[n], o["schema"])
            out[n] = {"rows": rows, "hash": h, "source": "duckdb"}
            if (rows, h) != spark_fp:
                mismatches.append(n)
                print(f"MISMATCH {n}: spark {spark_fp} duckdb {(rows, h)}")
        else:
            out[n] = {"rows": o["rows"], "hash": o["hash"], "source": "spark"}
        print(f"{n} {out[n]}")
    expected = {"queries": {"corpus": bench.corpus_fingerprint(data), "results": out}}
    with open(os.path.join(bench.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(mismatches)} mismatches: {' '.join(mismatches)}")


if __name__ == "__main__":
    main()
