#!/usr/bin/env python3
"""Counter self-test: each per-layer counter must read non-zero on an op
known to exercise it, and zero where its layer is bypassed.

  scan.bytes_read        q01, q168 (scan-node SQL metrics, not task input
                         bytes, which hold only parquet footer reads: under
                         1% of the scanned bytes on q01, asserted too)
  exec.shuffle_write     q05
  cache.read_bytes       q168 (re-reads of its persisted gram cache)
  operators.build_jobs   q171 (eager jobs inside the DataFrame build)
  operators.*            zero on the SQL-text ops
  acid.compactions       acid_txn

Usage (from the repository root): python3 perfbench/selftest.py
Exits 0 when every check holds.
"""
import os
import sys
from types import SimpleNamespace

import run as bench


def main():
    root = os.getcwd()
    cp = bench.ensure_build(root)
    data = bench.ensure_data(bench.SCALE)
    ops = [{"id": i, "pass": 0, "kind": k, "name": n} for i, (k, n) in enumerate(
        [("sql", "q01_agg_filter"), ("sql", "q05_multi_join"),
         ("run", "q168_shared_spans"), ("run", "q171_bpe_train")])]
    args = SimpleNamespace(workload="queries", trace=1)
    res, spans, _ = bench.run_jvm(cp, args, ops, data, "selftest-counters")
    per_op = {int(k): v for k, v in res["per_op"].items()}
    names = {s["id"]: s for s in spans}

    def build_jobs(op):
        return sum(1 for s in spans if s["name"] == "exec.job" and s["op"] == op
                   and names.get(s["parent"], {}).get("name") == "operators.build")

    def operator_spans(op):
        return sum(1 for s in spans if s["op"] == op and s["name"].startswith("operators."))

    checks = [
        ("q01 scan.bytes_read > 0", per_op[0]["scanBytes"] > 0),
        ("q01 scan.files_read > 0", per_op[0]["scanFiles"] > 0),
        ("q01 task input bytes < 1% of scan bytes (file scans stay out of cache.read_bytes)",
         per_op[0]["inputBytes"] < 0.01 * per_op[0]["scanBytes"]),
        ("q168 scan.bytes_read > 0 (scan under its persisted cache)", per_op[2]["scanBytes"] > 0),
        ("q05 exec.shuffle_write_bytes > 0", per_op[1]["shuffleWrite"] > 0),
        ("q168 cache.read_bytes > 0", per_op[2]["inputBytes"] > 0),
        ("q171 operators.build_jobs > 0", build_jobs(3) > 0),
        ("SQL-text ops: no operators spans or build jobs",
         operator_spans(0) == operator_spans(1) == build_jobs(0) == build_jobs(1) == 0),
        ("every op planned and ran jobs",
         all(per_op[i]["jobs"] > 0 and per_op[i]["planningMs"] >= 0 for i in range(4))),
    ]
    args = SimpleNamespace(workload="acid_txn", trace=1)
    aops = bench.make_ops("acid_txn", 1, 1)
    ares, aspans, _ = bench.run_jvm(cp, args, aops, data, "selftest-acid")
    layers = bench.per_layer(ares, aspans)
    checks += [("acid_txn acid.compactions > 0", layers["acid.compactions"] > 0),
               ("acid_txn acid.snapshot_s > 0", layers["acid.snapshot_s"] > 0),
               ("acid_txn operators.build_s == 0", layers["operators.build_s"] == 0)]
    for name, ok in checks:
        print(("PASS " if ok else "FAIL ") + name)
    sys.exit(0 if all(ok for _, ok in checks) else 1)


if __name__ == "__main__":
    main()
