#!/usr/bin/env python3
"""Traced survey of graft's query keys, the raw material of the committed
workload split and digests.

    python3 perfbench/tools/survey.py OUT.jsonl [--keys all|WORKLOAD|k1,k2]
        [--passes N] [--seed N] [--action digest|count] [--dump DIR]

Every key runs once cold and then N warm passes, all traced, in
seed-permuted order in one session. Each execution becomes one JSON record
(wall time, digest, counters, spans). `--dump DIR` also writes every key's
output as parquet plus `oracle_sql.json`, the layout `tools/parity.py`
checks against DuckDB.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--keys", default="all")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--action", default="digest", choices=("digest", "count"))
    ap.add_argument("--dump", default="")
    a = ap.parse_args()
    run.check_inputs()
    run.build()
    cmd = run.java(["--mode", "survey", "--keys", a.keys, "--passes", str(a.passes),
                    "--seed", str(a.seed), "--action", a.action,
                    "--records", os.path.abspath(a.out)]
                   + (["--dump", os.path.abspath(a.dump)] if a.dump else []))
    sys.exit(run.run_child(cmd, cwd=run.ROOT, stdout=None, stderr=None, timeout=6 * 3600))


if __name__ == "__main__":
    main()
