#!/usr/bin/env python3
"""Derives the benchmark's committed tables from survey records
(`tools/survey.py`) and compares surveys.

    analyze.py split SURVEY.jsonl              -> workloads.tsv (stdout)
    analyze.py retime workloads.tsv            -> workloads.tsv with the timed
                                                  flags re-chosen (stdout)
    analyze.py digests SURVEY.jsonl PARITY.txt KEYS.tsv -> digests.tsv (stdout)
    analyze.py repeat A.jsonl B.jsonl          -> keys whose work counters differ
    analyze.py count DIGEST.jsonl COUNT.jsonl  -> keys where count() does less work

A key's seed-trace figures are the cold execution and the median of its
warm executions.
"""
import json
import statistics
import sys
from collections import defaultdict

CORES = 4
# Split rule (README.md, "Workloads").
KERNEL_UTIL = 0.45      # warm task CPU >= this share of warm wall x cores
ITERATIVE_JOBS = 10     # warm jobs per execution
# Timed keys of a workload: their seed-trace cost, cold latency plus
# TIMED_PASSES warm latencies, sums to at most TIMED_BUDGET_S. tail takes
# every n-th key by warm latency with the smallest n that fits; kernels and
# iterative fill greedily by their defining ratio, descending: task CPU per
# core-second (cpu_util) and jobs per second of warm latency. Each workload
# times an odd number of keys (a greedy fill drops its last key if the count
# is even), so the median of all warm executions, `p50_s`, falls among one
# key's samples instead of between the slowest sample of one key and the
# fastest of the next. The budgets leave room for the first keys of a fresh
# JVM, which run slower than the seed trace's cold pass (itself in a JVM that
# had run other keys).
TIMED_BUDGET_S = {"tail": 19.5, "kernels": 22.0, "iterative": 13.5}
TIMED_PASSES = 5
EXACT = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
         "shuffle.write_mb", "shuffle.read_mb"]


def load(path):
    by = defaultdict(list)
    for line in open(path):
        r = json.loads(line)
        by[r["key"]].append(r)
    return by


def summary(recs):
    cold = [r for r in recs if r["pass"] == 0][0]
    warm = [r for r in recs if r["pass"] > 0] or [cold]
    med = lambda f: statistics.median(f(r) for r in warm)
    c = lambda name: (lambda r: r["counters"].get(name, 0.0))
    wall = med(lambda r: r["wall_s"])
    cpu = med(c("tasks.cpu_s"))
    return {
        "cold_s": cold["wall_s"], "warm_s": wall, "jobs": med(c("scheduler.jobs")),
        "task_cpu_s": cpu, "cpu_util": cpu / (wall * CORES) if wall > 0 else 0.0,
        "rounds": max(r["counters"].get("operators.rounds", 0.0) for r in recs),
    }


def split(path):
    s = {k: summary(v) for k, v in load(path).items()}
    wl = {}
    for k, m in s.items():
        if m["cpu_util"] >= KERNEL_UTIL:
            wl[k] = ("kernels", f"cpu_util {m['cpu_util']:.2f} >= {KERNEL_UTIL}")
        elif m["rounds"] > 0:
            wl[k] = ("iterative", f"LastIterations rounds {m['rounds']:.0f}")
        elif m["jobs"] >= ITERATIVE_JOBS:
            wl[k] = ("iterative", f"jobs {m['jobs']:.0f} >= {ITERATIVE_JOBS}")
        else:
            wl[k] = ("tail", "rest")
    write_split(s, wl)


def retime(path):
    """Re-chooses the timed keys from the seed-trace figures a committed
    workloads.tsv carries; membership and figures stay as they are."""
    rows = [l.rstrip("\n").split("\t") for l in open(path) if l.strip() and not l.startswith("#")]
    s, wl = {}, {}
    for r in (dict(zip(rows[0], r)) for r in rows[1:]):
        s[r["key"]] = {f: float(r[f]) for f in
                       ("cold_s", "warm_s", "jobs", "task_cpu_s", "cpu_util", "rounds")}
        wl[r["key"]] = (r["workload"], r["reason"])
    write_split(s, wl)


def timed_keys(s, wl):
    cost = lambda k: s[k]["cold_s"] + TIMED_PASSES * s[k]["warm_s"]
    ks = sorted((k for k in s if wl[k][0] == "tail"), key=lambda k: (s[k]["warm_s"], k))
    stride = next(n for n in range(1, len(ks) + 1)
                  if len(ks[n // 2::n]) % 2 == 1
                  and sum(map(cost, ks[n // 2::n])) <= TIMED_BUDGET_S["tail"])
    timed = set(ks[stride // 2::stride])
    ratio = {"kernels": lambda m: m["cpu_util"], "iterative": lambda m: m["jobs"] / m["warm_s"]}
    for w, r in ratio.items():
        budget = TIMED_BUDGET_S[w]
        chosen = []
        for k in sorted((k for k in s if wl[k][0] == w), key=lambda k: (-r(s[k]), k)):
            if cost(k) <= budget:
                chosen.append(k)
                budget -= cost(k)
        timed.update(chosen[:len(chosen) - 1 + len(chosen) % 2])
    return timed


def write_split(s, wl):
    timed = timed_keys(s, wl)
    print(f"# Generated by tools/analyze.py split from the seed trace ({CORES} cores, sf0.1).")
    print(f"# Rule: kernels if warm task CPU >= {KERNEL_UTIL} x warm wall x cores; else "
          f"iterative if LastIterations reports rounds or warm jobs >= {ITERATIVE_JOBS}; "
          "else tail.")
    print(f"# timed=1: timed in every run; per workload an odd number of keys whose cold + "
          f"{TIMED_PASSES} x warm latency sums to <= "
          + ", ".join(f"{w} {b:g} s" for w, b in TIMED_BUDGET_S.items())
          + " (tail: every n-th key by warm latency; kernels: by descending cpu_util; "
          "iterative: by descending jobs per warm second). Untimed keys are "
          "output-checked in seed-chosen slices (run.py check_slices).")
    print("key\tworkload\ttimed\tcold_s\twarm_s\tjobs\ttask_cpu_s\tcpu_util\trounds\treason")
    for k in sorted(s, key=lambda k: (wl[k][0], k)):
        m = s[k]
        print(f"{k}\t{wl[k][0]}\t{int(k in timed)}\t{m['cold_s']:.3f}\t{m['warm_s']:.3f}\t"
              f"{m['jobs']:.0f}\t{m['task_cpu_s']:.3f}\t{m['cpu_util']:.3f}\t{m['rounds']:.0f}\t"
              f"{wl[k][1]}")


def parity_failed(path):
    """Keys `tools/parity.py` reported as FAIL; its output must be complete."""
    lines = open(path).read().splitlines()
    if not any(" OK, " in l and l.rstrip().split()[1] == "OK," for l in lines):
        sys.exit(f"{path}: no parity summary line")
    return {l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")}


def digests(path, parity, oracle_keys):
    by = load(path)
    bad = parity_failed(parity)
    print("# Expected outputs at sf0.1. oracle: rows, schema and hash must match (the")
    print("# output passed tools/parity.py against DuckDB); no_oracle: rows and schema.")
    print("key\tcheck\trows\tschema\thash")
    for k in sorted(by):
        recs = [r for r in by[k] if not r["failed"]]
        hashes = {r["hash"] for r in recs}
        rows = {r["rows"] for r in recs}
        schemas = {r["schema"] for r in recs}
        if not recs or len(rows) != 1 or len(schemas) != 1:
            sys.exit(f"{k}: no stable output ({len(recs)} runs, rows {rows})")
        if k in oracle_keys:
            if k in bad or len(hashes) != 1:
                sys.exit(f"{k}: oracle key without a parity pass or with unstable hash")
            check = "oracle"
        else:
            check = "no_oracle"
        print(f"{k}\t{check}\t{rows.pop()}\t{schemas.pop()}\t{recs[0]['hash']}")


def exact(r):
    """Exact-repeat counters; shuffle sizes back in bytes."""
    c = r["counters"]
    return tuple(round(c.get(n, 0.0) * (1048576 if n.endswith("_mb") else 1)) for n in EXACT)


def repeat(a, b):
    A, B = load(a), load(b)
    diff = []
    for k in sorted(set(A) & set(B)):
        wa = {exact(r) for r in A[k] if r["pass"] > 0}
        wb = {exact(r) for r in B[k] if r["pass"] > 0}
        if len(wa | wb) > 1:
            diff.append((k, sorted(wa | wb)))
    print(f"{len(set(A) & set(B)) - len(diff)} keys repeat {EXACT} exactly over "
          f"{len(set(A) & set(B))} keys; {len(diff)} do not:")
    for k, vals in diff:
        print(f"  {k}: " + " | ".join(",".join(f"{x:g}" for x in v) for v in vals))


def count(d, c):
    D, C = load(d), load(c)
    print("key\tjobs digest/count\ttasks digest/count\ttask_cpu_s digest/count")
    n = 0
    for k in sorted(set(D) & set(C)):
        sd, sc = summary(D[k]), summary(C[k])
        td = statistics.median(r["counters"].get("scheduler.tasks", 0) for r in D[k] if r["pass"] > 0)
        tc = statistics.median(r["counters"].get("scheduler.tasks", 0) for r in C[k] if r["pass"] > 0)
        cpu_differs = abs(sd["task_cpu_s"] - sc["task_cpu_s"]) > max(0.05, 0.25 * sc["task_cpu_s"])
        if sd["jobs"] != sc["jobs"] or td != tc or cpu_differs:
            n += 1
            print(f"{k}\t{sd['jobs']:g}/{sc['jobs']:g}\t{td:g}/{tc:g}\t"
                  f"{sd['task_cpu_s']:.3f}/{sc['task_cpu_s']:.3f}")
    print(f"# {n} of {len(set(D) & set(C))} keys differ")


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "split":
        split(*args)
    elif cmd == "retime":
        retime(*args)
    elif cmd == "digests":
        oracle = {l.split("\t")[0] for l in open(args[2]) if l.strip().endswith("true")}
        digests(args[0], args[1], oracle)
    elif cmd == "repeat":
        repeat(*args)
    elif cmd == "count":
        count(*args)
    else:
        sys.exit(__doc__)
