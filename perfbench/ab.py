#!/usr/bin/env python3
"""A/B comparison of two checkouts on the benchmark.

  python3 perfbench/ab.py PARENT_DIR CHANGE_DIR [--workloads analytics,lake_oltp]
      [--pairs 10] [--seconds 10] [--seed 1000] [--out .bench_build/ab.jsonl]
  python3 perfbench/ab.py --load .bench_build/ab.jsonl

Runs each checkout's own perfbench/run.py from its root, in pairs that
alternate which side goes first, with one fresh seed per pair shared by
both sides. Every run's full metric set is appended to --out, so a
comparison can be reprinted with --load.

For each (workload, metric) it prints both sides' median and quartiles,
the change in the median, and the share of pairs the change wins (ties
count for neither side), then a verdict:

  gain        the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  either side's quartile spread, as a share of its median, is
              wider than the bound, unless every change run beats every
              parent run
  same        none of the above

Bounds and directions come from BENCHMARK.json; metrics a workload prints
beyond it use DEFAULT_BOUND.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

DEFAULT_BOUND = 0.10
HIGHER_IS_BETTER = {"ops_per_s", "ingest_rows_per_s"}
# descriptive counts, not timings to compare
SKIP = {"read_tail_pct", "read_tail_n", "write_tail_pct", "write_tail_n",
        "failed_ratio"}


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1000)
    full = next((ln[5:] for ln in p.stdout.splitlines()
                 if ln.startswith("FULL ")), None)
    if p.returncode != 0 or full is None:
        sys.exit(f"{checkout} {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    last = json.loads(p.stdout.splitlines()[-1])
    metrics = {k: v["value"] for k, v in json.loads(full)["end_to_end"].items()}
    return {"correct": last["correct"], "metrics": metrics}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def bounds(checkout):
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: (m["bound"], m["better"] == "higher")
            for m in spec.get("end_to_end", [])}


def verdict(par, chg, bound, higher):
    p1, pm, p3 = quartiles(par)
    c1, cm, c3 = quartiles(chg)
    better = (lambda c, p: c > p) if higher else (lambda c, p: c < p)
    pairs = list(zip(par, chg))
    win = sum(better(c, p) for p, c in pairs) / len(pairs)
    worse = (pm - cm) / pm if higher else (cm - pm) / pm
    spread = max((p3 - p1) / pm, (c3 - c1) / cm)
    all_better = all(better(c, p) for c in chg for p in par)
    if win >= 0.9 and abs(cm - pm) > (p3 - p1):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return (p1, pm, p3), (c1, cm, c3), worse, win, spread, v


def report(records, limits):
    by = {}
    for r in records:
        for k, v in r["metrics"].items():
            if k not in SKIP:
                by.setdefault((r["workload"], k), {}).setdefault(
                    r["pair"], {})[r["side"]] = v
    print(f"{'workload':10s} {'metric':20s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'worse':>8s} {'wins':>5s} "
          f"{'spread':>7s} verdict")
    for (w, k), pairs in sorted(by.items()):
        both = [p for p in pairs.values() if "parent" in p and "change" in p]
        if not both:
            continue
        par = [p["parent"] for p in both]
        chg = [p["change"] for p in both]
        bound, higher = limits.get(k, (DEFAULT_BOUND, k in HIGHER_IS_BETTER))
        pq, cq, worse, win, spread, v = verdict(par, chg, bound, higher)
        fq = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{w:10s} {k:20s} {fq(pq):>30s} {fq(cq):>30s} "
              f"{worse:+8.1%} {win:5.0%} {spread:7.1%} {v}")
    bad = [r for r in records if not r["correct"]]
    if bad:
        print(f"{len(bad)} runs failed their output checks")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workloads", default="analytics,lake_oltp")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out", default=".bench_build/ab.jsonl")
    ap.add_argument("--load")
    a = ap.parse_args()
    if a.load:
        with open(a.load) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
        report(records, bounds(os.getcwd()))
        return
    if not (a.parent and a.change):
        ap.error("give PARENT_DIR and CHANGE_DIR, or --load")
    records = []
    with open(a.out, "a") as out:
        for w in a.workloads.split(","):
            for i in range(a.pairs):
                seed = a.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run(getattr(a, side), w, seed, a.seconds)
                    rec = {"workload": w, "pair": i, "side": side,
                           "seed": seed, **r}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    records.append(rec)
    report(records, bounds(a.change))


if __name__ == "__main__":
    main()
