#!/usr/bin/env python3
"""Compares two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE CANDIDATE

BASE and CANDIDATE are each a result directory (such as
`.bench_build/results/` of a checkout, or `perfbench/baseline/`) or a
list of files separated by commas. A file is either a full result record
written by `run.py` or a saved stdout of `run.py` (its `stamp` line and
last line are read). Traced runs are skipped.

For each workload x metric it prints each side's median and quartiles
and a verdict under the bounds of BENCHMARK.json:

- better: the candidate wins at least 9 in 10 pairs of runs (ties count
  for neither side; runs pair by seed, else in order) and the medians
  differ by more than the base's own quartile spread;
- worse: the candidate's median is worse than the base's by more than
  the metric's bound;
- unresolved: neither, and a side's quartile spread is wider than the
  bound, unless every candidate run beats every base run;
- unchanged: otherwise.

Timings cover only the ops that succeeded, so a commit could read faster
by failing. Each workload therefore also gets a row for failed ÷
attempted ops, summed over its runs: worse when the candidate's share is
higher than the base's, better when lower. When it is higher, no metric
of that workload may be better: such a verdict is reported as worse.

Exits with 1 when any verdict is worse.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bounds():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"]}


def read_run(path):
    """(workload, seed, {metric: value}, (attempted, failed)) of one
    untraced run, or None."""
    with open(path) as f:
        text = f.read()
    try:
        rec = json.loads(text)
        if rec.get("trace"):
            return None
        return (rec["workload"], rec["seed"], rec["end_to_end"],
                (rec["attempted"], rec["failed"]))
    except (ValueError, KeyError):
        pass
    stamp, last = None, None
    for line in text.splitlines():
        if line.startswith("stamp "):
            stamp = json.loads(line[len("stamp "):])
        elif line.startswith("{"):
            last = line
    if stamp is None or last is None:
        return None
    result = json.loads(last)
    metrics = result["metrics"]
    if "setup_s" not in metrics:
        return None
    return (stamp["workload"], stamp["seed"], {k: v["value"] for k, v in metrics.items()},
            (result["attempted"], result["failed"]))


def collect(spec):
    if os.path.isdir(spec):
        files = sorted(p for p in glob.glob(os.path.join(spec, "*"))
                       if os.path.isfile(p) and not p.endswith(".spans.json"))
    else:
        files = spec.split(",")
    runs = {}
    for p in files:
        r = read_run(p)
        if r:
            runs.setdefault(r[0], []).append((r[1], r[2], r[3]))
    return runs


def failed_share(runs):
    return sum(f for _, _, (_, f) in runs) / max(1, sum(a for _, _, (a, _) in runs))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, cand, better, bound):
    """base and cand are lists of (seed, value); returns (verdict, wins, pairs)."""
    sign = 1.0 if better == "higher" else -1.0
    a = [v for _, v in base]
    b = [v for _, v in cand]
    by_seed = dict(base)
    if all(s in by_seed for s, _ in cand):
        pairs = [(by_seed[s], v) for s, v in cand]
    else:
        pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = qa[1], qb[1]
    spread_a = qa[2] - qa[0]
    rel = max((qa[2] - qa[0]) / abs(med_a) if med_a else 0.0,
              (qb[2] - qb[0]) / abs(med_b) if med_b else 0.0)
    worse_by = sign * (med_a - med_b) / abs(med_a) if med_a else 0.0
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    all_worse = max(sign * y for y in b) < min(sign * x for x in a)
    if pairs and wins >= 0.9 * len(pairs) and sign * (med_b - med_a) > spread_a:
        v = "better"
    elif worse_by > bound and (rel <= bound or all_worse):
        v = "worse"
    elif rel > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return v, wins, len(pairs), qa, qb


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    bounds = load_bounds()
    base, cand = collect(sys.argv[1]), collect(sys.argv[2])
    any_worse = False
    head = (f"{'workload':18} {'metric':12} {'base q1/med/q3':>32} {'cand q1/med/q3':>32} "
            f"{'wins':>7}  verdict")
    print(head)
    for w in sorted(set(base) & set(cand)):
        share_a, share_b = failed_share(base[w]), failed_share(cand[w])
        more_failures = share_b > share_a
        fv = "worse" if more_failures else "better" if share_b < share_a else "unchanged"
        any_worse |= more_failures
        print(f"{w:18} {'failed/att.':12} {share_a:>32.4g} {share_b:>32.4g} {'':>7}  {fv}")
        for name, m in bounds.items():
            a = [(s, r[name]) for s, r, _ in base[w] if name in r]
            b = [(s, r[name]) for s, r, _ in cand[w] if name in r]
            if not a or not b:
                continue
            v, wins, n, qa, qb = verdict(a, b, m["better"], m["bound"])
            if v == "better" and more_failures:
                v = "worse (more failed ops)"
            any_worse |= v.startswith("worse")
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:18} {name:12} {fa:>32} {fb:>32} {wins:>3}/{n:<3}  {v}"
                  f"  (n={len(a)}/{len(b)}, bound {m['bound']:.0%}, {m['better']} is better)")
    for w in sorted(set(base) ^ set(cand)):
        print(f"{w}: runs on one side only")
    sys.exit(1 if any_worse else 0)


if __name__ == "__main__":
    main()
