"""Compare two benchmark result sets, or report the spread of one.

    python3 perfbench/bench_diff.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/bench_diff.py RESULTS.jsonl

A result set is the JSON-lines file ``run.py --record`` appends to (one
line per run: workload, seed, trace flag and the printed result). Only
untraced runs are compared. Per workload and end-to-end metric of
``BENCHMARK.json`` it prints both sides' median and quartiles, the share
of seed-matched pairs the change wins, and a verdict against the metric's
bound:

- ``better``: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's interquartile range;
- ``worse``: the change's median is worse than the parent's by more than
  the bound;
- ``unresolved``: the parent's own spread exceeds the bound, unless every
  change run beats (or loses to) every parent run;
- ``unchanged``: otherwise.

Exits 1 when any verdict is ``worse``, else 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(path: str) -> dict:
    """``{workload: {seed: result}}`` of the untraced runs in ``path``."""
    out: dict = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            out.setdefault(rec["workload"], {})[rec["seed"]] = rec["result"]
    return out


def values(runs: dict, metric: str) -> dict:
    return {s: r["metrics"][metric]["value"] for s, r in runs.items()
            if r.get("correct") and metric in r.get("metrics", {})}


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list) -> float:
    """Interquartile range as a share of the median."""
    q1, _, q3 = quartiles(xs)
    med = statistics.median(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(parent: dict, change: dict, better: str, bound: float) -> tuple:
    """``(verdict, win_rate)`` of ``change`` against ``parent``."""
    sign = 1.0 if better == "higher" else -1.0
    p, c = list(parent.values()), list(change.values())
    if not p or not c:
        return "unresolved", 0.0
    pairs = [(parent[s], change[s]) for s in parent if s in change]
    wins = sum(1 for a, b in pairs if sign * (b - a) > 0)
    win_rate = wins / len(pairs) if pairs else 0.0
    pm, cm = statistics.median(p), statistics.median(c)
    q1, _, q3 = quartiles(p)
    gain = sign * (cm - pm)
    if pairs and wins >= 0.9 * len(pairs) and gain > (q3 - q1):
        return "better", win_rate
    all_worse = max(sign * x for x in c) < min(sign * x for x in p)
    all_better = min(sign * x for x in c) > max(sign * x for x in p)
    if -gain > bound * abs(pm) and (spread(p) <= bound or all_worse):
        return "worse", win_rate
    if spread(p) > bound and not (all_better or all_worse):
        return "unresolved", win_rate
    return "unchanged", win_rate


def fmt(xs: list) -> str:
    q1, q2, q3 = quartiles(xs)
    return f"{q2:.6g} [{q1:.6g}, {q3:.6g}] n={len(xs)}"


def main(argv: list) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(BENCHMARK) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sets = [load(p) for p in argv]
    worse = False
    for wl in [w["name"] for w in bench["workloads"]]:
        if any(wl not in s for s in sets):
            print(f"{wl}: missing from a result set")
            continue
        for m in metrics:
            name, bound = m["name"], m["bound"]
            vals = [values(s[wl], name) for s in sets]
            if len(sets) == 1:
                xs = list(vals[0].values())
                print(f"{wl} {name}: {fmt(xs)} {m['unit']}; spread "
                      f"{spread(xs):.3f} (bound {bound})")
                continue
            v, rate = verdict(vals[0], vals[1], m["better"], bound)
            worse |= v == "worse"
            print(f"{wl} {name} [{m['unit']}, {m['better']} is better, "
                  f"bound {bound}]: parent {fmt(list(vals[0].values()))}; "
                  f"change {fmt(list(vals[1].values()))}; change wins "
                  f"{rate:.0%} of pairs: {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
