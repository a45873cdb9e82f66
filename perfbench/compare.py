#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each argument is a directory of run records (``run.py`` writes one per
run into ``.perfbench_runs/``) or a single record file. For every
workload in both sets and every end-to-end metric it prints each side's
median and quartiles, the paired wins and a verdict; then, from the
traced runs, the per-op, per-layer medians and their change.

Verdicts follow the benchmark's rules:

- ``gain``: the change wins at least 9/10 of the seed-paired runs (ties
  count for neither side) and the medians differ by more than the
  base's quartile spread;
- ``regression``: the change's median is worse than the base's by more
  than the metric's bound in BENCHMARK.json;
- ``unresolved``: the base's own spread is wider than the bound and the
  change does not beat the base on every run;
- ``unpaired``: the two sets share no seed;
- ``same``: none of the above.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartiles  # noqa: E402

HIGHER_IS_BETTER = {"rows_per_s"}
GAIN_SHARE = 0.9


def load(path: str) -> list[dict]:
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.json")))
    return [json.load(open(f)) for f in files]


def bounds() -> dict[str, float]:
    spec = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(spec):
        return {}
    with open(spec) as fh:
        return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}


def e2e_values(records: list[dict]) -> dict[str, dict[int, float]]:
    """metric -> {seed: value} over untraced runs."""
    out: dict[str, dict[int, float]] = defaultdict(dict)
    for r in records:
        if r["trace"]:
            continue
        s = r["summary"]
        for name, v in {**s["end_to_end"], **s["extra"]}.items():
            if isinstance(v, (int, float)) and name != "op_samples":
                out[name][r["seed"]] = v
    return out


def verdict(name: str, base: dict[int, float], change: dict[int, float],
            bound: float | None) -> tuple[str, str]:
    sign = -1.0 if name in HIGHER_IS_BETTER else 1.0   # +: change is worse
    pairs = [(base[s], change[s]) for s in sorted(set(base) & set(change))]
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) > 0)
    a_vals, b_vals = list(base.values()), list(change.values())
    q1, m_a, q3 = quartiles(a_vals)
    m_b = median(b_vals)
    worse = sign * (m_b - m_a) / m_a if m_a else 0.0
    pair_txt = f"{wins}/{len(pairs)} won, {losses} lost"
    if not pairs:       # no seed in common: nothing to pair-win on
        return "unpaired", pair_txt
    if wins >= GAIN_SHARE * len(pairs) and abs(m_b - m_a) > q3 - q1:
        return "gain", pair_txt
    if bound is not None and worse > bound:
        return "regression", pair_txt
    if bound is not None and m_a and (q3 - q1) / m_a > bound:
        every = all(sign * (b - a) < 0 for a in a_vals for b in b_vals)
        return ("gain" if every else "unresolved"), pair_txt
    return "same", pair_txt


def layer_medians(records: list[dict]) -> dict[tuple[str, str], dict[str, float]]:
    """(workload, op key) -> layer metric -> median over traced ops."""
    vals: dict[tuple[str, str], dict[str, list[float]]] = defaultdict(
        lambda: defaultdict(list))
    for r in records:
        for op in r["ops"]:
            if op.get("traced") and op.get("ok"):
                for k, v in op.items():
                    if "." in k and isinstance(v, (int, float)):
                        vals[(r["workload"], op["key"])][k].append(v)
    return {wk: {k: median(v) for k, v in d.items()} for wk, d in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    base, change = load(args.base), load(args.change)
    limits = bounds()

    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        a = e2e_values([r for r in base if r["workload"] == wl])
        b = e2e_values([r for r in change if r["workload"] == wl])
        if not set(a) & set(b):
            continue
        print(f"== {wl}")
        print(f"  {'metric':14s} {'base median [q1, q3]':>32s} "
              f"{'change median [q1, q3]':>32s} {'delta':>8s}  verdict")
        for name in sorted(set(a) & set(b)):
            qa, qb = quartiles(list(a[name].values())), quartiles(list(b[name].values()))
            delta = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else 0.0
            v, pairs = verdict(name, a[name], b[name], limits.get(name))
            print(f"  {name:14s} {qa[1]:12.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
                  f"{'':>2s}{qb[1]:12.5g} [{qb[0]:.5g}, {qb[2]:.5g}] "
                  f"{delta:+7.1f}%  {v} ({pairs}, n={len(a[name])}/{len(b[name])})")

    la, lb = layer_medians(base), layer_medians(change)
    common = sorted(set(la) & set(lb))
    if common:
        print("== per-op layer medians (traced runs): base -> change")
    for wk in common:
        print(f"  {wk[0]} / {wk[1]}")
        for k in sorted(set(la[wk]) & set(lb[wk])):
            x, y = la[wk][k], lb[wk][k]
            rel = f"{(y - x) / x * 100:+.1f}%" if x else ""
            print(f"    {k:34s} {x:12.5g} -> {y:12.5g} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
