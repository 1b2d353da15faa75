"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds run records, one JSON line per run, as written by
``run.py --results FILE`` (run both commits with the same seeds and
settings).  For every workload and every end-to-end metric it prints
both sides' quartiles and a verdict:

- ``improved``: the new side beats at least 9 of 10 (base, new) run
  pairs and the medians differ by more than the base's own spread;
- ``worse``: the new median is worse than the base median by more than
  the metric's bound in BENCHMARK.json (25% for metrics it does not list);
- ``unresolved``: the base's own spread exceeds the bound, so the runs
  cannot tell a regression of that size from noise;
- ``within bound`` otherwise.

Traced runs (``--trace 1``) add a per-layer table of median deltas.
"""

from __future__ import annotations

import json
import math
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartiles, relative_spread  # noqa: E402

DEFAULT_BOUND = 0.25


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                runs[(rec["workload"], rec["trace"])].append(rec)
    return runs


def verdict(base: list[float], new: list[float], better: str, bound: float) -> str:
    sign = 1 if better == "lower" else -1  # > 0 below means "new is worse"
    q1, med, q3 = quartiles(base)
    new_med = quartiles(new)[1]
    if med:
        worse_by = sign * (new_med - med) / med
    else:  # e.g. failed_frac: any move off zero exceeds every bound
        worse_by = math.inf if sign * new_med > 0 else 0.0
    pairs = [(a, b) for a in base for b in new]
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    if wins >= 0.9 * len(pairs) and abs(new_med - med) > q3 - q1:
        return "improved"
    if relative_spread(base) > bound:
        return "unresolved"
    return "worse" if worse_by > bound else "within bound"


def _row(name: str, unit: str, a: list[float], b: list[float], verdict_s: str) -> str:
    qa, qb = quartiles(a), quartiles(b)
    return (f"  {name:<26} {unit:<6} {qa[1]:>10.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
            f" {qb[1]:>10.4f} [{qb[0]:.4f}, {qb[2]:.4f}]  {verdict_s}")


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, new = load(argv[1]), load(argv[2])
    for workload in sorted({w for w, _ in base} & {w for w, _ in new}):
        a_runs, b_runs = base.get((workload, 0), []), new.get((workload, 0), [])
        if a_runs and b_runs:
            print(f"{workload}: {len(a_runs)} base runs, {len(b_runs)} new runs"
                  f" (median [q1, q3])")
            for name in a_runs[0]["metrics"]:
                a = [r["metrics"][name]["value"] for r in a_runs]
                b = [r["metrics"].get(name, {}).get("value") for r in b_runs]
                if None in a or None in b:
                    continue
                m = spec.get(name, {})
                v = verdict(a, b, m.get("better", "lower"), m.get("bound", DEFAULT_BOUND))
                print(_row(name, a_runs[0]["metrics"][name]["unit"], a, b, v))
        a_tr, b_tr = base.get((workload, 1), []), new.get((workload, 1), [])
        if a_tr and b_tr:
            print(f"{workload} per layer: {len(a_tr)} base, {len(b_tr)} new traced runs")
            for name in a_tr[0]["layers"]:
                a = [r["layers"][name] for r in a_tr]
                b = [r["layers"][name] for r in b_tr]
                ma, mb = quartiles(a)[1], quartiles(b)[1]
                pct = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
                print(f"  {name:<28} {ma:>12.4f} {mb:>12.4f}  {mb - ma:+.4f} ({pct})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
