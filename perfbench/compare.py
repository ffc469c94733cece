"""Compare two sets of benchmark runs, metric by metric, workload by workload.

    python3 perfbench/run.py compare DIR_A DIR_B

Each directory holds the result records that runs write to
``.bench_run/results/`` (copy them aside between the two commits).  A is
the parent, B the change.  Runs of one workload are paired in seed order.
For each workload and end-to-end metric the table gives both medians and
quartiles, the share of pairs B won (ties count for neither), and a verdict:

- ``gain``: B won at least 9/10 of the pairs and the medians differ by more
  than A's own quartile spread;
- ``regression``: B's median is worse than A's by more than the metric's
  bound in ``BENCHMARK.json``;
- ``unresolved``: A's own spread is wider than the bound, so "no worse" cannot
  be shown (unless every run of B beats every run of A);
- ``no regression``: otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[str, list[dict]]:
    """workload -> untraced run records sorted by seed."""
    runs: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        try:
            with open(f) as fh:
                rec = json.load(fh)
        except (OSError, json.JSONDecodeError) as exc:
            print(f"# skipped {f}: {exc}", file=sys.stderr)
            continue
        if rec.get("trace") == 0 and "end_to_end" in rec:
            runs.setdefault(rec["workload"], []).append(rec)
    for recs in runs.values():
        recs.sort(key=lambda r: r["seed"])
    return runs


def quartiles(v: list[float]) -> tuple[float, float]:
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def verdict(a: list[float], b: list[float], bound: float, lower: bool) -> tuple[str, float]:
    """(verdict, share of pairs B won) for parent runs ``a`` and change runs ``b``."""

    def better(x: float, y: float) -> bool:  # y (B) beats x (A)
        return y < x if lower else y > x

    pairs = list(zip(a, b))
    share = sum(better(x, y) for x, y in pairs) / len(pairs) if pairs else 0.0
    ma, mb = statistics.median(a), statistics.median(b)
    q1, q3 = quartiles(a)
    spread = q3 - q1
    if share >= 0.9 and better(ma, mb) and abs(mb - ma) > spread:
        return "gain", share
    worse_by = (mb - ma) if lower else (ma - mb)
    if worse_by > bound * abs(ma):
        return "regression", share
    if spread > bound * abs(ma) and not all(better(x, y) for x in a for y in b):
        return "unresolved", share
    return "no regression", share


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a_runs, b_runs = load(argv[0]), load(argv[1])
    rows = []
    for wl in sorted(set(a_runs) & set(b_runs)):
        a_recs, b_recs = a_runs[wl], b_runs[wl]
        for m in spec["end_to_end"]:
            a = [r["end_to_end"][m["name"]] for r in a_recs if m["name"] in r["end_to_end"]]
            b = [r["end_to_end"][m["name"]] for r in b_recs if m["name"] in r["end_to_end"]]
            if not a or not b:
                continue
            v, share = verdict(a, b, m["bound"], m["better"] == "lower")
            qa, qb = quartiles(a), quartiles(b)
            rows.append((wl, m["name"], m["unit"], len(a), len(b), statistics.median(a),
                         qa, statistics.median(b), qb, share, v))
    print(f"{'workload':<9} {'metric':<18} {'unit':<7} {'nA':>3} {'nB':>3} "
          f"{'median A':>11} {'[q1, q3] A':>23} {'median B':>11} {'[q1, q3] B':>23} "
          f"{'B won':>6}  verdict")
    for wl, name, unit, na, nb, ma, qa, mb, qb, share, v in rows:
        print(f"{wl:<9} {name:<18} {unit:<7} {na:>3} {nb:>3} {ma:>11.5g} "
              f"[{qa[0]:>10.5g}, {qa[1]:>10.5g}] {mb:>11.5g} [{qb[0]:>10.5g}, {qb[1]:>10.5g}] "
              f"{share:>6.0%}  {v}")
    missing = sorted(set(a_runs) ^ set(b_runs))
    if missing:
        print(f"# workloads in only one set: {', '.join(missing)}")
    return 0
