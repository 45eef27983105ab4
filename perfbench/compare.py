"""Compare two sets of saved runs (``run.py --save FILE``).

For every workload and end-to-end metric: each side's median and
quartiles, the base side's spread (interquartile distance / median),
and whether the change's median is within the metric's bound from
BENCHMARK.json (the share of the base median by which it may get worse).
A file holding traced and untraced runs of one workload also gets the
tracing overhead: traced minus untraced median op latency. Every run of
one workload and seed, on either side, must report the same outputs
digest: a change that alters a result fails the comparison.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def series(runs: list[dict], trace: int) -> dict:
    out: dict = {}
    for r in runs:
        if r.get("trace", 0) != trace:
            continue
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def verdict(base: list[float], change: list[float], better: str, bound: float) -> str:
    b, c = statistics.median(base), statistics.median(change)
    worse = (c - b) / b if better == "lower" else (b - c) / b
    return "within bound" if worse <= bound else f"WORSE by {worse:.1%} > {bound:.0%}"


def overhead(runs: list[dict]) -> dict:
    untraced, traced = series(runs, 0), series(runs, 1)
    out = {}
    for (wl, name), vals in traced.items():
        if name == "trace.op_latency_p50_s" and (wl, "op_latency_p50_s") in untraced:
            out[wl] = statistics.median(vals) - statistics.median(untraced[(wl, "op_latency_p50_s")])
    return out


def output_mismatches(runs: list[dict]) -> list[str]:
    """(workload, seed) pairs whose runs disagree on the outputs digest."""
    seen: dict = {}
    for r in runs:
        seen.setdefault((r["workload"], r["seed"]), set()).add(r["outputs"])
    return [f"{wl} seed {seed}: {len(d)} different outputs"
            for (wl, seed), d in sorted(seen.items()) if len(d) > 1]


def main(base_path: str, change_path: str) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    base, change = load(base_path), load(change_path)
    b_ser, c_ser = series(base, 0), series(change, 0)
    worse = 0
    print(f"{'workload':16} {'metric':18} {'base q1/med/q3':>30} {'spread':>7} "
          f"{'change q1/med/q3':>30}  verdict")
    for key in sorted(set(b_ser) & set(c_ser)):
        wl, name = key
        if name not in bounds:
            continue
        bq, cq = quartiles(b_ser[key]), quartiles(c_ser[key])
        spread = (bq[2] - bq[0]) / bq[1]
        v = verdict(b_ser[key], c_ser[key], bounds[name]["better"], bounds[name]["bound"])
        worse += v.startswith("WORSE")
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{wl:16} {name:18} {fmt(bq):>30} {spread:7.1%} {fmt(cq):>30}  {v}")
    for label, runs in (("base", base), ("change", change)):
        for wl, d in sorted(overhead(runs).items()):
            print(f"tracing overhead ({label}, {wl}): {d:+.4f} s per op")
    mismatches = output_mismatches(base + change)
    for m in mismatches:
        print(f"OUTPUTS DIFFER: {m}")
    return 1 if worse or mismatches else 0
