"""Alternating A/B of the benchmark between two checkouts.

    python3 tools/ab_pairs.py <parent_checkout> <change_checkout> \\
        --workload search_serving --seeds 41-48

Runs ``perfbench/run.py --trace 0`` once per seed in each checkout, one
pair per seed, and swaps the side that runs first on every pair, so a
drift of the host's speed during the session loads both sides alike.
Each run lasts the change checkout's ``BENCHMARK.json`` ``run_seconds``,
and its last stdout line is its result. Printed per end-to-end metric of
that file: the parent median (IQR), the change median (IQR) and the
pairs the change won; then every run whose result reads
``correct: false`` or ``failed > 0``, or that printed no result. Each run writes only what ``perfbench/run.py`` writes, under
its own checkout's ``perfbench/``; this script writes nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"3-6"`` → [3, 4, 5, 6]; ``"1,4,9"`` → [1, 4, 9]; both mix."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def last_result(stdout: str) -> dict | None:
    """The run's result: the JSON object on its last non-empty line."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartile_spread(values: list[float]) -> float:
    """Upper minus lower quartile (0 for fewer than two values)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def summarize(pairs: list[dict], metrics: list[dict]) -> list[dict]:
    """One row per metric from ``pairs`` (each ``{"parent": result,
    "change": result}``, a result as printed by perfbench) and
    ``metrics`` (``BENCHMARK.json`` ``end_to_end`` entries): medians and
    IQRs per side, and how many pairs the change won by the metric's
    ``better`` direction. A pair with a side missing the metric counts
    for neither median nor win."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        both = []
        for p in pairs:
            vals = [((p.get(s) or {}).get("metrics") or {}).get(name) for s in SIDES]
            if all(vals):
                both.append(tuple(v["value"] for v in vals))
        par = [b[0] for b in both]
        chg = [b[1] for b in both]
        won = sum((c < b) if lower else (c > b) for b, c in both)
        rows.append({
            "metric": name,
            "unit": m.get("unit", ""),
            "pairs": len(both),
            "parent_median": statistics.median(par) if par else None,
            "parent_iqr": quartile_spread(par),
            "change_median": statistics.median(chg) if chg else None,
            "change_iqr": quartile_spread(chg),
            "won": won,
        })
    return rows


def flagged(runs: list[tuple[str, int, dict | None]]) -> list[str]:
    """One line per (side, seed, result) that printed no result, answered
    wrongly or failed an operation."""
    out = []
    for side, seed, res in runs:
        if res is None:
            out.append(f"{side} seed {seed}: no result line")
        elif res.get("correct") is not True or res.get("failed", 0) > 0:
            out.append(
                f"{side} seed {seed}: correct={res.get('correct')} "
                f"failed={res.get('failed')} of {res.get('attempted')}"
            )
    return out


def format_table(rows: list[dict]) -> str:
    def cell(med, iqr):
        return "n/a" if med is None else f"{med:.4g} ({iqr:.3g})"

    lines = [
        "| metric | parent median (IQR) | change median (IQR) | change better |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| `{r['metric']}` ({r['unit']}) | {cell(r['parent_median'], r['parent_iqr'])}"
            f" | {cell(r['change_median'], r['change_iqr'])} | {r['won']}/{r['pairs']} |"
        )
    return "\n".join(lines)


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    return last_result(proc.stdout)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-48 or 41,45,50")
    args = ap.parse_args(argv)
    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(checkouts["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]

    pairs, runs = [], []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {}
        for side in order:
            pair[side] = run_once(
                checkouts[side], args.workload, seed, bench["run_seconds"]
            )
            runs.append((side, seed, pair[side]))
            vals = {k: round(v["value"], 4)
                    for k, v in ((pair[side] or {}).get("metrics") or {}).items()}
            print(f"seed {seed} {side}: {vals}", file=sys.stderr, flush=True)
        pairs.append(pair)
    print(format_table(summarize(pairs, metrics)))
    bad = flagged(runs)
    for line in bad:
        print(f"FLAGGED {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
