"""Interleaved parent/change benchmark pairs for one workload.

    python scripts/bench_pairs.py --parent <checkout> --workload knn_band_snapshots --pairs 8 --seed 41

Runs `perfbench/run.py --trace 0` from two source checkouts: the parent
(`--parent`) and the change (`--change`, default: this checkout). Pair i
runs both sides on seed `--seed + i`, one after the other, the parent
first in even pairs and the change first in odd ones, so host drift
falls on both sides alike. Each run is its own driver process started
in its checkout, so each side builds what it runs from its own source.

Prints every run's `correct` and wall time as it finishes, then, per
end-to-end metric of the change checkout's BENCHMARK.json: the median
and min of each side, the parent's interquartile range, and in how many
pairs the change was better.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(checkout: Path, workload: str, seed: int) -> dict:
    """One untraced perfbench run in `checkout`; its last stdout line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perfbench failed in {checkout} (exit {proc.returncode})")
    return json.loads(lines[-1])


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path, help="parent source checkout")
    ap.add_argument("--change", default=ROOT, type=Path, help="change source checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args(argv)

    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    for side, path in sides.items():
        if not (path / "perfbench" / "run.py").is_file():
            ap.error(f"{side} checkout {path} has no perfbench/run.py")
    e2e = json.loads((sides["change"] / "BENCHMARK.json").read_text())["end_to_end"]

    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, seed)
            runs[side].append(res)
            wall = res["metrics"].get("wall_s", {}).get("value")
            print(f"pair {i} seed {seed} {side:6s} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} wall_s={wall}", flush=True)

    print(f"\n{args.workload}: {args.pairs} pairs, medians parent -> change")
    print(f"  {'metric':12s} {'parent':>10s} {'change':>10s} {'min par':>10s} "
          f"{'min chg':>10s} {'par IQR':>10s}  better")
    for m in e2e:
        name = m["name"]
        par = [r["metrics"][name]["value"] for r in runs["parent"] if name in r["metrics"]]
        chg = [r["metrics"][name]["value"] for r in runs["change"] if name in r["metrics"]]
        if not par or not chg:
            print(f"  {name:12s} absent")
            continue
        sign = 1.0 if m["better"] == "lower" else -1.0
        wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
        print(f"  {name:12s} {statistics.median(par):10.4g} {statistics.median(chg):10.4g} "
              f"{min(par):10.4g} {min(chg):10.4g} {iqr(par):10.4g}  {wins}/{len(chg)}")
    bad = sum(not r["correct"] for side in runs.values() for r in side)
    print(f"runs not correct: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
