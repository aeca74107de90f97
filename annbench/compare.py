"""Collect paired benchmark runs of two checkouts and judge them.

    # 10 alternating pairs per workload, seeds 1000..1009
    python3 annbench/compare.py collect --parent ../parent --change . \\
        --pairs 10 --out runs.jsonl
    # one row per workload x end-to-end metric
    python3 annbench/compare.py judge runs.jsonl

``collect`` runs ``annbench/run.py`` (untraced) inside each checkout,
alternating which side goes first, and appends one JSON line per run:
``{"side", "workload", "seed", "wall_s", "result"}``. Both sides of a
pair get the same seed. Pointing both sides at one checkout measures
how far two sets of runs of the same code drift apart.

``judge`` applies the rule of the choosing-metrics guide, section 8, with
the bounds of BENCHMARK.json. For each workload and metric, with the
parent's quartiles q1, q3 (``statistics.quantiles(n=4)``):

- better: the change wins at least 9/10 of the pairs (ties count for
  neither side) and its median differs from the parent's by more than
  q3 - q1, in the metric's better direction;
- unresolved: otherwise, when (q3 - q1) / median of either side exceeds
  the bound and not every change run is better than every parent run;
- worse: otherwise, when the change's median is worse than the
  parent's by more than the bound (a share of the parent's median);
- same: within the bound.

It needs at least 10 pairs per workload and exits 1 when any row is worse.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_PAIRS = 10
WIN_SHARE = 0.9


def load_spec(path: Path = ROOT / "BENCHMARK.json") -> dict:
    with open(path) as f:
        return json.load(f)


def run_once(checkout: Path, command: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=False,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} {workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {"wall_s": wall, "result": json.loads(lines[-1])}


def collect(args) -> None:
    spec = load_spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    sides = {"parent": Path(args.parent).resolve(), "change": Path(args.change).resolve()}
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for workload in workloads:
                for side in order:
                    rec = run_once(sides[side], spec["command"], workload, seed, spec["run_seconds"])
                    rec.update(side=side, workload=workload, seed=seed)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"# pair {i} {workload} {side} seed {seed}: {rec['wall_s']:.1f} s", file=sys.stderr)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def judge_metric(parent: list[float], change: list[float], higher_better: bool, bound: float) -> dict:
    """Verdict for one workload x metric from values paired by index."""
    sign = 1.0 if higher_better else -1.0
    n = len(parent)
    wins = sum((b - a) * sign > 0 for a, b in zip(parent, change))
    q1a, med_a, q3a = _quartiles(parent)
    q1b, med_b, q3b = _quartiles(change)
    iqr_a = q3a - q1a
    spread = max(iqr_a / abs(med_a), (q3b - q1b) / abs(med_b))
    worse_by = -(med_b - med_a) * sign / abs(med_a)
    all_better = (min(change) > max(parent)) if higher_better else (max(change) < min(parent))
    if wins >= WIN_SHARE * n and (med_b - med_a) * sign > iqr_a:
        verdict = "better"
    elif spread > bound and not all_better:
        verdict = "unresolved"
    elif worse_by > bound:
        verdict = "worse"
    else:
        verdict = "same"
    return {
        "pairs": n, "wins": wins, "parent": (q1a, med_a, q3a),
        "change": (q1b, med_b, q3b), "spread": spread,
        "worse_by": worse_by, "verdict": verdict,
    }


def judge(args) -> int:
    spec = load_spec()
    values: dict = defaultdict(dict)  # (workload, side) -> seed -> metrics
    with open(args.runs) as f:
        for line in f:
            rec = json.loads(line)
            values[(rec["workload"], rec["side"])][rec["seed"]] = rec["result"]["metrics"]
    print("| workload | metric | pairs | parent q1/med/q3 | change q1/med/q3 | change wins | spread | bound | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    any_worse = False
    for w in spec["workloads"]:
        workload = w["name"]
        par, chg = values.get((workload, "parent"), {}), values.get((workload, "change"), {})
        seeds = sorted(set(par) & set(chg))
        if len(seeds) < MIN_PAIRS:
            print(f"| {workload} | (all) | {len(seeds)} | | | | | | needs {MIN_PAIRS} pairs |")
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            row = judge_metric(
                [par[s][name]["value"] for s in seeds],
                [chg[s][name]["value"] for s in seeds],
                m["better"] == "higher", m["bound"],
            )
            any_worse |= row["verdict"] == "worse"
            par_q, chg_q = ("/".join(f"{x:.4g}" for x in row[s]) for s in ("parent", "change"))
            print(
                f"| {workload} | {name} ({m['unit']}) | {row['pairs']} "
                f"| {par_q} | {chg_q} "
                f"| {row['wins']}/{row['pairs']} | {row['spread']:.3f} "
                f"| {m['bound']} | {row['verdict']} |"
            )
    return 1 if any_worse else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run alternating parent/change pairs")
    c.add_argument("--parent", required=True, help="checkout of the parent commit")
    c.add_argument("--change", required=True, help="checkout of the change")
    c.add_argument("--pairs", type=int, default=MIN_PAIRS)
    c.add_argument("--seed0", type=int, default=1000)
    c.add_argument("--workloads", help="comma-separated subset (default: all)")
    c.add_argument("--out", required=True, help="JSON-lines file to append to")
    j = sub.add_parser("judge", help="one verdict per workload x metric")
    j.add_argument("runs", help="JSON-lines file written by collect")
    args = ap.parse_args(argv)
    if args.cmd == "collect":
        collect(args)
        return 0
    return judge(args)


if __name__ == "__main__":
    sys.exit(main())
