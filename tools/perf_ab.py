#!/usr/bin/env python3
"""Interleaved A/B of the perfbench end-to-end metrics: parent vs change.

    python3 tools/perf_ab.py --parent ../parent --change . \\
        --workload feature_refresh --seeds 501-510 --out ab.jsonl
    python3 tools/perf_ab.py --summarize ab.jsonl

Each seed is one pair: both checkouts run `perfbench/run.py --trace 0`
with that seed, one after the other, and the side that runs first
alternates from pair to pair. Every run appends one line to --out (side,
seed, whether it ran first, metrics, correct, failed), so an interrupted comparison can
be summarized as it stands. The summary gives, per metric, each side's
median and quartiles, the pairs the change won (ties count for neither),
and whether the gain rule holds: the change wins at least 9 of 10 pairs
and the medians differ by more than the parent's interquartile range.
Runs that fail a check or report failed operations are listed, not
dropped. Each run's `named` metrics (the per-step medians the workload
reports, e.g. `clusters_s`, `containment_s`) are read from its record,
`.perfbench_results/<workload>-seed<n>-trace0.json`, and the summary
prints their medians per side, so a change to one step can be seen
moving that step and leaving the others flat.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

METRICS = ("iteration_s", "cpu_s", "setup_s")  # all lower-is-better


def seeds(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        r = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "failed": None, "metrics": {}, "named": {}, "exit": p.returncode}
    try:
        record = json.loads((checkout / ".perfbench_results"
                             / f"{workload}-seed{seed}-trace0.json").read_text())
        named = {k: v["value"] for k, v in record["named"].items()}
    except (OSError, ValueError, KeyError):
        named = {}
    return {"correct": r["correct"], "failed": r["failed"],
            "metrics": {k: v["value"] for k, v in r["metrics"].items()}, "named": named,
            "exit": p.returncode}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(rows) -> int:
    by = {}
    for r in rows:
        by.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by.values() if "parent" in p and "change" in p]
    bad = [r for r in rows if not r["correct"] or r["failed"]]
    print(f"{len(pairs)} complete pairs; runs failing a check or an op: {len(bad)}")
    for r in bad:
        print(f"  {r['side']} seed {r['seed']}: correct={r['correct']} failed={r['failed']}")
    print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'delta':>8} {'wins':>7}  rule")
    for m in METRICS:
        ok = [p for p in pairs if m in p["parent"]["metrics"] and m in p["change"]["metrics"]]
        if not ok:
            continue
        a = [p["parent"]["metrics"][m] for p in ok]
        b = [p["change"]["metrics"][m] for p in ok]
        wins = sum(1 for p in ok if p["change"]["metrics"][m] < p["parent"]["metrics"][m])
        qa, qb = quartiles(a), quartiles(b)
        delta = (qb[1] - qa[1]) / qa[1]
        holds = wins * 10 >= 9 * len(ok) and qa[1] - qb[1] > qa[2] - qa[0]
        fmt = lambda q: "/".join(f"{x:.2f}" for x in q)
        print(f"{m:<12} {fmt(qa):>26} {fmt(qb):>26} {delta:>+7.1%} {wins:>3}/{len(ok):<3}  "
              f"{'gain' if holds else 'no gain'}")
    named = sorted({k for p in pairs for side in p.values() for k in side.get("named", {})}
                   - set(METRICS))
    if named:
        print(f"{'named':<20} {'parent med':>10} {'change med':>10} {'delta':>8}")
    for k in named:
        a = [p["parent"]["named"][k] for p in pairs if k in p["parent"].get("named", {})]
        b = [p["change"]["named"][k] for p in pairs if k in p["change"].get("named", {})]
        if a and b:
            ma, mb = statistics.median(a), statistics.median(b)
            delta = f"{(mb - ma) / ma:>+7.1%}" if ma else f"{'-':>8}"
            print(f"{k:<20} {ma:>10.3f} {mb:>10.3f} {delta}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", type=Path)
    ap.add_argument("--change", type=Path)
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 501-510 or 501,505-507")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", type=Path)
    ap.add_argument("--summarize", type=Path)
    a = ap.parse_args()
    if a.summarize:
        return summarize([json.loads(l) for l in a.summarize.read_text().splitlines() if l.strip()])
    if not (a.parent and a.change and a.workload and a.seeds and a.out):
        ap.error("--parent, --change, --workload, --seeds and --out are required")
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            r = run(a.parent if side == "parent" else a.change, a.workload, seed, a.seconds)
            r.update(side=side, seed=seed, first=(pos == 0), workload=a.workload)
            with a.out.open("a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"seed {seed} {side}: {r['metrics']} correct={r['correct']}", flush=True)
    return summarize([json.loads(l) for l in a.out.read_text().splitlines() if l.strip()])


if __name__ == "__main__":
    sys.exit(main())
