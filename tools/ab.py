#!/usr/bin/env python3
"""A/B a change against its parent on one perfbench workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 901-910
        [--seconds S] [--out runs.json]

PARENT_DIR and CHANGE_DIR are two source checkouts (make the parent's with
`git archive <parent> | tar -x -C DIR`, not a worktree). For each seed the
script runs `perfbench/run.py --trace 0` in both, back to back, and
alternates which side goes first from pair to pair, so host-speed drift and
cache warmth hit both sides alike. Each checkout builds into its own
`.bench_build` (CARGO_TARGET_DIR is unset for the runs).

Per end-to-end metric of the change's BENCHMARK.json it prints each side's
median and q1-q3, the pairs the change wins and loses, the median pair ratio
(change / parent), whether the gain rule holds (at least 9 of 10 pairs won,
at least 10 pairs, and a median gap larger than the parent's q1-q3 spread),
and whether the change's median stays inside the metric's bound. A metric
whose parent q1-q3 spread, relative to the parent's median, is wider than its
bound is reported as unresolved instead, unless every change run beats every
parent run: such a spread cannot tell a change inside the bound from one
outside it. Every run that reports `correct: false` or `failed > 0`, or exits
non-zero, is listed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds):
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, env=env, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr.strip().splitlines() or [f"exit {p.returncode}"])[-1]}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric, pairs):
    """One metric over the pairs where both sides produced a value."""
    name, lower = metric["name"], metric["better"] == "lower"
    both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
            for p, c in pairs if "metrics" in p and "metrics" in c]
    if not both:
        return None
    par, chg = [b[0] for b in both], [b[1] for b in both]
    pq, cq = quartiles(par), quartiles(chg)
    wins = sum((c < p) if lower else (c > p) for p, c in both)
    losses = sum((c > p) if lower else (c < p) for p, c in both)
    ratios = [c / p for p, c in both if p]
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    gain = len(both) >= 10 and wins >= 0.9 * len(both) and gap > pq[2] - pq[0]
    worse = (cq[1] / pq[1] - 1 if lower else 1 - cq[1] / pq[1]) if pq[1] else 0.0
    spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else 0.0
    beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
    return {"metric": name, "pairs": len(both), "parent": pq, "change": cq,
            "wins": wins, "losses": losses,
            "median_ratio": statistics.median(ratios) if ratios else None,
            "gain_rule": gain, "worse_frac": worse,
            "in_bound": worse <= metric["bound"], "bound": metric["bound"],
            "spread": spread,
            "unresolved": spread > metric["bound"] and not beats_all}


def verdict(s):
    if s["unresolved"]:
        return "unresolved: the parent's q1-q3 spread is wider than the bound"
    return f"{'inside' if s['in_bound'] else 'OUTSIDE'} its bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 901-910 or 1,2,5-7")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    pairs, bad = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            r = got[side] = run(sides[side], a.workload, seed, seconds)
            if "error" in r or not r["correct"] or r["failed"] > 0:
                bad.append((seed, side, r))
        pairs.append((got["parent"], got["change"]))
        print(f"seed {seed}: ran {' then '.join(order)}", file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump([{"parent": p, "change": c} for p, c in pairs], f, indent=1)

    fmt = "{:.4g}".format
    print(f"{a.workload}, {len(pairs)} pairs, --seconds {fmt(seconds)}")
    for m in spec["end_to_end"]:
        s = summarize(m, pairs)
        if s is None:
            print(f"{m['name']}: no pair with both sides measured")
            continue
        p, c = s["parent"], s["change"]
        print(f"{s['metric']} ({m['unit']}, {m['better']} is better), {s['pairs']} pairs: "
              f"parent {fmt(p[1])} ({fmt(p[0])}-{fmt(p[2])}), "
              f"change {fmt(c[1])} ({fmt(c[0])}-{fmt(c[2])}); "
              f"change won {s['wins']}, lost {s['losses']}; "
              f"median pair ratio {fmt(s['median_ratio']) if s['median_ratio'] else 'n/a'}; "
              f"gain rule {'holds' if s['gain_rule'] else 'does not hold'}; "
              f"{verdict(s)} "
              f"(median {fmt(abs(100 * s['worse_frac']))}% "
              f"{'worse' if s['worse_frac'] > 0 else 'better or equal'}, "
              f"parent spread {fmt(100 * s['spread'])}%, "
              f"bound {fmt(100 * s['bound'])}%)")
    for seed, side, r in bad:
        what = r.get("error") or f"correct={r['correct']} failed={r['failed']}"
        print(f"BAD RUN: seed {seed} {side}: {what}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
