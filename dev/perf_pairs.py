#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

    python3 dev/perf_pairs.py --parent ../parent --workload enrich_latency \\
        --seeds 1-10 --seconds 10 --trace 0

For each seed it runs `python3 perfbench/run.py` once in each checkout,
alternating which side goes first, and parses the JSON each run prints
last, and the loadavg just before each run (printed per seed, stored
with the run). It then prints, for every metric the runs report, each side's
median and quartiles, the change's median relative to the parent's,
and how many pairs the change won (ties count for neither side), plus
`correct` and `failed` per side. Which way is better, and each
end-to-end metric's bound, come from the change checkout's
BENCHMARK.json; every end-to-end metric also gets a verdict (see
`verdict`).

It reads perfbench/ and BENCHMARK.json and changes neither; the Spark
runs are the ones perfbench/run.py starts. --out writes every run and
the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    """'1-5,9' -> [1, 2, 3, 4, 5, 9]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "attempted": None, "failed": 1, "metrics": {},
                "error": f"exit {p.returncode}, no result line"}


def run_pair(sides, order, seed, run, loadavg=os.getloadavg):
    """One seed's runs, `run(checkout, seed)` per side in `order`. Each
    run's record also holds the 1/5/15-minute loadavg taken just before
    it started, so a slow run on a busy box can be told from a slow
    change."""
    pair = {"seed": seed, "first": order[0]}
    for side in order:
        load = [round(x, 2) for x in loadavg()]
        pair[side] = dict(run(sides[side], seed), loadavg=load)
    return pair


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(pairs, better, bound):
    """One end-to-end metric's verdict over aligned (parent, change) pairs.

    `bound` is the relative worsening BENCHMARK.json allows (0.25 = 25 %
    of the parent's median). In order:
      worse         the change's median is worse than the parent's by
                    more than the bound;
      unresolved    the parent's IQR/median is wider than the bound,
                    unless every change run beats every parent run;
      gain          the change wins at least 9/10 of the pairs (ties
                    count for neither side) and the medians differ, in
                    the better direction, by more than the parent's IQR;
      within bound  none of the above.
    """
    par = [a for a, _ in pairs]
    chg = [b for _, b in pairs]
    p_q1, p_med, p_q3 = quartiles(par)
    c_med = statistics.median(chg)
    sign = 1 if better == "lower" else -1
    improvement = sign * (p_med - c_med)
    if p_med and -improvement / abs(p_med) > bound:
        return "worse"
    all_beat = max(chg) < min(par) if better == "lower" else min(chg) > max(par)
    if p_med and (p_q3 - p_q1) / abs(p_med) > bound and not all_beat:
        return "unresolved"
    wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
    if wins >= 0.9 * len(pairs) and improvement > p_q3 - p_q1:
        return "gain"
    return "within bound"


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: (m["better"], m.get("bound"))
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def summarize(pairs, better):
    names = sorted({n for pr in pairs for side in ("parent", "change")
                    for n in pr[side].get("metrics", {})})
    rows = []
    for name in names:
        got = [(pr["parent"]["metrics"].get(name, {}).get("value"),
                pr["change"]["metrics"].get(name, {}).get("value")) for pr in pairs]
        got = [(a, b) for a, b in got if a is not None and b is not None]
        if not got:
            continue
        direction, bound = better.get(name, ("lower", None))
        par = quartiles([a for a, _ in got])
        chg = quartiles([b for _, b in got])
        wins = sum(1 for a, b in got if (b < a if direction == "lower" else b > a))
        ratio = chg[1] / par[1] if par[1] else float("nan")
        rows.append({"metric": name, "better": direction, "bound": bound, "pairs": len(got),
                     "parent_q1_median_q3": par, "change_q1_median_q3": chg,
                     "change_over_parent": ratio, "change_wins": wins,
                     "parent_iqr": par[2] - par[0], "median_delta": chg[1] - par[1],
                     "verdict": verdict(got, direction, bound) if bound is not None else None})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,11")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    better = directions(sides["change"])
    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = run_pair(sides, order, seed, lambda checkout, s: run_once(checkout, args, s))
        pairs.append(pair)
        brief = {s: {k: round(v["value"], 3) for k, v in pair[s].get("metrics", {}).items()
                     if k in ("setup_s", "pass_s", "rate_per_s")} for s in ("parent", "change")}
        print(f"seed {seed} ({order[0]} first): parent {brief['parent']} "
              f"correct={pair['parent'].get('correct')} failed={pair['parent'].get('failed')} "
              f"load={pair['parent']['loadavg'][0]} | "
              f"change {brief['change']} correct={pair['change'].get('correct')} "
              f"failed={pair['change'].get('failed')} load={pair['change']['loadavg'][0]}", flush=True)

    rows = summarize(pairs, better)
    print(f"\n{args.workload}, {len(pairs)} pairs, --seconds {args.seconds} --trace {args.trace}")
    print(f"{'metric':34} {'better':6} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'chg/par':>8} {'wins':>6}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{r['metric']:34} {r['better']:6} {fmt(r['parent_q1_median_q3']):>30} "
              f"{fmt(r['change_q1_median_q3']):>30} {r['change_over_parent']:8.3f} "
              f"{r['change_wins']:>3}/{r['pairs']}  {r['verdict'] or ''}")
    for side in ("parent", "change"):
        print(f"{side}: correct {sum(bool(p[side].get('correct')) for p in pairs)}/{len(pairs)}, "
              f"failed {sum(p[side].get('failed') or 0 for p in pairs)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "parent": sides["parent"], "change": sides["change"],
                       "pairs": pairs, "summary": rows}, f, indent=1)


if __name__ == "__main__":
    main()
