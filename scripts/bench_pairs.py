"""Interleaved parent/change pairs of one perfbench workload.

Usage:
  python3 scripts/bench_pairs.py --parent DIR --change DIR --workload ingest_gate \
      --pairs 10 --seed0 9941 [--seconds 15] [--claim throughput_per_s] [--out runs.json]
  python3 scripts/bench_pairs.py --load runs.json [--claim throughput_per_s]

Each DIR is a checkout holding `perfbench/run.py` and `BENCHMARK.json`
(a `git archive` of the parent commit beside the working tree, say).
Pair i runs seed `seed0 + i` untraced on both sides, one run at a time;
even pairs run the parent first, odd pairs the change first, so a drift
of the host over the session does not favour one side. Each run builds
its own checkout (perfbench/build.py) in that checkout's build directory.

For every end-to-end metric of BENCHMARK.json it prints the parent's
median and quartiles, the change's median and quartiles, the relative
gap of the medians, how many pairs the change wins (better by the
metric's own direction), and whether the change's median is worse than
the parent's by more than the metric's bound. A metric named by
`--claim` is also held to the gain rule: the change wins at least 9 of
every 10 pairs, and its median is better than the parent's by more than
the parent's interquartile range. Runs that exit nonzero count as
failures and take no part in the statistics. The exit status is 1 when a
bound is exceeded, a run failed, or a claim does not hold.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def quartiles(xs):
    """(q1, median, q3) of a non-empty sample; the inclusive method, so
    two samples give their own min and max as the outer quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_one(checkout, workload, seed, seconds):
    """One untraced run; returns {metric: value}, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"{checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}\n")
        return {"seed": seed, "ok": False, "wall_s": wall}
    last = json.loads(lines[-1])
    return {"seed": seed, "ok": bool(last["correct"]), "wall_s": wall,
            "attempted": last["attempted"], "failed": last["failed"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()}}


def run_pairs(args):
    runs = {"workload": args.workload, "parent": [], "change": [],
            "benchmark": os.path.join(os.path.abspath(args.change), "BENCHMARK.json")}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_one(getattr(args, side), args.workload, seed, args.seconds)
            runs[side].append(r)
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                  f"{'ok' if r['ok'] else 'FAILED'} in {r['wall_s']:.0f} s", flush=True)
    return runs


def better(direction, a, b):
    """Whether `a` is better than `b` for a metric with `direction`."""
    return a > b if direction == "higher" else a < b


def report(runs, claims):
    with open(runs["benchmark"]) as f:
        e2e = json.load(f)["end_to_end"]
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p["ok"] and c["ok"]]
    failed = sum(not r["ok"] for r in runs["parent"] + runs["change"])
    attempted = {s: sum(r.get("attempted", 0) for r in runs[s]) for s in ("parent", "change")}
    failed_ops = {s: sum(r.get("failed", 0) for r in runs[s]) for s in ("parent", "change")}
    print(f"{runs['workload']}: {len(pairs)} complete pairs, {failed} failed runs; failed operations "
          f"parent {failed_ops['parent']}/{attempted['parent']}, "
          f"change {failed_ops['change']}/{attempted['change']}")
    ok = failed == 0 and bool(pairs)
    for m in e2e:
        name, direction, bound = m["name"], m["better"], m["bound"]
        par = [p["metrics"][name] for p, _ in pairs if name in p["metrics"]]
        chg = [c["metrics"][name] for _, c in pairs if name in c["metrics"]]
        if not par or len(par) != len(chg):
            continue
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(better(direction, c, p) for p, c in zip(par, chg))
        gap = (cmed - pmed) / pmed if pmed else math.inf
        worse = -gap if direction == "higher" else gap
        line = (f"  {name:18s} parent {pmed:.4g} [{pq1:.4g}-{pq3:.4g}]  change {cmed:.4g} "
                f"[{cq1:.4g}-{cq3:.4g}]  {gap:+.1%}  change wins {wins}/{len(par)}")
        if worse > bound:
            line += f"  WORSE beyond bound {bound}"
            ok = False
        if name in claims:
            need = math.ceil(0.9 * len(par))
            iqr = pq3 - pq1
            holds = wins >= need and better(direction, cmed, pmed) and abs(cmed - pmed) > iqr
            line += (f"  claim {'HOLDS' if holds else 'FAILS'} "
                     f"(wins {wins} >= {need}, gap {abs(cmed - pmed):.4g} > parent IQR {iqr:.4g})")
            ok = ok and holds
        print(line)
    walls = {s: [round(r["wall_s"]) for r in runs[s]] for s in ("parent", "change")}
    print(f"  wall per run, parent: {walls['parent']}; change: {walls['change']}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", choices=("curate_batch", "relational_batch", "ingest_gate"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--claim", action="append", default=[],
                    help="end-to-end metric held to the gain rule (repeatable)")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    ap.add_argument("--load", help="report on runs written by --out instead of running")
    args = ap.parse_args()
    if args.load:
        with open(args.load) as f:
            runs = json.load(f)
    else:
        if not (args.parent and args.change and args.workload and args.seed0 is not None):
            ap.error("--parent, --change, --workload and --seed0 are required without --load")
        if args.pairs < 1:
            ap.error("--pairs must be at least 1")
        runs = run_pairs(args)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(runs, f, indent=1)
    return 0 if report(runs, set(args.claim)) else 1


if __name__ == "__main__":
    sys.exit(main())
