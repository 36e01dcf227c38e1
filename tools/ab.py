#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload between two checkouts.

Usage:

    python3 tools/ab.py <workload> <parent_dir> <change_dir> <seed> [<seed> ...]

For each seed, runs `python3 perfbench/run.py --workload <workload>
--seed <seed> --seconds <run_seconds> --trace 0` once in each checkout,
alternating which side goes first (the first pair starts with the
parent). The metric list and `run_seconds` come from the change's
BENCHMARK.json.

For each end-to-end metric it prints each side's median and quartiles
and the number of pairs the change won (ties count for neither side),
and whether a gain can be claimed: the change wins at least 9/10 of
the pairs, and the medians differ, in the better direction, by more
than the parent's interquartile range. It also prints each side's
median whole-run wall time, which the benchmark's time budget pays.
The last line of standard output is one JSON object with the per-pair
values and that summary.

Each checkout builds its own engine on its first run (perfbench
rebuilds when a source changed), so build time never lands inside a
measured run. A run that fails or reports `correct: false` is listed
and left out of the pair comparison.
"""
import json
import os
import statistics
import subprocess
import sys
import time

WIN_SHARE = 0.9


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    run_s = time.monotonic() - t0
    for line in reversed(p.stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            return dict(obj, run_s=run_s)
    tail = p.stderr.strip().splitlines()[-1:] or [f"exit {p.returncode}"]
    return {"error": tail[0], "run_s": run_s}


def quartiles(xs):
    if not xs:
        return (float("nan"),) * 3
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metric, pairs):
    """pairs: [(parent_value, change_value)] of the comparable pairs."""
    lower = metric.get("better", "lower") == "lower"
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    losses = sum(1 for p, c in pairs if (c > p if lower else c < p))
    pq, cq = quartiles(par), quartiles(chg)
    iqr = pq[2] - pq[0]
    gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    claim = len(pairs) > 0 and wins >= WIN_SHARE * len(pairs) and gain > iqr
    return {
        "metric": metric["name"], "unit": metric.get("unit", ""), "better": "lower" if lower else "higher",
        "pairs": len(pairs), "change_wins": wins, "change_losses": losses,
        "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
        "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
        "parent_iqr": iqr, "median_gain": gain,
        "delta_frac": (cq[1] - pq[1]) / pq[1] if pq[1] else None,
        "claim_holds": claim,
    }


def main(argv):
    if len(argv) < 5:
        sys.exit(__doc__)
    workload, parent, change, seeds = argv[1], argv[2], argv[3], [int(s) for s in argv[4:]]
    with open(os.path.join(change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    seconds = bench["run_seconds"]

    runs = []  # (seed, parent_result, change_result)
    for i, seed in enumerate(seeds):
        order = [("parent", parent), ("change", change)]
        if i % 2 == 1:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, workload, seed, seconds)
            r = got[side]
            status = r.get("error") or f"correct={r['correct']} op_wall_s={r['metrics']['op_wall_s']['value']:.3f}"
            print(f"seed {seed} {side}: {status}", file=sys.stderr, flush=True)
        runs.append((seed, got["parent"], got["change"]))

    def ok(r):
        return "error" not in r and r.get("correct") is True and r.get("failed", 0) == 0

    bad = [(seed, side) for seed, p, c in runs for side, r in (("parent", p), ("change", c)) if not ok(r)]
    good = [(seed, p, c) for seed, p, c in runs if ok(p) and ok(c)]
    summary = []
    for m in metrics:
        pairs = [(p["metrics"][m["name"]]["value"], c["metrics"][m["name"]]["value"]) for _, p, c in good
                 if m["name"] in p["metrics"] and m["name"] in c["metrics"]]
        summary.append(summarize(m, pairs))

    print(f"{workload}: {len(good)} comparable pairs of {len(runs)}"
          + (f"; failed or incorrect runs: {bad}" if bad else ""))
    print(f"{'metric':<18}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}{'delta':>9}{'wins':>7}  claim")
    for s in summary:
        p, c = s["parent"], s["change"]
        delta = f"{100 * s['delta_frac']:+.1f}%" if s["delta_frac"] is not None else "n/a"
        print(f"{s['metric']:<18}{p['q1']:>9.3f} {p['median']:>8.3f} {p['q3']:>8.3f}"
              f"{c['q1']:>10.3f} {c['median']:>8.3f} {c['q3']:>8.3f}{delta:>9}"
              f"{s['change_wins']:>4}/{s['pairs']:<2}  {'holds' if s['claim_holds'] else 'no'}")
    # whole-run wall time (JVM start to exit, plus a build on a side's
    # first run when its sources changed): the benchmark's time budget
    runs_s = {side: statistics.median(r[i]["run_s"] for r in runs) for i, side in ((1, "parent"), (2, "change"))}
    print(f"whole run (median s): parent {runs_s['parent']:.1f}, change {runs_s['change']:.1f}")
    print(json.dumps({
        "workload": workload, "seeds": seeds, "failed_runs": bad, "summary": summary, "run_s_median": runs_s,
        "pairs": [{"seed": seed, "parent": {m["name"]: p.get("metrics", {}).get(m["name"], {}).get("value")
                                            for m in metrics},
                   "change": {m["name"]: c.get("metrics", {}).get(m["name"], {}).get("value") for m in metrics}}
                  for seed, p, c in runs],
    }, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv)
