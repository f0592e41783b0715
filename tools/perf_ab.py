#!/usr/bin/env python3
"""Paired A/B runs of perfbench between a parent and a change checkout.

    python3 tools/perf_ab.py PARENT CHANGE --workload connector_rw \\
        --pairs 10 [--seed0 1] [--trace 0] [--out ab.json]

Pair i runs `perfbench/run.py --workload W --seed seed0+i` once in each
checkout, parent first on even i and change first on odd i, so neither
side always gets the warmer machine. Both sides run for the
`run_seconds` of the change checkout's BENCHMARK.json. Each checkout builds and prepares its
own golden digests on its first run (perfbench caches both per source
hash); run each side once before timing if that build should stay out of
the pairs. This tool only invokes perfbench/run.py; it edits nothing.

For every metric it prints each side's median and quartiles, how many
pairs the change won (ties, and pairs where either side gave no value,
count for neither side) and the parent's IQR, and flags a gain when the
change won at least 9 of every 10 pairs run, the medians differ by more
than the parent's IQR and the change had no more bad runs (no result, a
non-zero exit, failed ops or a wrong result) than the parent. With --trace 1 the metrics
are the per-layer ones of the traced run. The JSON written to --out holds
every run and the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                       timeout=1800)
    rec = {"seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t0, 1)}
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        rec.update(correct=out["correct"], attempted=out["attempted"],
                   failed=out["failed"],
                   metrics={k: v["value"] for k, v in out["metrics"].items()})
    except (IndexError, ValueError, KeyError):
        rec["error"] = p.stderr[-2000:]
    return rec


def benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench):
    """metric -> (better, bound) from a parsed BENCHMARK.json."""
    return {m["name"]: (m["better"], m.get("bound"))
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def bad(rec):
    return ("metrics" not in rec or rec["rc"] != 0 or not rec["correct"]
            or rec["failed"] > 0)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs, dirs):
    names = sorted({k for pr in pairs for s in ("parent", "change")
                    for k in pr[s].get("metrics", {})})
    bad_runs = {s: sum(bad(pr[s]) for pr in pairs) for s in ("parent", "change")}
    out = {}
    for name in names:
        better, bound = dirs.get(name, ("lower", None))
        vals = [(pr["parent"].get("metrics", {}).get(name),
                 pr["change"].get("metrics", {}).get(name)) for pr in pairs]
        par = [a for a, _ in vals if a is not None]
        chg = [b for _, b in vals if b is not None]
        if not par or not chg:
            continue
        both = [(a, b) for a, b in vals if a is not None and b is not None]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for a, b in both if sign * (b - a) > 0)
        losses = sum(1 for a, b in both if sign * (b - a) < 0)
        pq, cq = quartiles(par), quartiles(chg)
        iqr = pq[2] - pq[0]
        delta = sign * (cq[1] - pq[1])  # > 0: the change is better
        worse = -delta / abs(pq[1]) if pq[1] else 0.0
        out[name] = {
            "better": better, "bound": bound, "n_pairs": len(pairs),
            "n_parent": len(par), "n_change": len(chg),
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "change_wins": wins, "change_losses": losses, "parent_iqr": iqr,
            "median_change_ratio": (cq[1] / pq[1]) if pq[1] else None,
            "gain": (wins * 10 >= 9 * len(pairs) and delta > iqr
                     and bad_runs["change"] <= bad_runs["parent"]),
            "worse_beyond_bound": bound is not None and worse > bound,
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    bench = benchmark(sides["change"])
    seconds = bench["run_seconds"]

    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pr = {"first": order[0]}
        for side in order:
            pr[side] = run_once(sides[side], a.workload, seed, seconds, a.trace)
            r = pr[side]
            m = r.get("metrics", {})
            key = "setup_s" if "setup_s" in m else "warehouse.register_s"
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side:6s} rc={r['rc']} "
                  f"wall={r['wall_s']}s "
                  + (f"{key}={m.get(key)}" if m else "NO RESULT"),
                  file=sys.stderr, flush=True)
        pairs.append(pr)

    summary = summarize(pairs, directions(bench))
    print(f"{a.workload}, trace {a.trace}, {a.pairs} pairs, seeds "
          f"{a.seed0}-{a.seed0 + a.pairs - 1}, {seconds} s runs")
    print(f"{'metric':34s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'wins':>6s} {'p.IQR':>9s}  verdict")
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        verdict = "GAIN" if s["gain"] else (
            "WORSE>bound" if s["worse_beyond_bound"] else "-")
        print(f"{name:34s} {p['q1']:9.4g}/{p['median']:9.4g}/{p['q3']:9.4g} "
              f"{c['q1']:9.4g}/{c['median']:9.4g}/{c['q3']:9.4g} "
              f"{s['change_wins']:3d}/{s['n_pairs']:<2d} {s['parent_iqr']:9.3g}  {verdict}")
    failed = [(i, side) for i, pr in enumerate(pairs) for side in ("parent", "change")
              if bad(pr[side])]
    if failed:
        print(f"bad runs (pair, side): {failed}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace,
                       "seconds": seconds, "seed0": a.seed0,
                       "pairs": pairs, "summary": summary}, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
