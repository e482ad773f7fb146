#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload daily_trickle --seeds 1-10 [--workload query_mix] \\
        [--seconds 20] [--out ab.json]

For every workload and seed it runs `perfbench/run.py --trace 0` once in
each checkout, alternating which side runs first, and then prints, per
end-to-end metric of BENCHMARK.json (read from the change checkout): each
side's median and quartiles, the pairs the change wins (ties count for
neither), the median change/parent ratio, and whether the median gap
exceeds the parent's interquartile range; then, from perfbench's
`op seconds:` stderr line, each side's median seconds per op index, which
shows which op of the workload moved. Each checkout is built once before
the first pair. Exits 1 if any run is incorrect or has failed
operations, 2 if a run could not complete. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def build(checkout):
    r = subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.exit(f"ab_pairs: build failed in {checkout}:\n{r.stdout[-3000:]}")


def op_seconds(stderr):
    """Seconds per op from the last `op seconds:` line of a run's stderr."""
    found = []
    for line in stderr.splitlines():
        _, sep, rest = line.partition("op seconds:")
        if sep:
            found = [float(x) for x in rest.split()]
    return found


def run_once(checkout, workload, seed, seconds):
    """The benchmark's result line with its per-op seconds added, or None
    when the run did not finish."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"ab_pairs: {checkout} {workload} seed {seed} exited "
              f"{r.returncode}:\n{r.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["op_seconds"] = op_seconds(r.stderr)
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload, metric, pairs):
    """One report line for a metric over (parent, change) value pairs."""
    name, better = metric["name"], metric["better"]
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pq, cq = quartiles(par), quartiles(chg)
    lower = better == "lower"
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    ties = sum(1 for p, c in pairs if c == p)
    ratio = statistics.median(c / p for p, c in pairs if p)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    iqr = pq[2] - pq[0]
    holds = wins * 10 >= 9 * len(pairs) and gap > iqr
    return (f"{workload:14} {name:17} parent {pq[1]:.4g} [{pq[0]:.4g}, "
            f"{pq[2]:.4g}]  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
            f"wins {wins}/{len(pairs)} (ties {ties})  ratio {ratio:.3f}  "
            f"gap {gap:.4g} vs parent IQR {iqr:.4g}"
            f"{'  -> gain holds' if holds else ''}")


def per_op(workload, done):
    """One report line per op index: each side's median seconds."""
    lines = []
    n = min(len(r[s]["op_seconds"]) for r in done for s in ("parent", "change"))
    for i in range(n):
        par = statistics.median(r["parent"]["op_seconds"][i] for r in done)
        chg = statistics.median(r["change"]["op_seconds"][i] for r in done)
        lines.append(f"{workload:14} op {i:<13} parent {par:.3f}  "
                     f"change {chg:.3f}  ratio {chg / par if par else 0:.3f}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,301")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}
    for checkout in sides.values():
        build(checkout)

    runs, broken, bad = [], False, False
    for workload in a.workload:
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                r = run_once(sides[side], workload, seed, seconds)
                if r is None:
                    broken = True
                    continue
                if not r["correct"] or r["failed"]:
                    bad = True
                pair[side] = r
                values = {k: v["value"] for k, v in r["metrics"].items()}
                print(f"ab_pairs: {workload} seed {seed} {side}: "
                      f"correct={r['correct']} failed={r['failed']} "
                      f"{json.dumps(values)}", file=sys.stderr)
            runs.append({"workload": workload, "seed": seed,
                         "first": order[0], **pair})

    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    for workload in a.workload:
        done = [r for r in runs if r["workload"] == workload
                and "parent" in r and "change" in r]
        if not done:
            continue
        for metric in bench["end_to_end"]:
            n = metric["name"]
            print(summarize(workload, metric, [
                (r["parent"]["metrics"][n]["value"],
                 r["change"]["metrics"][n]["value"])
                for r in done]))
        for line in per_op(workload, done):
            print(line)
    if broken:
        sys.exit(2)
    if bad:
        print("ab_pairs: some run was incorrect or had failed operations",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
