#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: one workload, parent vs change, seed by seed.

    python3 tools/perf_ab.py --parent DIR --change DIR --workload W --seeds A-B

For every seed, `perfbench/run.py` runs untraced in both checkouts (each
builds its own engine from its own sources) for the `run_seconds` that the
change checkout's BENCHMARK.json fixes, one after the other; which checkout
runs first alternates from seed to seed, so a drift of the host biases
neither side. Every run prints one line (pipe through `tee` to keep a log):

    RUN <parent|change> <seed> <the run's last stdout line, a JSON object>

A run with no JSON line reads `RUN <side> <seed> null`. After the last seed
the summary follows: per metric, the median of each side, their ratio
(change / parent), the parent's quartile spread as a share of its median, the
change's quartile spread as a share of the parent's median (what the
benchmark holds against each metric's `bound`: a change that moves a metric
far must also keep its runs within that many parent units), how many seed
pairs moved the better way (from BENCHMARK.json's `better`), and the ratio of
every seed pair.

The exit status is 0 only when every run printed a result and no operation
failed; otherwise it is 1, after the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1500
SIDES = ("parent", "change")


def parse_seeds(spec):
    """"21-26" -> [21..26]; "3" -> [3]; "1,5,9" -> [1, 5, 9]."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def order(i):
    """Which checkout runs first for the i-th seed."""
    return SIDES if i % 2 == 0 else SIDES[::-1]


def benchmark(checkout):
    """A checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench):
    """{metric: "lower"|"higher"} from a BENCHMARK.json object."""
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def command(checkout, workload, seed, seconds):
    """The perfbench invocation of one untraced run."""
    return [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]


def run_one(checkout, workload, seed, seconds):
    """The result object of one run, or None when it printed none."""
    try:
        proc = subprocess.run(command(checkout, workload, seed, seconds), cwd=checkout,
                              capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perf_ab: {checkout} seed {seed} timed out", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-3000:])
        print(f"perf_ab: {checkout} seed {seed} exited {proc.returncode} with no result",
              file=sys.stderr)
        return None


def spread(values, base=None):
    """Distance between the first and third quartile, as a share of `base`
    (default: the median of `values`)."""
    if len(values) < 2:
        return None
    q1, med, q3 = statistics.quantiles(values, n=4)
    base = med if base is None else base
    return (q3 - q1) / base if base else None


def complete(runs):
    """True when every run of both sides has a result and no failed operation."""
    return all(r is not None and r["failed"] == 0 for res in runs.values() for r in res.values())


def summarize(runs, better):
    """The summary's lines. Medians are over every seed a side has a result
    for; pair ratios and win counts over the seeds both sides have."""
    out = []
    for side in SIDES:
        res = runs[side]
        failed = sum(r["failed"] for r in res.values() if r)
        attempted = sum(r["attempted"] for r in res.values() if r)
        missing = sorted(s for s, r in res.items() if r is None)
        out.append(f"{side}: {len(res) - len(missing)} runs, {failed} of {attempted} operations "
                   f"failed" + (f", no result for seeds {missing}" if missing else ""))
    pairs = sorted(s for s in runs["parent"] if runs["parent"][s] and runs["change"].get(s))
    names = []
    for r in list(runs["parent"].values()) + list(runs["change"].values()):
        for k in (r or {}).get("metrics", {}):
            if k not in names:
                names.append(k)
    out.append(f"{'metric':32s} {'parent':>12s} {'change':>12s} {'ratio':>7s} {'spread':>7s} "
               f"{'c.spread':>8s} {'better':>7s}  per-seed ratio (seeds {','.join(map(str, pairs))})")
    for k in names:
        vals = {side: {s: r["metrics"][k]["value"] for s, r in runs[side].items()
                       if r and k in r["metrics"]} for side in SIDES}
        if not vals["parent"] or not vals["change"]:
            continue
        mp = statistics.median(vals["parent"].values())
        mc = statistics.median(vals["change"].values())
        ratio = f"{mc / mp:7.3f}" if mp else f"{'-':>7s}"
        sp = spread(list(vals["parent"].values()))
        csp = spread(list(vals["change"].values()), mp)
        seeds = [s for s in pairs if s in vals["parent"] and s in vals["change"]]
        per = [f"{vals['change'][s] / vals['parent'][s]:.3f}" if vals["parent"][s] else "-"
               for s in seeds]
        wins = "-"
        if k in better:
            sign = 1 if better[k] == "higher" else -1
            wins = f"{sum(sign * (vals['change'][s] - vals['parent'][s]) > 0 for s in seeds)}" \
                   f"/{len(seeds)}"
        out.append(f"{k:32s} {mp:12.6g} {mc:12.6g} {ratio} "
                   f"{(f'{sp:7.3f}' if sp is not None else '-'):>7s} "
                   f"{(f'{csp:8.3f}' if csp is not None else '-'):>8s} {wins:>7s}  {' '.join(per)}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    a = ap.parse_args()

    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    bench = benchmark(dirs["change"])
    runs = {s: {} for s in SIDES}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        for side in order(i):
            runs[side][seed] = run_one(dirs[side], a.workload, seed, bench["run_seconds"])
            print(f"RUN {side} {seed} {json.dumps(runs[side][seed])}", flush=True)
    print("\n".join(summarize(runs, directions(bench))))
    if not complete(runs):
        print("perf_ab: a run printed no result or an operation failed", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
