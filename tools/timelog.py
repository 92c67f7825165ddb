#!/usr/bin/env python3
"""Merge the TIME lines `graft.tools.Profile time` prints (the logs
tools/sweep_quiet.sh writes) into the repo's timing artifacts.

Usage:
  tools/timelog.py floors <committed.json> <log> [...more logs] <out.json>
  tools/timelog.py scale <out.json> <label>=<log[,log...]> <label>=<log[,log...]> [...]

floors  Min-merge warm medians into a QUIET_MEDIANS-shaped `medians_sec`
        JSON. Across the logs, a later TIME line for a query overrides an
        earlier one (re-measurement: chunked sweep first, then
        single-query re-runs). The result replaces a committed floor only
        when it is lower: floors never inflate. `cpu_medians_sec` follows
        the winning wall time; a query whose floor held keeps its
        committed cpu entry.

scale   Base/scaled ratio report over two or more scale points (the first
        is the base), e.g. `1x=base.log 10x=sf1.log 30x=sf3.log`. The
        estimator is the MIN over every rep in every log of a point: on a
        host whose steal time the guest cannot see, the least-throttled
        rep is the closest proxy for the machine's real capability.
        Queries whose last-point ratio exceeds FLAG_RATIO are flagged;
        hand-written `note` entries in an existing <out.json> carry over,
        and a flagged query without one is reported.

Lines that do not parse are skipped; CHUNKFAIL markers are reported.
"""
import json
import re
import sys

# One raw literal: ProfileSpec checks Profile's output against this pattern.
LINE = re.compile(r"^TIME (\S+)\s+median=\s*([0-9.]+) s\s+reps=([0-9.,]+)\s+rows=(\d+)(?:\s+cpu=([0-9.,-]+))?\s*$")
FLAG_RATIO = 4.0


def parse_line(line):
    """(name, median, reps, rows, cpu median or None), or None if malformed.
    A cpu of -1 is the 'process CPU unavailable' sentinel, not a reading."""
    m = LINE.match(line.strip())
    if not m:
        return None
    try:
        reps = [float(x) for x in m.group(3).split(",")]
        cpus = sorted(c for c in (float(x) for x in (m.group(5) or "").split(",") if x) if c >= 0)
        return (m.group(1), float(m.group(2)), reps, int(m.group(4)),
                cpus[len(cpus) // 2] if cpus else None)
    except ValueError:
        return None


def records(paths):
    """Every well-formed TIME line of the logs, in order."""
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.startswith("CHUNKFAIL"):
                    print(f"WARNING: failed chunk in {path}: {line.strip()}", file=sys.stderr)
                rec = parse_line(line)
                if rec:
                    yield rec


def parse(paths):
    """name -> (median, reps, rows, cpu); later lines and later logs win."""
    return {rec[0]: rec[1:] for rec in records(paths)}


def floors(committed_path, logs, out_path):
    with open(committed_path) as f:
        doc = json.load(f)
    meds = dict(doc.get("medians_sec", {}))
    cpus = dict(doc.get("cpu_medians_sec", {}))
    lowered = added = 0
    for name, (median, _reps, _rows, cpu) in parse(logs).items():
        if name in meds and median >= meds[name]:
            continue
        if name in meds:
            lowered += 1
        else:
            added += 1
        meds[name] = median
        if cpu is None:
            cpus.pop(name, None)
        else:
            cpus[name] = cpu
    doc["n_queries"] = len(meds)
    doc["total_of_medians_sec"] = round(sum(meds.values()), 1)
    doc["medians_sec"] = dict(sorted(meds.items()))
    doc["cpu_medians_sec"] = dict(sorted(cpus.items()))
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=0)
        f.write("\n")
    print(f"wrote {out_path}: {lowered} floors lowered, {added} added, "
          f"{len(meds)} queries, sum {doc['total_of_medians_sec']} s")


def scale(out_path, points):
    if len(points) < 2:
        sys.exit("scale needs at least two <label>=<logs> points")
    labels, mins = [], []
    for point in points:
        label, _, logs = point.partition("=")
        best = {}
        for name, _median, reps, rows, _cpu in records(logs.split(",")):
            if name not in best or min(reps) < best[name][0]:
                best[name] = (min(reps), rows)
        labels.append(label)
        mins.append(best)
    try:
        with open(out_path) as f:
            notes = {n: q["note"] for n, q in json.load(f).get("queries", {}).items() if "note" in q}
    except (OSError, ValueError):
        notes = {}
    union = sorted(set().union(*mins))
    for label, have in zip(labels, mins):
        missing = [n for n in union if n not in have]
        if missing:
            print(f"SKIPPED at {label} (absent from its logs): {','.join(missing)}")
    queries = {}
    for name in union:
        if not all(name in m for m in mins):
            continue
        secs = [m[name][0] for m in mins]
        e = {}
        for i, label in enumerate(labels):
            e[f"sec_{label}"], e[f"rows_{label}"] = secs[i], mins[i][name][1]
            if i >= 1:
                e[f"ratio_{label}"] = round(secs[i] / secs[0], 2) if secs[0] > 0 else None
            if i >= 2:
                e[f"step_{label}_over_{labels[i - 1]}"] = (
                    round(secs[i] / secs[i - 1], 2) if secs[i - 1] > 0 else None)
        if name in notes:
            e["note"] = notes[name]
        queries[name] = e
    last = f"ratio_{labels[-1]}"
    flagged = sorted((n for n, e in queries.items() if (e[last] or 0) > FLAG_RATIO),
                     key=lambda n: -queries[n][last])
    unexplained = [n for n in flagged if "note" not in queries[n]]
    if unexplained:
        print(f"WARNING: flagged without attribution note: {', '.join(unexplained)}",
              file=sys.stderr)
    doc = {
        "what": (f"scale report over {', '.join(labels)} (base {labels[0]}): per-query "
                 "MIN of warm reps from `graft.tools.Profile time` logs; ratio_* = wall "
                 "vs base, step_* = wall vs the previous point"),
        "points": {label: p.partition("=")[2].split(",") for label, p in zip(labels, points)},
        "flag_ratio": FLAG_RATIO,
        "n_queries": len(queries),
        "flagged": flagged,
        "queries": queries,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}: {len(queries)} queries, {len(flagged)} flagged "
          f"(> {FLAG_RATIO}x): {', '.join(flagged) or 'none'}")


def main(argv):
    if len(argv) >= 5 and argv[1] == "floors":
        floors(argv[2], argv[3:-1], argv[-1])
    elif len(argv) >= 5 and argv[1] == "scale":
        scale(argv[2], argv[3:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv)
