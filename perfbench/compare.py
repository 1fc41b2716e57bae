#!/usr/bin/env python3
"""Compare a parent checkout with a change checkout on the benchmark.

    python3 perfbench/compare.py --parent <dir> --change <dir> [--pairs 10]
        [--workloads a,b] [--seed 1000] [--out <dir>]
    python3 perfbench/compare.py --analyse <out dir>

Runs `perfbench/run.py` in both checkouts as alternating pairs (the parent
goes first in even pairs, the change in odd ones; both sides of a pair
use the same seed), stores every result under --out, and prints one row
per workload. Metrics, directions and bounds come from the parent's
BENCHMARK.json. Per metric:

  win         the change is better in at least 9 of 10 pairs (ties count
              for neither) and the medians differ by more than the
              parent's interquartile range;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's interquartile range exceeds the bound, unless
              every change run beats every parent run;
  same        otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "error": p.returncode}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change):
    """parent and change are lists of values, index i from pair i."""
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(better(c, p) for c, p in zip(change, parent))
    gap = (cm - pm) if not lower else (pm - cm)  # > 0 means the change is better
    bound = metric.get("bound")
    if wins >= 0.9 * len(parent) and gap > (p3 - p1):
        v = "win"
    elif bound is not None and pm and -gap / abs(pm) > bound:
        v = "regression"
    elif bound is not None and pm and (p3 - p1) / abs(pm) > bound and not all(
            better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "same"
    return {"verdict": v, "wins": wins, "pairs": len(parent),
            "parent": [p1, pm, p3], "change": [c1, cm, c3]}


def analyse(out, spec):
    rows = []
    for wl in spec["workloads"]:
        name = wl["name"]
        d = out / name
        pairs = sorted({int(p.stem.split("-")[1]) for p in d.glob("*.json")}) if d.is_dir() else []
        if not pairs:
            rows.append(f"{name}: no runs")
            continue
        res = {side: [json.loads((d / f"{side}-{i}.json").read_text()) for i in pairs]
               for side in ("parent", "change")}
        bad = {side: sum(not r.get("correct") for r in rs) for side, rs in res.items()}
        cells = []
        for m in spec["end_to_end"]:
            ok = [i for i in range(len(pairs))
                  if m["name"] in res["parent"][i]["metrics"] and m["name"] in res["change"][i]["metrics"]]
            if not ok:
                cells.append(f"{m['name']}=missing")
                continue
            par = [res["parent"][i]["metrics"][m["name"]]["value"] for i in ok]
            chg = [res["change"][i]["metrics"][m["name"]]["value"] for i in ok]
            v = verdict(m, par, chg)
            cells.append(f"{m['name']}={v['verdict']} ({v['wins']}/{v['pairs']} pairs; "
                         f"parent {v['parent'][1]:.4g} [{v['parent'][0]:.4g}, {v['parent'][2]:.4g}], "
                         f"change {v['change'][1]:.4g} [{v['change'][0]:.4g}, {v['change'][2]:.4g}] {m['unit']})")
        rows.append(f"{name}: incorrect parent={bad['parent']} change={bad['change']}; " + "; ".join(cells))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default all")
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--out", default="compare-out")
    ap.add_argument("--analyse", help="only analyse results stored in this directory")
    a = ap.parse_args()
    if a.analyse:
        out = Path(a.analyse)
        spec = json.loads((out / "BENCHMARK.json").read_text())
    else:
        if not (a.parent and a.change):
            ap.error("--parent and --change are required unless --analyse is given")
        if a.pairs < 10:
            print("note: fewer than 10 pairs cannot establish a win", file=sys.stderr)
        out = Path(a.out)
        spec = json.loads((Path(a.parent) / "BENCHMARK.json").read_text())
        out.mkdir(parents=True, exist_ok=True)
        (out / "BENCHMARK.json").write_text(json.dumps(spec, indent=2))
        names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
        spec["workloads"] = [w for w in spec["workloads"] if w["name"] in names]
        for wl in spec["workloads"]:
            d = out / wl["name"]
            d.mkdir(exist_ok=True)
            for i in range(a.pairs):
                sides = [("parent", a.parent), ("change", a.change)]
                for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                    r = run_one(checkout, wl["name"], a.seed + i, spec["run_seconds"])
                    (d / f"{side}-{i}.json").write_text(json.dumps(r) + "\n")
                    print(f"[compare] {wl['name']} pair {i} {side} correct={r.get('correct')}",
                          file=sys.stderr)
    for row in analyse(out, spec):
        print(row)


if __name__ == "__main__":
    main()
