#!/usr/bin/env python3
"""Diff two perfbench trace files field by field.

    python3 tools/layers.py PARENT.json CHANGE.json

The trace files are the ones a traced run writes
(`python3 perfbench/run.py --workload W --seed N --trace 1` leaves
`.bench_build/trace/W-seedN.json`). For the `summary` and for every row
(a Spark run's `entries[].entry`, a connector run's `passes[]` by index)
it prints parent, change and change - parent for every field, sorted by
the absolute delta, largest first. It ends with per-field totals over the
rows of each group (the part of the entry name before `/`, e.g. `traced`
or `memo`; `pass` for connector passes). A field or row present on one
side only is shown with `-` for the other side and sorts last.
"""
import argparse
import json
import signal
import sys


def rows_of(trace):
    """(group, row name) -> {field: value}."""
    if "entries" in trace:
        out = {}
        for e in trace["entries"]:
            name = e["entry"]
            group = name.split("/", 1)[0] if "/" in name else "entry"
            out[(group, name)] = {k: v for k, v in e.items() if k != "entry"}
        return out
    return {("pass", f"pass {i}"): p for i, p in enumerate(trace.get("passes", []))}


def totals_by_group(rows):
    """group -> {field: sum over the group's rows}."""
    out = {}
    for (g, _), r in rows.items():
        t = out.setdefault(g, {})
        for k, v in r.items():
            if v is not None:  # perfbench writes NaN/Inf as null
                t[k] = t.get(k, 0) + v
    return out


def diff(parent, change):
    """[(field, p, c, delta)] for the union of fields; None where absent."""
    out = []
    for k in sorted(set(parent) | set(change)):
        p, c = parent.get(k), change.get(k)
        d = c - p if p is not None and c is not None else None
        out.append((k, p, c, d))
    return out


def by_abs_delta(rows, delta_at):
    return sorted(rows, key=lambda r: (r[delta_at] is None,
                                       -abs(r[delta_at]) if r[delta_at] is not None else 0))


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.6g}" if isinstance(v, float) and v != int(v) else str(int(v))


def table(header, rows):
    cells = [header] + [[fmt(x) if not isinstance(x, str) else x for x in r] for r in rows]
    widths = [max(len(r[i]) for r in cells) for i in range(len(header))]
    return "\n".join("  ".join(c.ljust(w) if i < len(header) - 3 else c.rjust(w)
                               for i, (c, w) in enumerate(zip(r, widths))) for r in cells)


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args()
    with open(a.parent) as f:
        par = json.load(f)
    with open(a.change) as f:
        chg = json.load(f)
    if par.get("workload") != chg.get("workload"):
        print(f"note: workloads differ ({par.get('workload')} vs {chg.get('workload')})", file=sys.stderr)
    print(f"workload {chg.get('workload')}: parent seed {par.get('seed')}, change seed {chg.get('seed')}")

    print("\n== summary")
    print(table(["field", "parent", "change", "delta"],
                by_abs_delta(diff(par.get("summary", {}), chg.get("summary", {})), 3)))

    prow, crow = rows_of(par), rows_of(chg)
    keys = sorted(set(prow) | set(crow))
    per_row = [(name, k, p, c, d) for (g, name) in keys
               for (k, p, c, d) in diff(prow.get((g, name), {}), crow.get((g, name), {}))]
    per_row = by_abs_delta(per_row, 4)
    print("\n== rows")
    print(table(["row", "field", "parent", "change", "delta"], per_row))

    print("\n== totals")
    ptot, ctot = totals_by_group(prow), totals_by_group(crow)
    totals = [(g, k, p, c, d) for g in sorted(set(ptot) | set(ctot))
              for (k, p, c, d) in diff(ptot.get(g, {}), ctot.get(g, {}))]
    print(table(["group", "field", "parent", "change", "delta"], by_abs_delta(totals, 4)))


if __name__ == "__main__":
    main()
