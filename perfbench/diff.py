#!/usr/bin/env python3
"""Compares two traced benchmark reports span by span.

  python3 perfbench/diff.py BEFORE.json AFTER.json

Reports are the JSON files a `--trace 1` run writes (its path is printed on
the `# report` line). Spans are grouped by name and phase (setup or
measured). For each group whose mean self time moved, the script prints the
per-call deltas of self time and of the listener counters charged to it,
and a verdict: "plan changed" when the span's Spark job or stage count per
call differs, otherwise "same plan, layer X moved" with the counters that
moved most. Per-layer metrics that moved follow.
"""
import argparse
import json
import sys

COUNTERS = ["driver_only_s", "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_fetch_wait_s",
            "shuffle_write_mb", "shuffle_read_mb", "input_mb", "output_mb", "spill_mb", "tasks"]


def load(path):
    with open(path) as f:
        r = json.load(f)
    if not r.get("trace"):
        raise SystemExit(f"{path}: not a traced report (run with --trace 1)")
    return r


def layer_of(name):
    """The layer a span belongs to: `core.*` and `operators.*` spans name
    their module in the second part (core.dag, operators.graph), the others
    in the first (queries, streaming, em, ...)."""
    parts = name.split(".")
    return ".".join(parts[:2]) if parts[0] in ("core", "operators") and len(parts) > 1 else parts[0]


def groups(report):
    """(phase, span name) -> per-call means of self time and counters."""
    first = report.get("first_measured_trace") or 0
    acc = {}
    for s in report["spans"]:
        key = ("measured" if s["trace"] >= first else "setup", s["name"])
        g = acc.setdefault(key, {"calls": 0, "self_s": 0.0, "jobs": 0.0, "stages": 0.0,
                                 **{c: 0.0 for c in COUNTERS}})
        g["calls"] += 1
        g["self_s"] += s["self_s"]
        for c in ["jobs", "stages"] + COUNTERS:
            g[c] += s[c]
    for g in acc.values():
        for k in list(g):
            if k != "calls":
                g[k] /= g["calls"]
    return acc


def compare(before, after, min_delta_s=0.02):
    """One row per span group whose self time moved or whose plan changed."""
    a, b = groups(before), groups(after)
    rows = []
    for key in sorted(set(a) | set(b)):
        x, y = a.get(key), b.get(key)
        if x is None or y is None:
            rows.append({"phase": key[0], "span": key[1], "delta_self_s": None,
                         "verdict": "span only in " + ("after" if x is None else "before")})
            continue
        d_self = y["self_s"] - x["self_s"]
        plan = round(x["jobs"], 2) != round(y["jobs"], 2) or round(x["stages"], 2) != round(y["stages"], 2)
        if abs(d_self) < min_delta_s and not plan:
            continue
        moved = sorted(((c, y[c] - x[c]) for c in COUNTERS), key=lambda kv: -abs(kv[1]))
        if plan:
            verdict = (f"plan changed (jobs {x['jobs']:.2f}->{y['jobs']:.2f}, "
                       f"stages {x['stages']:.2f}->{y['stages']:.2f})")
        else:
            top = ", ".join(f"{c} {v:+.3g}" for c, v in moved[:3] if v)
            verdict = f"same plan, layer {layer_of(key[1])} moved" + (f" ({top})" if top else "")
        rows.append({"phase": key[0], "span": key[1], "calls": (x["calls"], y["calls"]),
                     "self_s": (x["self_s"], y["self_s"]), "delta_self_s": d_self,
                     "counters": dict(moved), "plan_changed": plan, "verdict": verdict})
    rows.sort(key=lambda r: -abs(r["delta_self_s"] or 0.0))
    return rows


def layer_moves(before, after, min_rel=0.05):
    out = []
    for k, v in after.get("per_layer", {}).items():
        old = before.get("per_layer", {}).get(k, {}).get("value")
        new = v["value"]
        if old is None or old == new:
            continue
        rel = (new - old) / abs(old) if old else float("inf")
        if abs(rel) >= min_rel:
            out.append((k, old, new, v["unit"], rel))
    return sorted(out, key=lambda t: -abs(t[4]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    before, after = load(args.before), load(args.after)
    if before["workload"] != after["workload"]:
        raise SystemExit("reports are for different workloads")
    print(f"# {before['workload']}: {before['stamp']['commit']} -> {after['stamp']['commit']}")
    for k, v in after["end_to_end"].items():
        old = before["end_to_end"][k]["value"]
        print(f"e2e {k}: {old:.6g} -> {v['value']:.6g} {v['unit']}")
    for r in compare(before, after):
        if r["delta_self_s"] is None:
            print(f"span [{r['phase']}] {r['span']}: {r['verdict']}")
        else:
            print(f"span [{r['phase']}] {r['span']}: self {r['self_s'][0]:.4g} -> {r['self_s'][1]:.4g} s "
                  f"({r['delta_self_s']:+.4g} s per call): {r['verdict']}")
    for k, old, new, unit, rel in layer_moves(before, after):
        print(f"layer {k}: {old:.6g} -> {new:.6g} {unit} ({rel:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
