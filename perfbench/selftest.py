"""Harness self-test: plants a fixed delay inside one dashboard entry's
span and checks that the traced report attributes it to that span alone.

Run through `python3 perfbench/run.py --selftest [--seed n]`. It makes two
traced dashboard_reads runs with the same seed, one plain and one with
`--plant queries.a10_freshness:<ms>`, and passes when
  - the planted span's self time rose by the delay, within `TOLERANCE` of it;
  - no other span's self time moved by more than `TOLERANCE` of the delay;
  - the end-to-end dashboard load (traced and untraced) rose by the delay,
    within `TOLERANCE` of it.
The delay is about twice a plain load, so run-to-run noise in the loads
(about 10%) stays well inside the tolerance.
"""
import argparse
import os

import diff

WORKLOAD = "dashboard_reads"
SPAN = "queries.a10_freshness"
DELAY_S = 10.0
TOLERANCE = 0.25


def main(args, run):
    a = argparse.Namespace(workload=WORKLOAD, seed=args.seed, seconds=args.seconds, trace=1)
    base, base_path = run(a)
    planted, planted_path = run(a, plant=f"{SPAN}:{int(DELAY_S * 1000)}")
    print(f"# selftest: {os.path.basename(base_path)} vs {os.path.basename(planted_path)}, "
          f"{DELAY_S:.1f}s planted in {SPAN}")
    tol = TOLERANCE * DELAY_S
    ok = True

    def check(name, good, detail):
        nonlocal ok
        ok &= good
        print(f"check {name} {'ok' if good else 'FAIL'} {detail}")

    rows = {(r["phase"], r["span"]): r for r in diff.compare(base, planted, min_delta_s=0.0)}
    target = rows.get(("measured", SPAN))
    d = target["delta_self_s"] if target else None
    check("planted_span", d is not None and abs(d - DELAY_S) <= tol,
          f"{SPAN} self time moved {d if d is None else round(d, 3)} s")
    others = [(k, r["delta_self_s"]) for k, r in rows.items()
              if k != ("measured", SPAN) and r["delta_self_s"] is not None]
    worst = max(others, key=lambda kv: abs(kv[1]), default=(None, 0.0))
    check("other_spans", abs(worst[1]) <= tol,
          f"largest other move {worst[0]} {worst[1]:+.3f} s (limit {tol:.2f} s)")
    for k in ("trace.e2e_s", "trace.untraced_e2e_s"):
        e = planted["per_layer"][k]["value"] - base["per_layer"][k]["value"]
        check(f"e2e {k}", abs(e - DELAY_S) <= tol, f"moved {e:+.3f} s (limit {DELAY_S:.1f} +- {tol:.2f} s)")
    print(f"selftest: {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1
