#!/usr/bin/env python3
"""Records the gold-table digests em_nightly must reproduce, one entry per
fixture set, into perfbench/em_nightly_digests.json.

  python3 perfbench/record_digests.py

The seed of an em_nightly run picks fixture set seed mod FIXTURE_SETS
(EmNightly.FixtureSets), so a run of seed s for each s below
FIXTURE_SETS covers them all. Re-record only after a change that alters
em_nightly's output on purpose, and say so in the change's description.
"""
import argparse
import json
import sys

import run

FIXTURE_SETS = 10


def main():
    classpath = run.build()
    out = {}
    for s in range(FIXTURE_SETS):
        args = argparse.Namespace(workload="em_nightly", seed=s, seconds=1, trace=0)
        full, _ = run.run(args, classpath)
        digests = full["digests"]
        bad = {g: d for g, d in digests.items() if d == "none" or d.startswith("0:")}
        if len(digests) != 12 or bad:
            raise SystemExit(f"fixture set {s}: tables missing or empty: {bad}")
        out[str(s)] = digests
        print(f"fixture set {s}: {len(digests)} gold tables", file=sys.stderr)
    with open(run.EM_DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
