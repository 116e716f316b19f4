#!/usr/bin/env python3
"""The benchmark's own test: a planted fault must reach `failed`.

Usage (from the root of a checkout): python3 perfbench/selftest.py

  - bus_live with one frame dropped in the sink must report it as lost
    (and its subscription counters as wrong);
  - catalog_batch with one query's dumped result missing a row must fail
    that query's oracle check.

Each case runs perfbench/run.py once (a few minutes in total) and checks
`correct` is false and `failed` is at least 1.
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, inject):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "3", "--trace", "0", "--inject", inject],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload}/{inject}: run.py exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bad = 0
    for workload, inject in (("bus_live", "drop_frame"), ("catalog_batch", "wrong_result")):
        r = run(workload, inject)
        ok = r["correct"] is False and r["failed"] >= 1
        print(f"{'ok  ' if ok else 'FAIL'} {workload} --inject {inject}: "
              f"failed {r['failed']} of {r['attempted']}, fail_frac "
              f"{r['failed'] / r['attempted']:.3g}")
        bad += not ok
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
