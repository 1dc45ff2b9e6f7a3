#!/usr/bin/env python3
"""Canary tests for the benchmark's own correctness checks.

Usage: python3 perfbench/canaries.py [--seconds S]

Each canary alters one run so that a check must fail: a landed article file
is withheld from the expected set, a committed query digest is flipped, or
an ANN answer row is dropped before the answers are checked. A canary
passes only if its run exits 1, reports correct=false, and names the
failed check. Exits 0 when all three pass.
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
# (canary, workload, trace, text the failed check must contain); the ANN
# checks run in the traced query_suite run
CANARIES = [
    ("withhold_file", "news_stream", "0", "rows not in the expected set"),
    ("flip_digest", "query_suite", "0", "digest"),
    ("drop_answer", "query_suite", "1", "not answered with"),
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", default="5")
    a = ap.parse_args()
    ok = True
    for canary, workload, trace, expect in CANARIES:
        p = subprocess.run([sys.executable, RUN, "--workload", workload,
                            "--seed", "7", "--seconds", a.seconds,
                            "--trace", trace, "--canary", canary],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines else {}
        report = json.loads(lines[-2]) if len(lines) > 1 else {}
        named = [f for f in report.get("failures", []) if expect in f]
        passed = p.returncode == 1 and last.get("correct") is False and named
        ok &= bool(passed)
        print(f"{'PASS' if passed else 'FAIL'} {canary} on {workload}: "
              f"exit {p.returncode}, failures {report.get('failures')}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
