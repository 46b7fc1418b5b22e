#!/usr/bin/env python3
"""Self-test of the benchmark's answer checkers.

    python3 perfbench/selftest.py

Runs each workload briefly with one deliberately wrong expectation and
requires the run to report the wrong answer: `correct` false and at
least one failed op. Each case takes one benchmark JVM (under a minute
once the build exists).

- lake_shadow:  a shadow-model value in lakehouse_upserts is perturbed
                before a lookup of that key;
- star_hash:    the checked answer hash of one star_queries query is
                perturbed;
- oracle_value: one value of one DuckDB oracle answer is perturbed;
- scd2_expiry:  one SCD2 expiry is dropped from the dimension rows the
                medallion_daily check reads back.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CASES = [("lakehouse_upserts", "lake_shadow"), ("star_queries", "star_hash"),
         ("star_queries", "oracle_value"), ("medallion_daily", "scd2_expiry")]


def main():
    ok = True
    for workload, perturb in CASES:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "3", "--trace", "0",
                            "--perturb", perturb], capture_output=True, text=True)
        if p.returncode != 0:
            print(f"FAIL {workload}/{perturb}: run exited {p.returncode}\n{p.stderr[-2000:]}")
            ok = False
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        caught = res["correct"] is False and res["failed"] >= 1
        ok &= caught
        print(f"{'PASS' if caught else 'FAIL'} {workload}/{perturb}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
