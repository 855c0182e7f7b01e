#!/usr/bin/env python3
"""Self-tests of the benchmark's output checks: each injected fault must make
the run report `correct: false` with at least one failed operation.

Run from the root of a checkout: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
CASES = [
    ("ingest_backlog", "drop_file"),           # a backlog file vanishes before the drain
    ("ingest_backlog", "miscount_malformed"),  # the expectation is one malformed record off
    ("ingest_paced", "drop_file"),             # the generator never delivers one file
    ("query_mix", "wrong_hash"),               # one recorded query hash is wrong
]


def main():
    bad = 0
    for workload, fault in CASES:
        out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2",
                              "--trace", "0", "--fault", fault], capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        caught = res is not None and res["correct"] is False and res["failed"] > 0
        print(f"[{'ok' if caught else 'FAIL'}] {workload} --fault {fault}: "
              f"{res if res is None else {k: res[k] for k in ('correct', 'attempted', 'failed')}}")
        bad += not caught
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
