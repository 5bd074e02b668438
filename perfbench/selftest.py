#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: a corrupted result must fail.

    python3 perfbench/selftest.py

First checks the comparison itself (a dropped row, a changed value and a
reordered top-k are each reported). Then runs `snapshot_mix` end to end
with run.py --corrupt, which removes the last row of one dumped result
before the check, and requires a failed op and `correct: false`. Exits 0
when every corruption is caught.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

WORKLOAD = "snapshot_mix"
SECONDS = 3


def main():
    cols = ["k", "v"]
    rows = [[1, 10.0], [2, 20.0], [3, 30.0]]
    assert check.compare(cols, rows, cols, rows) is None
    assert check.compare(cols, rows[:2], cols, rows) is not None, "dropped row not caught"
    assert check.compare(cols, [[1, 10.0], [2, 20.5], [3, 30.0]], cols, rows) is not None, "changed value"
    assert check.compare(cols, rows[::-1], cols, rows, ordered=True) is not None, "reordered top-k"
    assert check.compare(["v", "k"], [[10.0, 1], [20.0, 2], [30.0, 3]], cols, rows) is None
    print("compare: dropped row, changed value and reordering are caught")

    out = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                          "--workload", WORKLOAD, "--seed", "1", "--seconds", str(SECONDS),
                          "--trace", "0", "--corrupt"], stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"selftest: run.py exited {out.returncode}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    caught = last["failed"] > 0 and not last["correct"]
    print(f"{WORKLOAD} with a corrupted result: failed {last['failed']} of {last['attempted']}, "
          f"failed_frac {last['failed'] / last['attempted']:.4f}, correct {last['correct']}")
    sys.exit(0 if caught else 1)


if __name__ == "__main__":
    main()
