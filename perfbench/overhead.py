"""Tracing overhead: one untraced and one traced run of the same
workload and seed, and the difference of their CPU time per operation
(``cpu_ms_per_op``).

    python3 perfbench/overhead.py --workload search --seed 1 --seconds 10

Run it from the repository root.  Prints one JSON object:
``untraced_ms``, ``traced_ms``, ``overhead_ms`` and ``overhead_share``
(the difference as a share of the untraced value), all CPU time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, check=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args(argv)
    plain = run(args.workload, args.seed, args.seconds, 0)["cpu_ms_per_op"]["value"]
    traced = run(args.workload, args.seed, args.seconds, 1)["trace.cpu_ms_per_op"]["value"]
    print(json.dumps({"untraced_ms": plain, "traced_ms": traced,
                      "overhead_ms": traced - plain,
                      "overhead_share": (traced - plain) / plain}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
