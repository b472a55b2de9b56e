#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same seed
and print the traced run's end-to-end numbers minus the untraced run's.

    python3 perfbench/overhead.py --workload NAME --seed N --seconds S
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _metrics(args, trace: int) -> dict:
    out = subprocess.run([sys.executable, RUN, "--workload", args.workload,
                          "--seed", str(args.seed), "--seconds", str(args.seconds),
                          "--trace", str(trace)],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1)
    args = p.parse_args()
    plain, traced = _metrics(args, 0), _metrics(args, 1)
    base = plain["op_geomean_ms"]["value"]
    diff = traced["trace.op_geomean_ms"]["value"] - base
    print(f"op_geomean_ms untraced {base:.1f}, traced {base + diff:.1f}: "
          f"overhead {diff:+.1f} ms ({diff / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
