#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same seed
and print, per end-to-end metric, the traced-minus-untraced difference.

    python3 perfbench/overhead.py --workload live_trickle --seed 1 --seconds 12

The traced run reports its own end-to-end values as ``traced.<metric>``;
the heavy registry pass it adds runs after them and is not included.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True,
        text=True,
        timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"overhead: trace={trace} run failed ({p.returncode}): {p.stderr[-2000:]}")
    return json.loads(lines[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    out = {
        name: {
            "untraced": m["value"],
            "traced": traced[f"traced.{name}"]["value"],
            "overhead": traced[f"traced.{name}"]["value"] - m["value"],
            "unit": m["unit"],
        }
        for name, m in plain.items()
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
