"""Tracing overhead: run one workload untraced and traced with the same
seed, and print each end-to-end metric both ways and the difference.

    python3 perfbench/overhead.py --workload dwd_order_join --seed 1 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True,
                         timeout=300).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    print(f"{'metric':22s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, m in plain.items():
        t = traced[f"trace.{name}"]["value"]
        d = t - m["value"]
        print(f"{name:22s} {m['value']:12.1f} {t:12.1f} {d:+12.1f} {m['unit']}"
              f"  ({d / m['value']:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
