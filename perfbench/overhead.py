"""Tracing overhead: run one workload untraced and traced on the same seed
and print, for each end-to-end metric and side figure, traced minus
untraced.

    python3 perfbench/overhead.py --workload tip_follow --seed 1 --seconds 5

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys

# the side figures an untraced run prints on standard error
_SIDE = re.compile(r"^([a-z0-9_]+): ([0-9.]+) (\S+)$", re.M)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    )
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    for name, value, unit in _SIDE.findall(p.stderr):
        metrics[name] = {"value": float(value), "unit": unit}
    return metrics


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args()
    untraced = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    for name, m in untraced.items():
        t = traced[f"traced.{name}"]["value"]
        d = t - m["value"]
        print(f"{name:32s} untraced {m['value']:12.4f}  traced {t:12.4f}  overhead {d:+.4f} {m['unit']} ({d / m['value']:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
