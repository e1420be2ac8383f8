"""Tracing overhead: traced minus untraced end-to-end time.

    python3 perfbench/overhead.py --workload price_lookup --seed 1 --seconds 2

Runs the workload twice with the same seed, untraced then traced, and
prints one JSON line with both runs' op latency (``op_p50_ms``), op CPU
cost (``op_cpu_ms``) and wall time, the traced-minus-untraced
differences, and the tracer's own bookkeeping time per timed op
(``trace.overhead_ms``) from the traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict, float]:
    """(summary line, result metrics, wall seconds) of one run."""
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    wall = time.perf_counter() - t
    summary, result = p.stdout.strip().splitlines()[-2:]
    return json.loads(summary), json.loads(result)["metrics"], wall


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=2)
    args = ap.parse_args()
    plain, _, plain_wall = _run(args.workload, args.seed, args.seconds, 0)
    traced, layers, traced_wall = _run(args.workload, args.seed, args.seconds, 1)
    out = {"workload": args.workload, "seed": args.seed}
    for key, a, b in (("op_p50_ms", plain["op_p50_ms"], traced["op_p50_ms"]),
                      ("op_cpu_ms", plain["op_cpu_ms"], traced["op_cpu_ms"]),
                      ("wall_s", plain_wall, traced_wall)):
        out.update({key: a, f"traced_{key}": b, f"overhead_{key}": b - a})
    out["tracer_bookkeeping_ms_per_op"] = layers["trace.overhead_ms"]["value"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
