"""Tracing overhead: run one workload and seed untraced and traced and
print the traced numbers minus the untraced ones: the timed phase's CPU
seconds, the median CPU seconds of the workload's repeated operation,
and their wall-clock counterparts.

    python3 perfbench/overhead.py --workload etl_daily --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _detail(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    detail = json.loads(out.stdout.splitlines()[-2])["detail"]
    detail["op_cpu_p50_s"] = detail["op_cpu_p50_s"][detail["op_kind"]]
    return detail


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    plain, traced = _detail(args, 0), _detail(args, 1)
    print(json.dumps({
        k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k]}
        for k in ("cpu_s", "op_cpu_p50_s", "op_p50_s", "total_s")
    }))


if __name__ == "__main__":
    main()
