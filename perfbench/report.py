"""Run every workload untraced and traced for one seed, print every
end-to-end and per-layer metric, and exit non-zero if any output is wrong.

    python3 perfbench/report.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.workloads import WORKLOADS  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    args = p.parse_args()
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            print(f"== {workload} trace={trace}", flush=True)
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, cwd=os.path.dirname(HERE))
            lines = out.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            result = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
            print(f"   correct={result.get('correct')} attempted={result.get('attempted')} "
                  f"failed={result.get('failed')} exit={out.returncode}", flush=True)
            ok = ok and out.returncode == 0 and bool(result.get("correct"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
