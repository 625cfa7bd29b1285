"""Run the benchmark once per seed and print each end-to-end metric's
median and spread (quartile distance ÷ median), the steadiness test that
the bounds in BENCHMARK.json are held to.

    python3 perfbench/spread.py --workload kb_query --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s wall, correct={result['correct']}, "
              f"attempted={result['attempted']}, failed={result['failed']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for spec in bench["end_to_end"]:
        vals = values[spec["name"]]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        print(f"{spec['name']:32s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {spec['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
