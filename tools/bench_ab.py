"""Interleaved A/B bench: a tagged baseline commit vs HEAD, same noise
window (round-4 VERDICT #1 protocol, kept as the per-round cadence —
round-5 VERDICT #8).

Cycle i runs the baseline tree's bench.py then HEAD's bench.py
back-to-back, so every baseline sample has a HEAD sample in the same
noise window. Per-query result is the MIN across cycles per version
(the established co-tenant-noise filter, bench.py:12-19); the verdict
per query is the HEAD/baseline ratio of those mins.

Each bench.py subprocess runs with SPARK_GRAFT_BENCH_REPS=1 (the cycles
ARE the reps — in-process repetition would double wall-clock without
adding cross-window coverage). The baseline tree is a plain
`git worktree` of the baseline commit; nothing is copied or patched.

Usage: python tools/bench_ab.py [cycles] [base_worktree] [base_commit] \
           [base_label] [out.json]
Defaults reproduce the round-5 run (r3 @ 5df9ee4 -> history/BENCH_AB_R3_R5.json).
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(tree: str, env: dict) -> dict:
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"bench failed in {tree}:\n{proc.stderr[-3000:]}")
    # bench prints exactly ONE JSON line (other lines are Spark logs)
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON line from bench in {tree}")


def main() -> None:
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    base_tree = sys.argv[2] if len(sys.argv) > 2 else "/tmp/r3wt"
    base_commit = sys.argv[3] if len(sys.argv) > 3 else "5df9ee4"
    base_label = sys.argv[4] if len(sys.argv) > 4 else "r3"
    out_path = (
        sys.argv[5] if len(sys.argv) > 5 else os.path.join(REPO, "history", "BENCH_AB_R3_R5.json")
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_BENCH_REPS": "1",
        "SPARK_GRAFT_SF_DIR": os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ),
    }
    samples: dict[str, list[dict]] = {base_label: [], "head": []}
    for c in range(cycles):
        for label, tree in ((base_label, base_tree), ("head", REPO)):
            t0 = time.time()
            rec = run_bench(tree, env)
            rec["_cycle"] = c
            rec["_wall"] = round(time.time() - t0, 1)
            samples[label].append(rec)
            print(
                f"cycle {c} {label}: e2e={rec['value']} kg={rec['queries'].get('kg_pipeline')}",
                flush=True,
            )

    def mins(label: str) -> dict:
        out: dict[str, float] = {}
        for rec in samples[label]:
            for q, t in rec["queries"].items():
                out[q] = min(out.get(q, t), t)
        return out

    m3, mh = mins(base_label), mins("head")
    shared = sorted(set(m3) & set(mh))
    ratios = {q: round(mh[q] / m3[q], 3) for q in shared if m3[q] > 0}
    report = {
        "protocol": (
            f"{cycles} interleaved cycles ({base_label} then HEAD per cycle), "
            "REPS=1 per subprocess, per-query min across cycles per version; "
            f"ratio = HEAD_min / {base_label}_min"
        ),
        "base_commit": base_commit,
        "base_label": base_label,
        "base_min": m3,
        "head_min": mh,
        "ratio_head_over_base": ratios,
        "median_ratio": sorted(ratios.values())[len(ratios) // 2] if ratios else None,
        "e2e_min_base": round(sum(m3.values()), 3),
        "e2e_min_head": round(sum(mh.values()), 3),
        "samples": samples,
    }
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in ("median_ratio", "e2e_min_base", "e2e_min_head")}))


if __name__ == "__main__":
    main()
