"""Layered benchmark for the KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Workloads (one Spark driver, at most 4 cores):

- ``kg_build``: fresh ``runner.run_kg_pipeline`` builds, one at a time, over
  a seeded corpus that set-up generates once and commits to parquet.
- ``kb_query``: set-up builds the KB once; then a single closed-loop client
  issues a seeded mix of rel / NEN / CGD / chem-disease / GVD queries.

Untraced runs print the end-to-end metrics. A traced run (``--trace 1``)
profiles every layer -- the build stages, the query ops and ``run_rel``'s
parts -- from an event log and spans recorded here, and reports the tracing
overhead on the chosen workload. The last stdout line is the result object;
the line before it records host, cores, heap, Spark version, code digest
and seed. A run stops Spark and waits for every process it started on
every way out, a signal or its own deadline included.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

WORKLOADS = ("kg_build", "kb_query")
N_DOCS = 500  # corpus size of both workloads
# kb_query request cycles per run: the first after the warm-up pass is
# still warming its smallest ops, so each op type keeps its faster sample
MIN_CYCLES = 2
SMOKE_DOCS = 50
SMOKE_SEED = 7
# a run that has not finished by then stops itself, and every process it
# started, rather than outlive the 180 s a run may take
DEADLINE_S = 160

END_TO_END = {
    "setup_s": "s",
    "op_latency_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


def metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


# ------------------------------------------------------------------ set-up


class Setup:
    """What a workload needs before its timed loop; the whole of it counts
    toward ``setup_s``. It includes a warm-up: the first build or query in
    a JVM runs cold (JIT, codegen), so each workload runs its operation
    once, checked, before timing."""

    def __init__(self, root: env.RunRoot, workload: str, seed: int, n_docs: int):
        import kg

        t0 = time.perf_counter()
        self.spark = env.start_session(root)
        env.assert_checkout_imports(self.spark)
        self.corpus = kg.Corpus(self.spark, seed, n_docs, root.sub("work", "corpus"))
        self.checks_failed = 0
        if workload == "kb_query":
            self._kb(root, seed)
        else:
            self._warm_build(root)
        self.setup_s = time.perf_counter() - t0

    def _warm_build(self, root: env.RunRoot) -> None:
        """The reference build: every timed build must match its fingerprint."""
        import kg

        out = root.sub("work", "warmup")
        self.build_fingerprint = kg.fingerprint(kg.build(self.corpus, out))
        shutil.rmtree(out, ignore_errors=True)

    def _kb(self, root: env.RunRoot, seed: int) -> None:
        import kb
        import kg

        kb_dir = root.sub("work", "kb")
        self.kb_fingerprint = kg.fingerprint(kg.build(self.corpus, kb_dir))
        self.stored_ratio = kg.dir_bytes(kb_dir) / self.corpus.bytes
        self.kb = kb.KB(self.spark, kb_dir, self.corpus.seed)
        self.pool = kb.query_pool(seed, self.kb.canonical())
        self.expected, self.bad = check_pool(self.kb, self.pool)
        self.checks_failed = len(self.bad)


def check_pool(kbase, pool) -> tuple[dict, set]:
    """Run each distinct query once and check it against the oracle.
    Returns the answer digest per query and the set of wrong queries."""
    import kb

    oracle = kb.Oracle(kbase)
    expected, bad = {}, set()
    for q in pool:
        answer = kb.run_op(kbase, q)()
        expected[q] = kb.digest(answer)
        if not kb.matches(answer, oracle.expect(q)):
            bad.add(q)
            print(f"perfbench: wrong answer in set-up: {q.label()}", file=sys.stderr)
    return expected, bad


# ---------------------------------------------------------------- workloads


def measure_kg_build(setup: Setup, root: env.RunRoot, seconds: float) -> dict:
    import kg

    t0 = time.perf_counter()
    walls, failed, stored = kg.timed_builds(
        setup.corpus, root.sub("work"), seconds, setup.build_fingerprint
    )
    elapsed = time.perf_counter() - t0
    ok = [w for w in walls if w is not None]
    return {
        "attempted": len(walls),
        "failed": failed,
        **latency({"build": ok}, elapsed),
        "stored_bytes_per_input_byte": stored / setup.corpus.bytes,
    }


def latency(walls_by_op: dict[str, list[float]], elapsed: float) -> dict:
    """``op_latency_ms``: geometric mean over op types of each type's fastest
    wall in the run, so every op type weighs the same whatever its speed or
    share of requests. The minimum, as in bench.py, because co-tenant CPU
    steal and collector pauses only ever add time. ``ops_per_s``: correct
    ops per second of the timed loop."""
    best = [min(w) for w in walls_by_op.values() if w]
    return {
        "op_latency_ms": 1000 * math.exp(statistics.fmean(math.log(b) for b in best)) if best else math.nan,
        "ops_per_s": sum(len(w) for w in walls_by_op.values()) / elapsed,
    }


def measure_kb_query(setup: Setup, cycles, seconds: float, min_cycles: int = MIN_CYCLES) -> dict:
    """Single closed-loop client: the next request goes out when the last
    reply is back. Whole request cycles run until ``seconds`` have passed
    and ``min_cycles`` are done, or ``cycles`` runs out."""
    import kb

    walls: dict[str, list[float]] = {}
    failed = 0
    t0 = time.perf_counter()
    t_end = t0 + seconds
    requests = (q for cycle in _until(cycles, t_end, min_cycles) for q in cycle)
    for q in requests:
        ts = time.perf_counter()
        try:
            finish = kb.run_op(setup.kb, q)
        except Exception:  # a failed request is counted, the loop goes on
            traceback.print_exc()
            failed += 1
            continue
        dt = time.perf_counter() - ts
        if q in setup.bad or kb.digest(finish()) != setup.expected[q]:
            failed += 1
        else:
            walls.setdefault(q.op, []).append(dt)
    elapsed = time.perf_counter() - t0
    return {
        "attempted": sum(len(w) for w in walls.values()) + failed,
        "failed": failed,
        **latency(walls, elapsed),
        "stored_bytes_per_input_byte": setup.stored_ratio,
    }


def _until(cycles, t_end: float, min_cycles: int):
    for i, cycle in enumerate(cycles):
        if i >= min_cycles and time.perf_counter() >= t_end:
            return
        yield cycle


def untraced(root: env.RunRoot, workload: str, seed: int, seconds: float, info: dict) -> dict:
    import kb

    with env.RssSampler() as rss:
        setup = Setup(root, workload, seed, N_DOCS)
        info.update(env.run_info(seed, workload, setup.spark))
        if workload == "kg_build":
            m = measure_kg_build(setup, root, seconds)
        else:
            m = measure_kb_query(setup, kb.request_cycles(seed, setup.pool), seconds)
    m["setup_s"] = setup.setup_s
    m["peak_rss_mb"] = rss.peak_mb
    return {
        "correct": m["failed"] == 0 and setup.checks_failed == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metric_block(m, END_TO_END),
    }


# ------------------------------------------------------------------- traced


def traced(root: env.RunRoot, workload: str, seed: int, info: dict) -> dict:
    """The layer profile; it is the same for both workloads."""
    import profile_run

    info["workload"] = workload
    return profile_run.profile(root, seed, N_DOCS, info)


# -------------------------------------------------------------------- smoke


def smoke(root: env.RunRoot, info: dict) -> dict:
    """Every check of the benchmark at tiny sizes, in about a minute,
    including one deliberately wrong answer that must count as failed."""
    import kb
    import kg

    setup = Setup(root, "kb_query", SMOKE_SEED, SMOKE_DOCS)
    info.update(env.run_info(SMOKE_SEED, "smoke", setup.spark))
    checks = {"pool_matches_oracle": setup.checks_failed == 0}

    again = kg.fingerprint(kg.build(setup.corpus, root.sub("work", "again")))
    checks["builds_agree"] = again == setup.kb_fingerprint

    cycle = setup.pool[:3]
    victim, good = cycle[0], setup.expected[cycle[0]]
    setup.expected[victim] = kb.digest("deliberately wrong")
    bad = measure_kb_query(setup, iter([cycle]), math.inf)
    # exactly one failure: the victim is counted failed, the others pass
    checks["wrong_answer_counted_failed"] = (
        bad["failed"] == 1 and bad["attempted"] == len(cycle) and not math.isnan(bad["op_latency_ms"])
    )
    setup.expected[victim] = good
    failed = [k for k, v in checks.items() if not v]
    return {"correct": not failed, "attempted": len(checks), "failed": len(failed),
            "metrics": {}, "checks": checks}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny self-check of the benchmark")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        env.check_checkout()
    except env.CheckoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    env.adopt_orphans()
    env.guard(DEADLINE_S)
    root = env.RunRoot()
    info: dict = {}
    code, interrupted = 0, False
    try:
        root.isolate()
        if args.smoke:
            result = smoke(root, info)
            code = 0 if result["correct"] else 1
        elif args.trace:
            result = traced(root, args.workload, args.seed, info)
        else:
            result = untraced(root, args.workload, args.seed, args.seconds, info)
    except Exception:
        traceback.print_exc()
        return 1
    except env.Interrupted as e:
        interrupted = True
        print(f"perfbench: run cut short by {e}", file=sys.stderr)
        return 1
    finally:
        env.unguard()
        try:
            env.stop_spark(graceful=not interrupted)
        finally:
            env.end_descendants()
            root.close()
    print(env.dump_json({"run": info}))
    print(env.dump_json(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
