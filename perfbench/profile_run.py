"""The traced run: every layer of the engine profiled in one session with
the Spark event log on. It is the same for both workloads, so that every
traced run reports every per-layer metric."""

from __future__ import annotations

import math
import statistics
import sys
import time

import env
from eventlog import EventLog, Spans

PER_OP_SUFFIXES = ("p50_ms", "jobs", "driver_ms", "scan_mb", "rows_examined_per_result")
REL_PARTS = ("spec.plan", "rel.page_exec", "rel.hydrate_exec", "rel.statistics", "summary")


def per_layer_names() -> list[str]:
    import kb
    import kg

    names = [f"{s}.{m}" for s in kg.STAGES for m in ("exclusive_s", "cpu_s", "shuffle_write_mb")]
    names += [
        "build.critical_path_s", "build.overlap_ratio", "build.spill_mb", "build.python_mb",
        "build.stored_bytes_per_input_byte", "runner.commit_s", "runner.resume_s",
        "mentions.candidates_kept_ratio",
    ]
    names += [f"{op}.{m}" for op in kb.OPS for m in PER_OP_SUFFIXES]
    names += [_part_metric(p) for p in REL_PARTS]
    names += ["trace.overhead_ms"]
    return names


def _part_metric(part: str) -> str:
    return "summary.ms" if part == "summary" else f"{part}_ms"


def _result_rows(answer) -> int:
    if isinstance(answer, dict):
        return len(answer.get("page", answer.get("names", [])))
    return len(answer)


def profile(root: env.RunRoot, seed: int, n_docs: int, info: dict) -> dict:
    import kb
    import kg

    spark = env.start_session(root, event_log=True)
    env.assert_checkout_imports(spark)
    info.update(env.run_info(seed, info.get("workload"), spark))
    spans = Spans(spark)
    failed = attempted = 0
    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench: {name} done at {time.perf_counter() - t_start:.1f} s", file=sys.stderr)

    # -- build layers
    corpus = kg.Corpus(spark, seed, n_docs, root.sub("work", "corpus"))
    kg_state, kg_finish = kg.profile(spark, spans, corpus, root.sub("work"))
    attempted += 2
    if not kg_state["builds_agree"]:
        failed += 1
        print("perfbench: two builds of one corpus differ", file=sys.stderr)
    phase("build layers")

    # -- query layers: plain pass (the oracle check), then the traced pass
    kbase = kb.KB(spark, kg_state["kb_dir"], seed)
    pool = kb.query_pool(seed, kbase.canonical())
    oracle = kb.Oracle(kbase)
    plain_ms, expected = [], {}
    for q in pool:
        t0 = time.perf_counter()
        finish = kb.run_op(kbase, q)
        plain_ms.append((time.perf_counter() - t0) * 1000)
        answer = finish()
        expected[q] = kb.digest(answer)
        attempted += 1
        if not kb.matches(answer, oracle.expect(q)):
            failed += 1
            print(f"perfbench: wrong answer: {q.label()}", file=sys.stderr)
    phase("query oracle pass")
    op_spans: dict[str, list] = {op: [] for op in kb.OPS}
    traced_ms = []
    for q in pool:
        with spans.span(f"op.{q.op}") as s:
            if q.op in kb.REL_OPS:
                answer = kb.run_rel_traced(kbase, q, spans)
            else:
                answer = kb.run_op(kbase, q)()
        traced_ms.append(s.wall_ms)
        op_spans[q.op].append((s, _result_rows(answer)))
        attempted += 1
        if kb.digest(answer) != expected[q]:
            failed += 1
            print(f"perfbench: traced answer differs: {q.label()}", file=sys.stderr)

    phase("traced query pass")

    spark.stop()
    log = EventLog(root.sub("events"))

    m = kg_finish(log.span_totals)
    for op, lst in op_spans.items():
        tot = [log.window_totals(s) for s, _n in lst]
        m[f"{op}.p50_ms"] = statistics.median(s.wall_ms for s, _n in lst)
        m[f"{op}.jobs"] = statistics.median(t["jobs"] for t in tot)
        m[f"{op}.driver_ms"] = statistics.median(
            s.wall_ms - t["job_covered_ms"] for (s, _n), t in zip(lst, tot)
        )
        m[f"{op}.scan_mb"] = statistics.median(t["input_b"] for t in tot) / 2**20
        m[f"{op}.rows_examined_per_result"] = statistics.median(
            t["input_rows"] / max(1, n) for (_s, n), t in zip(lst, tot)
        )
    for part in REL_PARTS:
        walls = [s.wall_ms for s in spans.spans if s.name == part]
        m[_part_metric(part)] = statistics.median(walls)
    m["trace.overhead_ms"] = statistics.median(traced_ms) - statistics.median(plain_ms)

    names = per_layer_names()
    missing = [n for n in names if n not in m or not math.isfinite(m[n])]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(m[n]), "unit": _unit(n)} for n in names},
    }


def _unit(name: str) -> str:
    for suffix, unit in (
        ("ms", "ms"), ("_s", "s"), ("_mb", "MB"), (".jobs", "count"),
        ("_ratio", "ratio"), ("_per_result", "rows/row"), ("_per_input_byte", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    raise ValueError(name)
