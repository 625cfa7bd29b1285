"""The KG build layer: seeded corpus, fresh builds, build fingerprints, and
the per-stage profile of the traced run."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import canonicalize, extractors, materialize, mentions, runner

STAGES = (
    "ingest", "sentences", "mentions", "annotations", "canonical_map", "glof",
    "triples", "entity_postings", "pair_stats", "chem_disease", "cgd_paths", "meta",
)
# runner stage directory for each profiled stage ("ingest" commits as "source")
STAGE_DIR = {s: ("source" if s == "ingest" else s) for s in STAGES}
TAIL = ("entity_postings", "pair_stats", "chem_disease", "cgd_paths", "meta")


class Corpus:
    """The seeded source corpus, generated once by ``fixtures.source_table``
    and committed to parquet, so a timed build reads only that parquet."""

    def __init__(self, spark: SparkSession, seed: int, n_docs: int, path: str) -> None:
        fixtures.source_table(spark, n_docs, seed).write.mode("overwrite").parquet(path)
        self.spark, self.seed, self.path = spark, seed, path
        self.bytes = dir_bytes(path)

    def source(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def entity_dict(self) -> DataFrame:
        return fixtures.entity_dict_df(self.spark, self.seed)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _dirs, fns in os.walk(path)
        for fn in fns
        if not fn.startswith((".", "_"))
    )


def build(corpus: Corpus, out_dir: str) -> dict[str, DataFrame]:
    """One fresh build, the operation the ``kg_build`` workload times."""
    return runner.run_kg_pipeline(
        corpus.spark,
        out_dir,
        source_df=corpus.source(),
        entity_dict=corpus.entity_dict(),
        seed=corpus.seed,
        resume=False,
    )


def fingerprint(tables: dict[str, DataFrame]) -> dict:
    """Committed stage row counts plus an order-independent digest of the
    triples table; identical for every build of one corpus."""
    pipe = tables["_pipeline"]
    tri = tables["triples"]
    row = tri.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(tri.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return {
        "rows": {k: r.row_count for k, r in sorted(pipe.results.items())},
        "triples": [int(row["n"]), str(row["h"])],
    }


# ---------------------------------------------------------------- profile


def stage_builders(spark: SparkSession, corpus: Corpus, kb_dir: str) -> dict:
    """Each stage's public builder over its COMMITTED inputs, as the runner
    wires it (runner.run_kg_pipeline)."""
    read = lambda s: spark.read.parquet(os.path.join(kb_dir, s))  # noqa: E731
    ed = corpus.entity_dict().cache()
    max_tokens = int(ed.agg(F.max(F.size(F.split("name", " ")))).first()[0])
    glof_dict = fixtures.glof_dict_df(spark)
    glof_max = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)
    entity_types = ed.select("id", "type").distinct()
    n_sent = read("sentences").count()

    def glof():
        gm = mentions.build_glof_mentions(read("sentences"), glof_dict, glof_max)
        return mentions.glof_evidence(mentions.subtract_glof_overlaps(read("mentions"), gm))

    return {
        "ingest": (lambda: fixtures.ingest(corpus.source()), None),
        "sentences": (lambda: mentions.split_sentences(read("source")), None),
        "mentions": (
            lambda: mentions.build_mentions(read("source"), ed, max_tokens=max_tokens)[1],
            None,
        ),
        "annotations": (
            lambda: extractors.extract_all(read("mentions"), read("sentences"), n_sentences=n_sent),
            None,
        ),
        "canonical_map": (lambda: canonicalize.canonical_map(ed), None),
        "glof": (glof, None),
        "triples": (
            lambda: materialize.dedup_triples(
                canonicalize.rewrite_triples(
                    extractors.to_triples(read("annotations")), read("canonical_map")
                )
            ),
            ["annotator"],
        ),
        "entity_postings": (
            lambda: materialize.build_entity_postings(read("annotations")).repartition(
                spark.sparkContext.defaultParallelism, "type", "key"
            ),
            None,
        ),
        "pair_stats": (lambda: materialize.build_pair_stats(read("triples")), None),
        "chem_disease": (
            lambda: materialize.build_chem_disease(read("triples"), entity_types),
            None,
        ),
        "cgd_paths": (lambda: materialize.build_cgd_paths(read("triples"), entity_types), None),
        "meta": (lambda: fixtures.meta_table(spark, read("source"), corpus.seed), None),
    }


def profile(spark, spans, corpus: Corpus, work: str) -> tuple[dict, Callable]:
    """Traced KG layers: a first (cold) build commits the KB; each stage
    then runs alone from its committed inputs; a second, warm build is the
    traced whole; then the commit path and a resume over the complete root.
    Returns the KB root, whether the two builds agreed, and a finisher that
    turns event-log totals into metrics."""
    kb_dir = os.path.join(work, "kb")
    tables = build(corpus, kb_dir)
    fp = fingerprint(tables)

    walls = {}
    builders = stage_builders(spark, corpus, kb_dir)
    for name in STAGES:
        fn, part = builders[name]
        out = os.path.join(work, "exclusive", name)
        with spans.span(f"stage.{name}") as s:
            w = fn().write.mode("overwrite")
            (w.partitionBy(*part) if part else w).parquet(out)
        walls[name] = s
        shutil.rmtree(out, ignore_errors=True)

    warm_dir = os.path.join(work, "kb_warm")
    with spans.span("build") as s_build:
        warm = build(corpus, warm_dir)
    same = fingerprint(warm) == fp
    stored = dir_bytes(warm_dir)
    shutil.rmtree(warm_dir, ignore_errors=True)

    # commit path: re-read, parquet-footer partition metrics, marker write
    with spans.span("runner.commit") as s_commit:
        for name in STAGES:
            path = os.path.join(kb_dir, STAGE_DIR[name])
            spark.read.parquet(path)
            parts = runner._partition_metrics(path)
            with open(os.path.join(work, f"{name}.marker.json"), "w") as f:
                json.dump({"stage": name, "partitions": parts}, f)
    with spans.span("runner.resume") as s_resume:
        resumed = runner.run_kg_pipeline(
            spark, kb_dir, source_df=corpus.source(), entity_dict=corpus.entity_dict(),
            seed=corpus.seed, resume=True,
        )
    recomputed = [k for k, r in resumed["_pipeline"].results.items() if r.recomputed]
    if recomputed:
        raise AssertionError(f"resume over a complete root recomputed {recomputed}")

    # overlap fold of the mentions stage: candidates attempted vs kept
    ed = corpus.entity_dict()
    max_tokens = int(ed.agg(F.max(F.size(F.split("name", " ")))).first()[0])
    cands = mentions.dictionary_candidates(
        mentions.enumerate_spans(
            mentions.split_sentences(spark.read.parquet(os.path.join(kb_dir, "source"))),
            max_tokens,
        ),
        ed,
    ).count()
    kept = tables["_pipeline"].results["mentions"].row_count

    def finish(totals_of) -> dict[str, float]:
        m: dict[str, float] = {}
        ex = {}
        for name in STAGES:
            t = totals_of(walls[name])
            ex[name] = walls[name].wall_ms / 1000
            m[f"{name}.exclusive_s"] = ex[name]
            m[f"{name}.cpu_s"] = t["cpu_ns"] / 1e9
            m[f"{name}.shuffle_write_mb"] = t["shuffle_write_b"] / 2**20
        serial = ex["ingest"] + ex["sentences"] + ex["mentions"]
        chain = max(ex["annotations"], ex["canonical_map"]) + ex["triples"] + max(ex[t] for t in TAIL)
        critical = serial + max(ex["glof"], chain)
        bt = totals_of(s_build)
        m["build.critical_path_s"] = critical
        m["build.overlap_ratio"] = critical / (s_build.wall_ms / 1000)
        m["build.spill_mb"] = bt["spill_b"] / 2**20
        m["build.python_mb"] = bt["python_b"] / 2**20
        m["build.stored_bytes_per_input_byte"] = stored / corpus.bytes
        m["runner.commit_s"] = s_commit.wall_ms / 1000
        m["runner.resume_s"] = s_resume.wall_ms / 1000
        m["mentions.candidates_kept_ratio"] = kept / cands if cands else 0.0
        return m

    return {"kb_dir": kb_dir, "builds_agree": same}, finish


def timed_builds(corpus: Corpus, work: str, seconds: float, expect: dict):
    """Closed loop of fresh builds, one at a time, for ``seconds`` and at
    least one. Each build's fingerprint is checked (untimed) against
    ``expect``, the set-up build's. Returns (walls_s with None for a failed
    build, failed, stored bytes of the last build)."""
    walls: list[float | None] = []
    failed, stored = 0, 0
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        out = os.path.join(work, f"build{len(walls)}")
        t0 = time.perf_counter()
        try:
            tables = build(corpus, out)
        except Exception:  # a failed build is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            failed += 1
            walls.append(None)
        else:
            walls.append(time.perf_counter() - t0)
            stored = dir_bytes(out)
            if fingerprint(tables) != expect:
                failed += 1
                walls[-1] = None
        shutil.rmtree(out, ignore_errors=True)
    return walls, failed, stored
