"""Checkpoint/resume semantics (north rule): kill-after-stage-k resume →
identical outputs; per-partition lineage + metrics recorded."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark import StorageLevel

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import canonicalize, runner


def _collect_triples(tables):
    return sorted(map(tuple, tables["triples"].collect()))


def test_resume_identical_and_skips_recompute(spark, tmp_path):
    out = str(tmp_path / "kb")
    t1 = runner.run_kg_pipeline(spark, out, n_docs=60)
    first = _collect_triples(t1)
    pipe1 = t1["_pipeline"]
    assert all(r.recomputed for r in pipe1.results.values())

    # resume: everything cached, outputs byte-identical
    t2 = runner.run_kg_pipeline(spark, out, n_docs=60)
    pipe2 = t2["_pipeline"]
    assert all(not r.recomputed for r in pipe2.results.values())
    assert _collect_triples(t2) == first


def test_root_holds_only_stage_directories(spark, tmp_path):
    """Everything a build leaves under its root goes through the marker
    protocol: each entry is a stage directory of the build, with its
    marker, and no loose file or work directory sits beside them."""
    out = tmp_path / "kb"
    pipe = runner.run_kg_pipeline(spark, str(out), n_docs=60)["_pipeline"]
    assert sorted(os.listdir(out)) == sorted(pipe.results)
    for name in pipe.results:
        assert (out / name).is_dir() and (out / name / runner.MARKER).is_file(), name


def test_kill_after_stage_k_resume(spark, tmp_path):
    out = str(tmp_path / "kb")
    t1 = runner.run_kg_pipeline(spark, out, n_docs=60)
    first = _collect_triples(t1)

    # simulate a crash after 'annotations': delete downstream markers
    for stage in ("triples", "pair_stats", "chem_disease", "cgd_paths"):
        os.remove(os.path.join(out, stage, runner.MARKER))
    t2 = runner.run_kg_pipeline(spark, out, n_docs=60)
    pipe2 = t2["_pipeline"]
    assert not pipe2.results["annotations"].recomputed
    assert pipe2.results["triples"].recomputed
    assert _collect_triples(t2) == first


def test_config_change_invalidates_downstream(spark, tmp_path):
    out = str(tmp_path / "kb")
    runner.run_kg_pipeline(spark, out, n_docs=40)
    t2 = runner.run_kg_pipeline(spark, out, n_docs=50)  # new source fingerprint
    assert all(r.recomputed for r in t2["_pipeline"].results.values() if r.name != "canonical_map")


def test_lineage_and_partition_metrics(spark, tmp_path):
    out = str(tmp_path / "kb")
    t = runner.run_kg_pipeline(spark, out, n_docs=40)
    with open(os.path.join(out, "triples", runner.MARKER)) as f:
        meta = json.load(f)
    assert meta["upstream"] == ["annotations", "canonical_map"]
    assert meta["row_count"] == t["triples"].count()
    assert meta["partitions"], "per-partition metrics required"
    assert sum(p["rows"] for p in meta["partitions"]) == meta["row_count"]


def test_invariant_sha256_on_all_derived_tables(spark, tmp_path):
    out = str(tmp_path / "kb")
    t = runner.run_kg_pipeline(spark, out, n_docs=40)
    src = {r["doc_id"]: r["content_sha256"] for r in t["source"].select("doc_id", "content_sha256").collect()}
    for name in ("sentences", "mentions", "annotations", "triples"):
        rows = t[name].select("doc_id", "content_sha256").collect()
        assert rows
        for r in rows:
            assert src[r["doc_id"]] == r["content_sha256"], name


def test_kg_gate_counts_pinned_vs_oracle_vs_engine(spark, tmp_path):
    """The kg_pipeline_triples projection (per-annotator deduplicated
    triple counts over the fixed 120-doc corpus) is pinned as literal
    VALUES in gates.builders._KG_GATE_PINNED. Three-way agreement: the
    pure-Python oracle derives the counts without the engine, the pinned
    constants must equal them, and the Spark pipeline must reproduce them —
    drift on any side fails here before the DuckDB gate ever runs."""
    import tests.oracle as oracle
    from pubmedkb_web_spark.gates.builders import _KG_GATE_PINNED
    from pyspark.sql import functions as F

    pinned = dict(_KG_GATE_PINNED)
    assert oracle.pipeline_annotator_counts(120) == pinned

    t = runner.run_kg_pipeline(spark, str(tmp_path / "kb120"), n_docs=120)
    got = {
        r["annotator"]: r["n"]
        for r in t["triples"].groupBy("annotator").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == pinned


def test_stage_starts_after_all_upstreams_commit(spark, tmp_path):
    """A stage's build runs only once every upstream has committed its
    parquet and marker, and it receives those committed tables."""
    root = str(tmp_path / "kb")
    pipe = runner.CheckpointedPipeline(spark, root, resume=False)
    seen = {}

    def slow(t):
        time.sleep(1.0)
        return spark.range(3)

    def both(t):
        seen["results"] = sorted(pipe.results)
        seen["markers"] = sorted(
            n for n in ("fast", "slow") if os.path.exists(os.path.join(root, n, runner.MARKER))
        )
        seen["inputs"] = {n: (df.count(), df.inputFiles()) for n, df in t.items()}
        return t["fast"].unionByName(t["slow"])

    out = pipe.run([
        runner.Stage("fast", (), lambda t: spark.range(2)),
        runner.Stage("slow", (), slow),
        runner.Stage("both", ("fast", "slow"), both),
    ])
    assert seen["results"] == seen["markers"] == ["fast", "slow"]
    for name, (rows, files) in seen["inputs"].items():
        assert rows == pipe.results[name].row_count
        assert files and all(os.path.join(root, name) in f for f in files)
    assert out["both"].count() == 5
    assert pipe.results["both"].recomputed


def test_failed_stage_stops_the_table_and_reraises(spark, tmp_path):
    """The first failure reaches the caller as the same exception; no stage
    is submitted after it, so its dependents (and those of a stage still
    committing) leave no directory or marker; the running independent stage
    still commits; and no thread outlives the call."""
    root = tmp_path / "kb"
    pipe = runner.CheckpointedPipeline(spark, str(root), resume=False)
    building, failed = threading.Event(), threading.Event()
    raised = []

    def independent(t):
        building.set()
        assert failed.wait(60)
        return spark.range(4)

    def failing(t):
        assert building.wait(60)
        raised.append(RuntimeError("stage failed"))
        failed.set()
        raise raised[0]

    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="stage failed") as err:
        pipe.run([
            runner.Stage("independent", (), independent),
            runner.Stage("failing", (), failing),
            runner.Stage("after_failing", ("failing",), lambda t: t["failing"]),
            runner.Stage("after_independent", ("independent",), lambda t: t["independent"]),
        ])
    assert err.value is raised[0]
    assert sorted(os.listdir(root)) == ["independent"]
    assert os.path.exists(root / "independent" / runner.MARKER)
    assert pipe.results["independent"].row_count == 4
    assert sorted(pipe.results) == ["independent"]
    assert set(threading.enumerate()) - threads == set()


def test_table_rejects_upstream_not_listed_before(spark, tmp_path):
    pipe = runner.CheckpointedPipeline(spark, str(tmp_path / "kb"), resume=False)
    with pytest.raises(ValueError, match="'b'.*not listed: \\['c'\\]"):
        pipe.run([
            runner.Stage("a", (), lambda t: spark.range(1)),
            runner.Stage("b", ("a", "c"), lambda t: t["a"]),
            runner.Stage("c", (), lambda t: spark.range(1)),
        ])
    assert not os.path.exists(tmp_path / "kb")


@pytest.mark.parametrize("caller", ["fixture", "uncached", "cached"])
def test_build_caches_the_dictionary_only_while_it_runs(spark, tmp_path, monkeypatch, caller):
    """The entity dictionary is cached while the build runs and released
    when it returns, unless the caller had cached it: the fixture default,
    a caller's uncached frame and a caller's cached frame."""
    ed = fixtures.entity_dict_df(spark)
    kwargs = {"entity_dict": ed}
    if caller == "fixture":
        monkeypatch.setattr(fixtures, "entity_dict_df", lambda spark, seed: ed)
        kwargs = {}
    if caller == "cached":
        ed.cache()
    seen = []
    canonical_map = canonicalize.canonical_map

    def spy(d):
        seen.append(d.storageLevel)
        return canonical_map(d)

    monkeypatch.setattr(canonicalize, "canonical_map", spy)
    try:
        runner.run_kg_pipeline(spark, str(tmp_path / "kb"), n_docs=20, **kwargs)
        assert seen and seen[0] != StorageLevel.NONE
        assert (ed.storageLevel != StorageLevel.NONE) == (caller == "cached")
    finally:
        ed.unpersist()


def test_failed_build_releases_the_dictionary(spark, tmp_path, monkeypatch):
    """A stage failure reaches the caller of run_kg_pipeline, the build
    releases the dictionary it cached, and no stage downstream of the
    failed one is written."""
    ed = fixtures.entity_dict_df(spark)

    def boom(d):
        raise RuntimeError("canonical_map failed")

    monkeypatch.setattr(canonicalize, "canonical_map", boom)
    root = tmp_path / "kb"
    with pytest.raises(RuntimeError, match="canonical_map failed"):
        runner.run_kg_pipeline(spark, str(root), n_docs=20, entity_dict=ed)
    assert ed.storageLevel == StorageLevel.NONE
    assert "triples" not in os.listdir(root)


def test_build_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Every stage runs with the caller's local properties, so a build adds
    no job without the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kg_build_caller", "caller's job group")
    try:
        runner.run_kg_pipeline(spark, str(tmp_path / "kb"), n_docs=20)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("kg_build_caller")) > 20


def test_truncated_marker_recomputes_from_that_stage(spark, tmp_path):
    """A torn ``_graft_meta.json`` is a stale marker, not a crash: resume
    recomputes from that stage, outputs are identical, and publishing
    markers leaves no temp file behind."""
    out = str(tmp_path / "kb")
    first = _collect_triples(runner.run_kg_pipeline(spark, out, n_docs=40))
    marker = os.path.join(out, "annotations", runner.MARKER)
    with open(marker, "rb") as f:
        head = f.read()[:20]
    with open(marker, "wb") as f:
        f.write(head)

    t2 = runner.run_kg_pipeline(spark, out, n_docs=40)
    res = t2["_pipeline"].results
    assert not any(res[s].recomputed for s in ("source", "sentences", "mentions"))
    assert res["annotations"].recomputed
    assert _collect_triples(t2) == first
    with open(marker) as f:
        assert json.load(f)["fingerprint"] == res["annotations"].fingerprint
    for stage in res:
        leftovers = [
            fn for fn in os.listdir(os.path.join(out, stage))
            if fn.startswith("_graft_meta") and fn != runner.MARKER
        ]
        assert not leftovers, (stage, leftovers)


def test_file_uri_root_commits_and_resumes(spark, tmp_path):
    """A ``file://`` checkpoint root is its local path: the stage commits
    its parquet, marker and partition metrics there, and a resume over the
    same URI reads the stage back."""
    root = "file://" + str(tmp_path / "kb")

    def build():
        return spark.range(10).toDF("id")

    pipe = runner.CheckpointedPipeline(spark, root)
    pipe.stage("s", build)
    with open(tmp_path / "kb" / "s" / runner.MARKER) as f:
        meta = json.load(f)
    assert meta["row_count"] == 10
    assert meta["partitions"] and sum(p["rows"] for p in meta["partitions"]) == 10

    again = runner.CheckpointedPipeline(spark, root)
    assert again.stage("s", build).count() == 10
    assert again.results["s"].recomputed is False


def _jobs(spark, group, fn):
    """Spark jobs that ``fn()`` runs, counted by a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_by", [None, ["part"]])
def test_read_back_runs_no_job(spark, tmp_path, partition_by):
    """A committed stage is read back with a known schema, not by parquet
    schema inference: committing runs only the write's jobs, and resuming
    runs none."""
    tag = "part" if partition_by else "flat"

    def build():
        return spark.range(10).selectExpr("id", "id % 2 AS part")

    def write():
        w = build().write.mode("overwrite")
        (w.partitionBy(*partition_by) if partition_by else w).parquet(str(tmp_path / "plain"))

    def stage():
        pipe = runner.CheckpointedPipeline(spark, str(tmp_path / "kb"))
        return pipe.stage("s", build, partition_by=partition_by)

    committed, resumed = [], []
    commit_jobs = _jobs(spark, f"readback-commit-{tag}", lambda: committed.append(stage()))
    assert commit_jobs == _jobs(spark, f"readback-write-{tag}", write) >= 1
    assert _jobs(spark, f"readback-resume-{tag}", lambda: resumed.append(stage())) == 0
    # partition columns keep their written type (inference reads 'part' as int)
    assert committed[0].schema == resumed[0].schema
    assert dict(committed[0].dtypes)["part"] == "bigint"


def test_read_back_schemas_equal_the_inferred_ones(spark, small_kb):
    """Every core stage reads back, committed or resumed, with the schema
    parquet inference gives its files (the partitioned triples included),
    and a resume over the complete root runs no Spark job."""
    root = small_kb["_pipeline"].out_dir
    resumed = {}
    jobs = _jobs(
        spark, "readback-resume-kb",
        lambda: resumed.update(runner.run_kg_pipeline(spark, root, n_docs=120)),
    )
    assert not any(r.recomputed for r in resumed["_pipeline"].results.values())
    assert jobs == 0
    for name, df in small_kb.items():
        if name == "_pipeline":
            continue
        inferred = spark.read.parquet(os.path.join(root, name)).schema
        assert df.schema == inferred, name
        assert resumed[name].schema == inferred, name


def test_non_file_uri_root_rejected_before_writing(spark, tmp_path, monkeypatch):
    """Markers and partition metrics use local file IO, so a non-``file:``
    root fails with a ValueError naming it before any Spark job runs."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="s3a://b/kb"):
        runner.CheckpointedPipeline(spark, "s3a://b/kb")
    sc = spark.sparkContext
    sc.setJobGroup("uri_root_probe", "non-file checkpoint root")
    try:
        with pytest.raises(ValueError, match="s3a://b/kb"):
            runner.run_kg_pipeline(spark, "s3a://b/kb", n_docs=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("uri_root_probe")) == []
    assert os.listdir(tmp_path) == []
