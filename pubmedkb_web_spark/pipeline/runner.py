"""Pipeline orchestration with per-stage checkpoints, lineage and metrics.

North-rule requirements: resumable from per-stage checkpoints with
per-partition lineage + metrics. Each stage writes its output parquet and a
``_graft_meta.json`` marker containing the stage fingerprint (name + config
+ upstream fingerprints — a Merkle-style lineage chain), the row count and
per-partition row metrics. On resume, a stage whose marker matches its
fingerprint is *read back* instead of recomputed; the first stage with a
stale/missing marker recomputes, and everything downstream follows.

Determinism guarantees that make resume byte-stable: no
monotonically_increasing_id, no RNG, no wall-clock anywhere in the stages
(ids are content hashes, salts are hashes of row keys).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from .. import fixtures
from . import canonicalize, extractors, materialize, mentions

MARKER = "_graft_meta.json"
# driver threads for the stages that run concurrently after `mentions`
TAIL_WORKERS = 6


def _module_source_bytes(name: str, loader, file_path: str | None) -> bytes:
    """Source bytes for a module under ANY deployment: a plain checkout
    (open the file), or a ``spark-submit --py-files`` zip, where
    ``__file__`` is a path INSIDE the archive (``.../pkg.zip/pkg/mod.py``)
    that ``open()`` rejects with NotADirectoryError — the loader's
    ``get_source`` (zipimporter implements it) is the portable read. The
    round-3 fallback opened ``__file__`` directly and crashed every
    executor of a --py-files deployment (found by tools/submit_smoke.py)."""
    if loader is not None and hasattr(loader, "get_source"):
        try:
            src = loader.get_source(name)
            if src is not None:
                return src.encode()
        except (ImportError, OSError):
            pass
    if file_path:
        with open(file_path, "rb") as f:
            return f.read()
    raise OSError(f"no source available for module {name}")


def _compute_code_fingerprint() -> str:
    """Hash of the pipeline's own source modules. Mixed into every stage
    fingerprint so a checkpoint written by *older code* can never be read
    back as current — without it, editing an extractor silently resumed
    stale parquet (round-1 ADVICE)."""
    import hashlib
    import inspect

    from .. import fixtures as _fx, schemas as _sc
    from . import canonicalize as _cn, extractors as _ex, materialize as _mt, mentions as _mn

    h = hashlib.sha256()
    for mod in (_mn, _ex, _cn, _mt, _fx, _sc):
        try:
            h.update(inspect.getsource(mod).encode())
        except (OSError, TypeError):
            h.update(
                _module_source_bytes(
                    mod.__name__, getattr(mod, "__loader__", None), getattr(mod, "__file__", None)
                )
            )
    # this module last (can't inspect itself during import on some loaders);
    # __loader__ is set in the module globals while the body executes
    h.update(_module_source_bytes(__name__, globals().get("__loader__"), __file__))
    return h.hexdigest()[:16]


CODE_FINGERPRINT = _compute_code_fingerprint()


def _fingerprint(name: str, config: dict, upstream: list[str]) -> str:
    import hashlib

    payload = json.dumps(
        {
            "name": name,
            "config": config,
            "upstream": sorted(upstream),
            "code": CODE_FINGERPRINT,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _partition_metrics(path: str) -> list[dict]:
    """Per-output-partition row counts read from the committed parquet
    FOOTERS (pyarrow metadata only — no Spark job, no data scan, ~ms).

    Round 1 computed this with a groupBy(spark_partition_id()) pass, which
    added a fixed extra job per stage — a major share of the ~25 s serial
    stage-commit floor that capped end-to-end scaling efficiency. The
    committed files ARE the stage's partitions, so footer counts are the
    honest per-partition lineage record."""
    import pyarrow.parquet as pq

    files = []
    for root, _dirs, fnames in os.walk(path):
        for fn in fnames:
            if fn.endswith(".parquet"):
                files.append(os.path.join(root, fn))
    files.sort()
    return [
        {
            "partition": i,
            "rows": int(pq.ParquetFile(f).metadata.num_rows),
            "file": os.path.relpath(f, path),
        }
        for i, f in enumerate(files)
    ]


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    row_count: int
    recomputed: bool
    partitions: list[dict] = field(default_factory=list)
    seconds: float = 0.0


def _local_root(out_dir: str) -> str:
    """The checkpoint root as a local path. Markers, footer metrics and
    existence checks use local file IO, so a ``file:`` URI maps to its path
    and any other scheme is rejected before a Spark job writes under it."""
    uri = urlparse(out_dir)
    if uri.scheme == "file" and uri.netloc in ("", "localhost"):
        return unquote(uri.path)
    if uri.scheme:
        raise ValueError(
            f"checkpoint root {out_dir!r}: only local paths and file: URIs "
            "are supported"
        )
    return out_dir


class CheckpointedPipeline:
    """Runs named stages with checkpoint/resume over a parquet root: a
    local path or a ``file:`` URI."""

    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True):
        self.spark = spark
        self.out_dir = _local_root(out_dir)
        self.resume = resume
        self.results: dict[str, StageResult] = {}

    def _marker_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name, MARKER)

    @staticmethod
    def _read_marker(marker: str) -> dict | None:
        """The committed marker, or None when it is missing, unreadable or
        not valid JSON: a torn marker is treated as stale, so its stage
        recomputes instead of failing the resume."""
        try:
            with open(marker) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    @staticmethod
    def _write_marker(marker: str, meta: dict) -> None:
        """Publish the marker atomically: a reader sees the old marker or
        the complete new one, never a prefix. The temp file's ``_`` prefix
        keeps it out of Spark's parquet listing of the stage directory."""
        fd, tmp = tempfile.mkstemp(prefix="_graft_meta.", dir=os.path.dirname(marker))
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(meta, f, indent=1)
            os.replace(tmp, marker)
        except BaseException:
            os.unlink(tmp)
            raise

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        config: dict | None = None,
        upstream: list[str] | None = None,
        partition_by: list[str] | None = None,
        session_confs: dict[str, str] | None = None,
    ) -> DataFrame:
        """``session_confs``: SQL confs set for THIS stage's execution and
        restored afterwards. The confs are session-wide, not per thread, so
        they are race-free only while no other stage runs. ``stage`` may be
        called from several threads at once (``run_kg_pipeline`` submits
        its tail stages to a thread pool), so ``session_confs`` is accepted
        only from the main thread, which runs the serial stages
        (``ValueError`` otherwise). It is how heterogeneous stages coexist
        in one session: the mentions window sort degrades superlinearly once
        post-shuffle partitions grow past a few MB (3.2M docs, 8 cores:
        391 s at 64 MB-ish partitions vs 110 s at 4 MB), while the
        aggregation/write stages pay pure task overhead at 4 MB (tail wall
        4× worse) — no single advisory size serves both."""
        if session_confs and threading.current_thread() is not threading.main_thread():
            raise ValueError(
                f"stage {name!r}: session_confs are session-wide and need the "
                "main thread; concurrently submitted stages cannot set them"
            )
        config = config or {}
        upstream_fps = [self.results[u].fingerprint for u in (upstream or [])]
        fp = _fingerprint(name, config, upstream_fps)
        path = os.path.join(self.out_dir, name)
        marker = self._marker_path(name)

        meta = self._read_marker(marker) if self.resume else None
        if meta is not None and meta.get("fingerprint") == fp:
            df = self.spark.read.parquet(path)
            self.results[name] = StageResult(
                name, path, fp, meta["row_count"], recomputed=False,
                partitions=meta.get("partitions", []),
            )
            return df

        import time

        t0 = time.time()
        saved: dict[str, str | None] = {}
        for k, v in (session_confs or {}).items():
            saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)
        try:
            df = build()
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
        out = self.spark.read.parquet(path)
        parts = _partition_metrics(path)
        row_count = sum(p["rows"] for p in parts)
        self._write_marker(
            marker,
            {
                "stage": name,
                "fingerprint": fp,
                "upstream": upstream or [],
                "row_count": row_count,
                "partitions": parts,
                "config": config,
            },
        )
        self.results[name] = StageResult(
            name, path, fp, row_count, True, parts, seconds=round(time.time() - t0, 3)
        )
        return out


def run_kg_pipeline(
    spark: SparkSession,
    out_dir: str,
    n_docs: int | None = None,
    source_df: DataFrame | None = None,
    entity_dict: DataFrame | None = None,
    seed: int = fixtures.SEED,
    resume: bool = True,
    with_dedup: bool = False,
    with_ann_index: bool | str = False,
    with_quality: bool = False,
) -> dict[str, DataFrame]:
    """Full M0→M4 build. Returns the materialized DataFrames by name.

    ``with_quality`` adds a ``doc_quality`` stage: the one-scan composed
    corpus-cleaning pass (``ops.textstats.document_quality`` — Gopher
    rules + PII scrub + C4 line cleaning, map-only) over the source
    corpus, materialized like every other stage.

    ``with_dedup`` adds a ``near_dup_pairs`` stage (MinHash+LSH over the
    source corpus, shingle/signature relations materialized under
    ``out_dir/near_dup_work``, hot buckets star-collapsed at 1024) and
    ``with_ann_index`` adds an ``ann_index`` stage over a deterministic
    text embedding: ``True``/``"lsh"`` writes the hyperplane-signature
    layout (parquet-PARTITIONED by ``_sig``, the build_ann_index shape);
    ``"ivf"`` trains the deterministic coarse quantizer, writes inverted
    lists PARTITIONED by ``_cent`` (the ivf_build shape) plus the
    centroid JSON (``out_dir/ann_index_centroids.json``) probes need.
    Both are OPTIONAL tail
    stages with the same fingerprint-resume contract as every other
    stage; they read only the completed source stage, so enabling them
    never changes the core tables' counts (round-4 VERDICT #7)."""
    pipe = CheckpointedPipeline(spark, out_dir, resume=resume)
    out_dir = pipe.out_dir
    if entity_dict is None:
        entity_dict = fixtures.entity_dict_df(spark, seed)
    entity_dict = entity_dict.cache()

    src_cfg = {"n_docs": n_docs, "seed": seed, "external": source_df is not None}
    source = pipe.stage(
        "source",
        lambda: fixtures.ingest(
            source_df if source_df is not None else fixtures.source_table(spark, n_docs or 0, seed)
        ),
        config=src_cfg,
    )

    # driver-side scalar computed ONCE per run, before any stage needs it
    # (round-3 VERDICT #3: keep tiny dictionary jobs off stage critical
    # paths — entity_dict is cached, this is one narrow aggregate)
    from pyspark.sql import functions as F

    dict_max_tokens = int(
        entity_dict.agg(
            F.max(F.size(F.split("name", " "))).alias("m")
        ).collect()[0]["m"]
    )

    sents_ments: dict[str, DataFrame] = {}

    def build_m1() -> tuple[DataFrame, DataFrame]:
        if "pair" not in sents_ments:
            s, m = mentions.build_mentions(source, entity_dict, max_tokens=dict_max_tokens)
            sents_ments["pair"] = (s, m)
        return sents_ments["pair"]

    sentences = pipe.stage("sentences", lambda: build_m1()[0], upstream=["source"])
    # The n-gram window sort is the one stage whose cost is superlinear in
    # post-shuffle partition size (3.2M docs / 8 cores: 391 s at session
    # defaults vs 110 s with data-sized small partitions — the sort
    # thrashes once a partition's token rows outgrow the execution-memory
    # sweet spot). Scale its shuffle width with the SENTENCE count (known
    # from the completed sentences stage's lineage) and pin a small AQE
    # advisory so coalescing keeps sort partitions small; every other
    # stage keeps the session's aggregation-friendly settings.
    m_shuffle = max(
        spark.sparkContext.defaultParallelism * 2,
        pipe.results["sentences"].row_count // 50_000,
    )
    mention_df = pipe.stage(
        "mentions",
        lambda: build_m1()[1],
        upstream=["source"],
        session_confs={
            "spark.sql.shuffle.partitions": str(m_shuffle),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        },
    )

    # GLOF track (server.py:1292-1334 + 1472-1523): GLOF term mentions,
    # overlap-subtracted against normal mentions, rolled into the
    # entity-GLOF evidence table that /query_ent_glof serves.
    glof_dict = fixtures.glof_dict_df(spark)
    glof_max_tokens = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)

    def build_glof() -> DataFrame:
        gm = mentions.build_glof_mentions(sentences, glof_dict, glof_max_tokens)
        merged = mentions.subtract_glof_overlaps(mention_df, gm)
        return mentions.glof_evidence(merged)

    # Independent stages run CONCURRENTLY from driver threads: Spark
    # schedules their jobs side by side, overlapping each stage's commit
    # (write + footer metrics) with the others' compute instead of paying
    # the serial per-stage floor once per stage. Dependencies are already
    # materialized when each is submitted, so every submission only reads
    # completed results.
    from concurrent.futures import ThreadPoolExecutor

    entity_types = entity_dict.select("id", "type").distinct()
    with ThreadPoolExecutor(max_workers=TAIL_WORKERS) as ex:
        # r7: canonical_map (needs only the entity dict) and glof (needs
        # the committed sentences + mentions) used to run SERIALLY around
        # the triples stage — ~3 s and the slowest tail stage respectively,
        # both on the critical path. Submitting them here overlaps both
        # with the annotations stage, whose shuffle stalls leave executors
        # idle (guide §2.6: overlap independent jobs to back-fill).
        # annotations itself sets no session confs, so there is no
        # conf-race with concurrently built stages.
        f_canon = ex.submit(
            pipe.stage,
            "canonical_map",
            lambda: canonicalize.canonical_map(entity_dict),
            config={"seed": seed},
        )
        f_glof = ex.submit(
            pipe.stage, "glof", build_glof,
            upstream=["sentences", "mentions"],
            config={"terms": sorted(t for t, _ in fixtures.GLOF_TERMS)},
        )
        annotations = pipe.stage(
            "annotations",
            # the committed sentences table is one row per (doc_id, sent_idx)
            # by construction, so its lineage row_count IS the distinct
            # sentence total — passing it removes a full distinct+count job
            # over the sentence table from this stage's critical path
            lambda: extractors.extract_all(
                mention_df,
                sentences,
                n_sentences=pipe.results["sentences"].row_count,
            ),
            upstream=["sentences", "mentions"],
        )
        canon = f_canon.result()
        triples = pipe.stage(
            "triples",
            lambda: materialize.dedup_triples(
                canonicalize.rewrite_triples(extractors.to_triples(annotations), canon)
            ),
            upstream=["annotations", "canonical_map"],
            partition_by=["annotator"],
        )

        f_postings = ex.submit(
            pipe.stage,
            "entity_postings",
            lambda: materialize.build_entity_postings(annotations).repartition(
                spark.sparkContext.defaultParallelism, "type", "key"
            ),
            upstream=["annotations"],
        )
        f_pair = ex.submit(
            pipe.stage, "pair_stats",
            lambda: materialize.build_pair_stats(triples), upstream=["triples"],
        )
        f_chem = ex.submit(
            pipe.stage, "chem_disease",
            lambda: materialize.build_chem_disease(triples, entity_types),
            upstream=["triples"],
        )
        f_cgd = ex.submit(
            pipe.stage, "cgd_paths",
            lambda: materialize.build_cgd_paths(triples, entity_types),
            upstream=["triples"],
        )
        f_meta = ex.submit(
            pipe.stage, "meta",
            lambda: fixtures.meta_table(spark, source, seed), upstream=["source"],
        )
        f_dedup = f_ann = f_quality = None
        if with_quality:
            from ..ops import textstats as textstats_ops

            f_quality = ex.submit(
                pipe.stage,
                "doc_quality",
                lambda: textstats_ops.document_quality(source, text_col="content"),
                upstream=["source"],
                # published defaults; named in the fingerprint so a future
                # threshold change re-runs the stage instead of resuming
                config={"families": "gopher+pii+c4", "thresholds": "published-defaults"},
            )
        if with_dedup:
            from ..ops import dedup as dedup_ops

            dedup_cfg = {
                "threshold": 0.7, "n_shingle": 3, "num_hashes": 8,
                "bands": 4, "max_bucket_size": 1024,
            }

            def build_dedup() -> DataFrame:
                # shingle/signature relations materialize ONCE under the
                # pipeline root so the candidate/verify branches re-scan
                # thin tables instead of recomputing the corpus pass
                return dedup_ops.near_duplicates_minhash(
                    source,
                    threshold=dedup_cfg["threshold"],
                    id_col="doc_id",
                    text_col="content",
                    work_dir=os.path.join(out_dir, "near_dup_work"),
                    max_bucket_size=dedup_cfg["max_bucket_size"],
                )

            f_dedup = ex.submit(
                pipe.stage, "near_dup_pairs", build_dedup,
                upstream=["source"], config=dedup_cfg,
            )
        if with_ann_index:
            from ..ops import similarity as sim_ops

            ann_kind = (
                "ivf" if str(with_ann_index).lower() == "ivf" else "lsh"
            )
            if ann_kind == "lsh":
                ann_cfg = {"kind": "lsh", "dim": 16, "n_planes": 8}

                def build_ann() -> DataFrame:
                    emb = sim_ops.embed_text(
                        source, text_col="content", id_col="doc_id",
                        dim=ann_cfg["dim"],
                    )
                    return emb.withColumn(
                        "_sig",
                        sim_ops.hyperplane_signature(
                            F.col("embedding"), ann_cfg["dim"], ann_cfg["n_planes"]
                        ),
                    )

                ann_part = "_sig"
            else:
                ann_cfg = {
                    "kind": "ivf", "dim": 16, "n_centroids": 8, "n_iter": 4,
                }

                def build_ann() -> DataFrame:
                    emb = sim_ops.embed_text(
                        source, text_col="content", id_col="doc_id",
                        dim=ann_cfg["dim"],
                    )
                    centroids = sim_ops.ivf_train(
                        emb,
                        n_centroids=ann_cfg["n_centroids"],
                        n_iter=ann_cfg["n_iter"],
                        id_col="doc_id",
                    )
                    # probe-side artifact, persisted beside the stage
                    # parquet: a RESUMED stage skips build_ann, so the
                    # file written by the original run is the contract
                    with open(
                        os.path.join(out_dir, "ann_index_centroids.json"), "w"
                    ) as f:
                        json.dump(centroids, f)
                    return sim_ops.ivf_assign(emb, centroids)

                ann_part = "_cent"

            # the partition column ("_sig" sign buckets / "_cent" inverted
            # lists) gives the stage parquet the exact partition-pruned
            # layout build_ann_index / ivf_build write: probe-set filters
            # touch only the probed buckets' directories. "kind" in the
            # config makes switching layouts a fingerprint change, so a
            # resume never serves one layout as the other.
            f_ann = ex.submit(
                pipe.stage, "ann_index", build_ann,
                upstream=["source"], config=ann_cfg, partition_by=[ann_part],
            )
        glof = f_glof.result()
        postings = f_postings.result()
        pair_stats = f_pair.result()
        chem_disease = f_chem.result()
        cgd_paths = f_cgd.result()
        meta = f_meta.result()
        near_dup = f_dedup.result() if f_dedup is not None else None
        ann_index = f_ann.result() if f_ann is not None else None
        doc_quality = f_quality.result() if f_quality is not None else None
    out = {
        "source": source,
        "sentences": sentences,
        "mentions": mention_df,
        "annotations": annotations,
        "canonical_map": canon,
        "triples": triples,
        "entity_postings": postings,
        "pair_stats": pair_stats,
        "chem_disease": chem_disease,
        "cgd_paths": cgd_paths,
        "glof": glof,
        "meta": meta,
        "_pipeline": pipe,  # type: ignore[dict-item]
    }
    if near_dup is not None:
        out["near_dup_pairs"] = near_dup
    if ann_index is not None:
        out["ann_index"] = ann_index
    if doc_quality is not None:
        out["doc_quality"] = doc_quality
    return out
