"""Pipeline orchestration: one stage table, one scheduler, per-stage
checkpoints with lineage and metrics.

The KG build is a table of :class:`Stage` rows (``run_kg_pipeline``). Each
row names a stage, its upstream stages, a build function over the
committed upstream tables, its config and its ``partition_by``. The
table lists every upstream before the rows that read it.

:meth:`CheckpointedPipeline.run` schedules the table: a stage is submitted
to a pool of ``TAIL_WORKERS`` driver threads as soon as all of its
upstreams have committed, and at no other time, so independent stages run
side by side and Spark schedules their jobs together. Each stage runs with
the caller's local properties (job group, description, tags). On the first
failure nothing more is submitted; the running stages finish and the
error is re-raised.

Each stage writes its output parquet and a ``_graft_meta.json`` marker
containing the stage fingerprint (name + config + upstream fingerprints —
a Merkle-style lineage chain), the row count, per-partition row metrics and
the schema the stage is read back with. On resume, a stage whose marker
matches its fingerprint is *read back* instead of recomputed; the first
stage with a stale/missing marker recomputes, and everything downstream
follows. Both read-backs pass the schema, so neither runs a parquet schema
inference job.

Determinism guarantees that make resume byte-stable: no
monotonically_increasing_id, no RNG, no wall-clock anywhere in the stages
(ids are content hashes).
"""

from __future__ import annotations

import functools
import json
import os
import tempfile
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import fixtures
from . import canonicalize, extractors, materialize, mentions

MARKER = "_graft_meta.json"
# driver threads that run the stages of one table
TAIL_WORKERS = 6
# mentions-stage input width: one partition per this many source docs, and at
# least 2x parallelism. The width rule was one partition per 50k sentences;
# the fixture corpus has 4.01-4.03 sentences per doc (measured: 2,017 at 500
# docs seed 7, 80,165 at 20k docs seed 7, 80,221 at 20k docs seed 1), so 12,500
# docs carry those 50k sentences.
MENTION_DOCS_PER_PARTITION = 12_500


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

    from .. import fixtures as _fx, schemas as _sc
    from . import canonicalize as _cn, extractors as _ex, materialize as _mt, mentions as _mn

    h = hashlib.sha256()
    for mod in (_mn, _ex, _cn, _mt, _fx, _sc):
        h.update(_module_source_bytes(mod.__name__, mod.__loader__, mod.__file__))
    # this module last: __loader__ is set in the module globals while the
    # body executes
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


def _parquet_files(path: str) -> list[str]:
    """The ``.parquet`` files under a stage directory, relative to it and
    sorted: the stage's partitions as the marker records them."""
    return sorted(
        os.path.relpath(os.path.join(root, fn), path)
        for root, _dirs, fnames in os.walk(path)
        for fn in fnames
        if fn.endswith(".parquet")
    )


def _partition_metrics(path: str) -> list[dict]:
    """Per-output-partition row counts read from the committed parquet
    FOOTERS (pyarrow metadata only — no Spark job, no data scan, ~ms).

    Round 1 computed this with a groupBy(spark_partition_id()) pass, which
    added a fixed extra job per stage — a major share of the ~25 s serial
    stage-commit floor that capped end-to-end scaling efficiency. The
    committed files ARE the stage's partitions, so footer counts are the
    honest per-partition lineage record."""
    import pyarrow.parquet as pq

    return [
        {
            "partition": i,
            "rows": int(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows),
            "file": f,
        }
        for i, f in enumerate(_parquet_files(path))
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


@dataclass
class Stage:
    """One row of a stage table. ``build`` receives the committed tables of
    ``upstream`` by name and returns the stage's output plan."""

    name: str
    upstream: tuple[str, ...]
    build: Callable[[dict[str, DataFrame]], DataFrame]
    config: dict | None = None
    partition_by: tuple[str, ...] | None = None


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
    ) -> DataFrame:
        """Commit one stage, or read it back when its marker matches its
        fingerprint and the stage directory holds exactly the part files
        the marker lists (a file listing, no Spark job). Safe to call from
        several threads at once for different stages; each upstream must
        already be in ``results``."""
        config = config or {}
        upstream_fps = [self.results[u].fingerprint for u in (upstream or [])]
        fp = _fingerprint(name, config, upstream_fps)
        path = os.path.join(self.out_dir, name)
        marker = self._marker_path(name)

        meta = self._read_marker(marker) if self.resume else None
        if (
            meta is not None
            and meta.get("fingerprint") == fp
            and [p["file"] for p in meta.get("partitions", [])] == _parquet_files(path)
        ):
            df = self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(path)
            self.results[name] = StageResult(
                name, path, fp, meta["row_count"], recomputed=False,
                partitions=meta.get("partitions", []),
            )
            return df

        import time

        t0 = time.time()
        built = build()
        writer = built.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.schema(built.schema).parquet(path)
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
                "schema": out.schema.jsonValue(),
            },
        )
        self.results[name] = StageResult(
            name, path, fp, row_count, True, parts, seconds=round(time.time() - t0, 3)
        )
        return out

    def run(self, table: list[Stage]) -> dict[str, DataFrame]:
        """Commit every stage of ``table`` and return the committed tables
        by name. A stage is submitted to the pool once all of its upstreams
        have committed, with the caller's local properties. After the first
        failure nothing more is submitted; the running stages finish and
        that failure is raised."""
        listed: set[str] = set()
        for row in table:
            unlisted = [u for u in row.upstream if u not in listed]
            if unlisted or row.name in listed:
                raise ValueError(
                    f"stage {row.name!r}: each name must be unique and each "
                    f"upstream listed before it (not listed: {unlisted})"
                )
            listed.add(row.name)

        done: dict[str, DataFrame] = {}
        pending = list(table)
        running: dict = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=TAIL_WORKERS, thread_name_prefix="stage") as ex:
            while True:
                ready = [r for r in pending if all(u in done for u in r.upstream)]
                for row in ready if error is None else []:
                    pending.remove(row)
                    # wrapped per stage, so each stage gets its own copy of
                    # the caller's local properties
                    commit = inheritable_thread_target(self.spark)(self.stage)
                    inputs = {u: done[u] for u in row.upstream}
                    fut = ex.submit(
                        commit, row.name, functools.partial(row.build, inputs),
                        row.config, list(row.upstream), row.partition_by,
                    )
                    running[fut] = row
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    row = running.pop(fut)
                    try:
                        done[row.name] = fut.result()
                    except BaseException as e:
                        error = error or e
        if error is not None:
            raise error
        return done


def _mentions(source: DataFrame, n_docs: int, entity_dict: DataFrame) -> DataFrame:
    """The mentions stage over the committed source. The input is hashed by
    ``doc_id`` once, so the n-gram window and the per-sentence overlap
    ``groupBy`` (both keyed by ``(doc_id, sent_idx)``) reuse that
    partitioning instead of each shuffling the token rows. The width keeps
    window-sort partitions small: the sort degrades superlinearly once a
    partition's token rows outgrow execution memory (3.2M docs, 8 cores:
    391 s at 64 MB-ish partitions vs 110 s at 4 MB). AQE does not coalesce
    an exchange of a set width, so a small build writes one mentions file
    per partition."""
    width = max(
        2 * source.sparkSession.sparkContext.defaultParallelism,
        n_docs // MENTION_DOCS_PER_PARTITION,
    )
    return mentions.build_mentions(source.repartition(width, "doc_id"), entity_dict)[1]


def run_kg_pipeline(
    spark: SparkSession,
    out_dir: str,
    n_docs: int | None = None,
    source_df: DataFrame | None = None,
    entity_dict: DataFrame | None = None,
    seed: int = fixtures.SEED,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Full M0→M4 build. Returns the materialized DataFrames by name, plus
    the pipeline under ``"_pipeline"``.

    ``entity_dict`` is cached for the duration of the build and released
    when it returns or raises, unless the caller had cached it."""
    pipe = CheckpointedPipeline(spark, out_dir, resume=resume)
    if entity_dict is None:
        entity_dict = fixtures.entity_dict_df(spark, seed)
    entity_types = entity_dict.select("id", "type").distinct()
    glof_dict = fixtures.glof_dict_df(spark)
    glof_max_tokens = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)
    rows = pipe.results  # committed lineage row counts, read by later stages

    def build_glof(t: dict[str, DataFrame]) -> DataFrame:
        # GLOF track (server.py:1292-1334 + 1472-1523): GLOF term mentions,
        # overlap-subtracted against normal mentions, rolled into the
        # entity-GLOF evidence table that /query_ent_glof serves.
        gm = mentions.build_glof_mentions(t["sentences"], glof_dict, glof_max_tokens)
        return mentions.glof_evidence(mentions.subtract_glof_overlaps(t["mentions"], gm))

    table = [
        Stage(
            "source", (),
            lambda t: fixtures.ingest(
                source_df if source_df is not None
                else fixtures.source_table(spark, n_docs or 0, seed)
            ),
            {"n_docs": n_docs, "seed": seed, "external": source_df is not None},
        ),
        Stage("sentences", ("source",), lambda t: mentions.split_sentences(t["source"])),
        Stage(
            "mentions", ("source",),
            lambda t: _mentions(t["source"], rows["source"].row_count, entity_dict),
        ),
        Stage(
            "canonical_map", (), lambda t: canonicalize.canonical_map(entity_dict), {"seed": seed}
        ),
        Stage(
            "annotations", ("sentences", "mentions"),
            # the committed sentences table is one row per (doc_id,
            # sent_idx), so its lineage row count IS the distinct sentence
            # total: no distinct+count job over the sentence table
            lambda t: extractors.extract_all(
                t["mentions"], t["sentences"], n_sentences=rows["sentences"].row_count
            ),
        ),
        Stage(
            "glof", ("sentences", "mentions"), build_glof,
            {"terms": sorted(t for t, _ in fixtures.GLOF_TERMS)},
        ),
        Stage(
            "triples", ("annotations", "canonical_map"),
            lambda t: materialize.dedup_triples(
                canonicalize.rewrite_triples(
                    extractors.to_triples(t["annotations"]), t["canonical_map"]
                )
            ),
            partition_by=("annotator",),
        ),
        Stage(
            "entity_postings", ("annotations",),
            lambda t: materialize.build_entity_postings(t["annotations"]).repartition(
                spark.sparkContext.defaultParallelism, "type", "key"
            ),
        ),
        Stage("pair_stats", ("triples",), lambda t: materialize.build_pair_stats(t["triples"])),
        Stage(
            "chem_disease", ("triples",),
            lambda t: materialize.build_chem_disease(t["triples"], entity_types),
        ),
        Stage(
            "cgd_paths", ("triples",),
            lambda t: materialize.build_cgd_paths(t["triples"], entity_types),
        ),
        Stage("meta", ("source",), lambda t: fixtures.meta_table(spark, t["source"], seed)),
    ]

    cache_dict = entity_dict.storageLevel == StorageLevel.NONE
    if cache_dict:
        entity_dict.cache()
    try:
        out = pipe.run(table)
    finally:
        if cache_dict:
            entity_dict.unpersist()
    out["_pipeline"] = pipe  # type: ignore[assignment]
    return out
