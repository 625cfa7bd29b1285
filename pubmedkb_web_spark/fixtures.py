"""Deterministic synthetic fixtures (FIXTURES.md §1-§2).

The pipeline's raw input is an Iceberg/parquet table
``source(repo, path, commit, lang, content)`` (BASELINE.json input_hint).
The reference ships no fixtures (SURVEY.md §5), so we synthesize a corpus in
which sentences embed entity surface forms from a generated dictionary at
controlled rates, with one hot entity (the V600E/BRAF analog,
/root/reference/kb_utils.py:2925-2929) ~100× the median frequency to
exercise skew handling.

Scale design: every document is a pure function of ``(seed, doc_index)``
(``gen_doc``), so generation distributes as ``spark.range(n) →
mapInPandas`` with no driver-side materialization, is independent of
partitioning, and the pure-Python test oracle can regenerate any single doc.
"""

from __future__ import annotations

import hashlib
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas
from .query import bound

SEED = 42

FILLER = (
    "the a and of in with patients study results analysis observed reported "
    "cohort clinical significant expression pathway tumor cells mutation level "
    "treatment response data group risk association effect role function model"
).split()

PREDICATES = ["inhibits", "activates", "causes", "treats", "binds", "regulates"]

# GLOF surface forms → direction (gof/lof) — the GeVarToGLOF store vocabulary
# shape (/root/reference/server.py:1472-1523 serves gof/lof pmid→sid maps).
GLOF_TERMS = [
    ("gain of function", "gof"),
    ("loss of function", "lof"),
    ("activating mutation", "gof"),
    ("inactivating mutation", "lof"),
    ("constitutively active", "gof"),
    ("reduced activity", "lof"),
]

# golden ids reused verbatim from the reference's own test queries
# (/root/reference/client.py:68-110, kb_utils.py:2995-3016) so the golden
# spec trees run unchanged against our fixtures.
GOLDEN_SNP_ID = "RS#:113488022"
GOLDEN_DISEASE_ID = "MESH:D009369"
GOLDEN_HGVS_ID = "HGVS:p.V600E"
GOLDEN_GENE_ID = "CorrespondingGene:673"


def build_entity_dict(seed: int = SEED) -> pd.DataFrame:
    """entity_dict(type, id, name, freq) — FIXTURES.md §2.

    Mirrors the flattened NEN tables (kb_utils.py:272-294). Includes:
    case-flip + 1-char-edit aliases (fuzzy tests, similarity ≈0.85-1.0),
    Zipf frequencies with ties, ids shared across VARIANT subtypes
    (umbrella-expansion tests, kb_utils.py:58-67), and the golden ids above.
    """
    rng = random.Random(seed * 7919 + 1)
    rows: list[tuple[str, str, str, int]] = []

    def add(etype: str, eid: str, name: str, freq: int) -> None:
        rows.append((etype, eid, name, freq))

    # genes: single-token lowercase symbols; one hot gene 'braf'
    gene_names = ["braf"] + [f"gene{i}" for i in range(1, 25)]
    for rank, gname in enumerate(gene_names, start=1):
        gid = GOLDEN_GENE_ID if gname == "braf" else f"CorrespondingGene:{1000 + rank}"
        # hot entity ≈100× the median dict frequency (FIXTURES.md §1) —
        # enough to exercise hot-key aggregation without starving every other pair type
        freq = (6_000 if gname == "braf" else 0) + max(1, 1000 // rank)
        add("Gene", gid, gname, freq)
        add("Gene", gid, gname.upper(), max(1, freq // 3))  # case alias
        if rank % 5 == 0:  # 1-char-edit alias for fuzzy-match fixtures
            add("Gene", gid, gname + "x", max(1, freq // 10))

    # diseases: include multi-token names
    disease_names = ["melanoma"] + [f"disease{i}" for i in range(1, 20)] + [
        "lung cancer",
        "breast carcinoma",
    ]
    for rank, dname in enumerate(disease_names, start=1):
        did = GOLDEN_DISEASE_ID if dname == "melanoma" else f"MESH:D{100000 + rank}"
        freq = max(1, 800 // rank)
        add("Disease", did, dname, freq)
        if rank % 4 == 0:
            add("Disease", did, dname.title(), max(1, freq // 2))

    # chemicals
    for rank in range(1, 15):
        add("Chemical", f"MESH:C{200000 + rank}", f"chem{rank}", max(1, 600 // rank))

    # variants: the hot variant p.v600e (ProteinMutation) + SNPs; the golden
    # SNP id also exists under 'Mutation' to exercise umbrella dedup.
    add("ProteinMutation", GOLDEN_HGVS_ID, "p.v600e", 3_000)
    add("ProteinMutation", GOLDEN_GENE_ID, "p.v600e", 1_500)  # gene-constrained id
    add("SNP", GOLDEN_SNP_ID, "rs113488022", 2_500)
    add("Mutation", GOLDEN_SNP_ID, "rs113488022", 250)
    # DNAAcidChange postings: the sixth umbrella type (kb_utils.py:58-67) —
    # umbrella spec queries must pick these up or silently lose recall.
    add("DNAAcidChange", "HGVS:c.1799T>A", "c.1799t>a", 900)
    add("DNAAcidChange", GOLDEN_SNP_ID, "c.1799t>a", 90)  # id shared w/ SNP → umbrella dedup
    for rank in range(1, 12):
        add("SNP", f"RS#:{500000 + rank}", f"rs{500000 + rank}", max(1, 400 // rank))
        add("DNAMutation", f"HGVS:c.{rank}A>G", f"c.{rank}a>g", max(1, 300 // rank))
    rng.shuffle(rows)  # insertion order must not matter anywhere downstream
    return pd.DataFrame(rows, columns=["type", "id", "name", "freq"])


class _DocVocab:
    """Pre-computed sampling tables, pure function of the entity dict.

    cum_weights precomputed once: random.choices() rebuilds the cumulative
    table on every call otherwise (measured ~3× of generation time).
    """

    def __init__(self, entity_pdf: pd.DataFrame) -> None:
        import itertools

        agg = (
            entity_pdf.groupby("name", sort=True)["freq"].sum().reset_index()
        )
        self.names = list(agg["name"])
        self.cum_weights = list(itertools.accumulate(int(w) for w in agg["freq"]))


_VOCAB_CACHE: dict[int, _DocVocab] = {}


def _vocab(seed: int) -> _DocVocab:
    if seed not in _VOCAB_CACHE:
        _VOCAB_CACHE[seed] = _DocVocab(build_entity_dict(seed))
    return _VOCAB_CACHE[seed]


LANGS = ["py", "java", "c", "go", "md"]


def gen_doc(seed: int, i: int) -> tuple[str, str, str, str, str]:
    """Pure per-document generator → (repo, path, commit, lang, content).

    Sentences are space-tokenized; ~60% embed an ``<entity> <predicate>
    <entity>`` pattern (drives the ORE/CRE/odds-ratio extractors), the rest
    mix filler with single entity mentions. Deterministic in (seed, i) only.
    """
    rng = random.Random((seed << 32) ^ (i * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFF))
    vocab = _vocab(seed)
    repo = f"org{i % 7}/repo{i % 23}"
    lang = LANGS[i % len(LANGS)]
    path = f"src/mod{i % 11}/file{i}.{lang}"
    commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()

    n_sent = rng.randint(2, 6)
    sentences = []
    for _ in range(n_sent):
        toks: list[str] = rng.choices(FILLER, k=rng.randint(3, 8))
        r = rng.random()
        if r < 0.6:
            e1 = rng.choices(vocab.names, cum_weights=vocab.cum_weights, k=1)[0]
            e2 = rng.choices(vocab.names, cum_weights=vocab.cum_weights, k=1)[0]
            pred = rng.choice(PREDICATES)
            pos = rng.randint(0, len(toks))
            toks[pos:pos] = [e1, pred, e2]
        elif r < 0.85:
            e1 = rng.choices(vocab.names, cum_weights=vocab.cum_weights, k=1)[0]
            pos = rng.randint(0, len(toks))
            toks[pos:pos] = [e1]
            if r < 0.70:  # co-sentence GLOF phrase → glof_evidence rows
                term = GLOF_TERMS[rng.randint(0, len(GLOF_TERMS) - 1)][0]
                toks[pos + 1 : pos + 1] = [term]
        sentences.append(" ".join(toks))
    content = ". ".join(sentences) + "."
    return repo, path, commit, lang, content


def source_table(spark: SparkSession, n_docs: int, seed: int = SEED) -> DataFrame:
    """Distributed source generator: spark.range(n) → mapInPandas.

    No driver-side materialization; output is identical for any
    partitioning because each row depends only on (seed, id).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_doc(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return (
        spark.range(0, n_docs, 1, max(1, min(n_docs // 50, 256) or 1))
        .mapInPandas(gen, schema=schemas.SOURCE)
    )


def ingest(source_df: DataFrame) -> DataFrame:
    """Add the per-row invariant + stable doc_id at ingest.

    ``content_sha256`` must survive to every derived row (BASELINE.json
    per-row invariant); ``doc_id`` is the pmid analog: deterministic from
    (repo, path, commit), NOT from any row ordering.
    """
    return source_df.withColumn(
        "doc_id",
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).substr(1, 16),
    ).withColumn("content_sha256", F.sha2(F.col("content"), 256))


def entity_dict_df(spark: SparkSession, seed: int = SEED) -> DataFrame:
    """The broadcast-side NEN dictionary as a DataFrame."""
    return spark.createDataFrame(build_entity_dict(seed), schema=schemas.ENTITY_DICT)


def glof_dict_df(spark: SparkSession) -> DataFrame:
    """GLOF term dictionary shaped like the NEN dict: type='GLOF',
    id=direction — so the M1 machinery runs unchanged over the GLOF track."""
    pdf = pd.DataFrame(
        [("GLOF", direction, term, 1) for term, direction in GLOF_TERMS],
        columns=["type", "id", "name", "freq"],
    )
    return spark.createDataFrame(pdf, schema=schemas.ENTITY_DICT)


def journal_impact_table(spark: SparkSession) -> DataFrame:
    """journal_impact.csv-shaped fixture (kb_utils.py:1805-1815): one row
    per distinct fixture journal, covering accept-by-ratio (≥70%),
    accept-by-substring (ratio <70 but match_substring True) and reject
    (ratio <70, no substring) cases."""
    rows = []
    for n in range(20):
        jn = f"journal and rev {n}"  # normalized form of 'Journal & Rev. N'
        if n % 5 == 0:
            ratio, sub = "50%", "False"  # rejected → null impact downstream
        elif n % 3 == 0:
            ratio, sub = "65%", "True"   # accepted via substring
        else:
            ratio, sub = "85%", "False"  # accepted via ratio
        rows.append((jn, 100 + n, ratio, sub, jn, f"{(n % 90) / 10.0:.3f}"))
    schema = T.StructType(
        [
            T.StructField("journal", T.StringType()),
            T.StructField("articles", T.LongType()),
            T.StructField("match_ratio", T.StringType()),
            T.StructField("match_substring", T.StringType()),
            T.StructField("match_journal", T.StringType()),
            T.StructField("match_impact", T.StringType()),
        ]
    )
    return bound.local_relation(spark, rows, schema)


def meta_table(spark: SparkSession, source_ingested: DataFrame, seed: int = SEED) -> DataFrame:
    """meta(doc_id, …) fixture — FIXTURES.md §6, kb_utils.py:1818-1831.

    Derived deterministically from doc_id so it needs no extra generator
    state; includes non-numeric year/citation fallback cases
    (server.py:846-869) and journals needing normalization.
    ``journal_impact`` comes through the real build-side path: normalized
    journal name → acceptance-filtered impact map broadcast join
    (kb_utils.py:1812-1830), NOT a fabricated column."""
    from .query import kbqueries

    h = F.conv(F.substring("doc_id", 1, 8), 16, 10).cast("long")
    base = source_ingested.select(
        "doc_id",
        F.concat(F.lit("title "), F.col("path")).alias("title"),
        F.concat(F.lit("author"), (h % 50).cast("string")).alias("author"),
        F.when(h % 37 == 0, F.lit("n/a")).otherwise((1990 + h % 35).cast("string")).alias("year"),
        F.concat(F.lit("Journal & Rev. "), (h % 20).cast("string")).alias("journal"),
        F.concat(F.lit("10.1000/"), F.col("doc_id")).alias("doi"),
        F.array(F.lit("Journal Article")).alias("pub_types"),
        (h % 1000).cast("long").alias("citation"),
    )
    impact = kbqueries.journal_impact_map(journal_impact_table(spark))
    return kbqueries.enrich_meta_with_impact(base, impact)
