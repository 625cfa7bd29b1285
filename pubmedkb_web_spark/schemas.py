"""Table contracts (SURVEY.md §1.2) as explicit StructTypes.

The reference keeps schemas implicit (positional destructuring + header
asserts, /root/reference/kb_utils.py:490,563,1474-1501); here every table is
a typed columnar contract so parquet scans prune columns and push predicates.
tests/test_schemas.py checks each committed KG stage against its contract.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- source
# BASELINE.json input_hint: Iceberg table of source-code repositories.
SOURCE = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# source + the per-row invariant column added at ingest
SOURCE_INGESTED = T.StructType(
    SOURCE.fields
    + [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# ------------------------------------------------------------ dictionary
# NEN tables flattened to one long table (kb_utils.py:272-294): all four
# reference views (typeid_name_frequency, name_type_id_frequency,
# length_name, typeid_to_most_frequent_name) are groupBy/window over this.
ENTITY_DICT = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
    ]
)

# ------------------------------------------------------------- M1 output
# sentence record [sentence_index, sentence, mention_list]
# (kb_utils.py:1474-1484), normalized.
SENTENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("sentence", T.StringType(), False),
        T.StructField("section", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# mention [name, type, id_list, start_pos] (kb_utils.py:1474-1484)
MENTIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("mention_idx", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("ids", T.ArrayType(T.StringType()), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# ------------------------------------------------------------- M2 output
# annotation record [sid, h_list, t_list, annotator, annotation]
# (kb_utils.py:1486-1501) with payload superset-struct instead of a
# heterogeneous dict (server.py:700-718) — nullable typed columns beat
# map<string,string> for Arrow + column pruning.
ANNOTATIONS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("ann_id", T.LongType(), False),
        T.StructField("head", T.ArrayType(T.IntegerType()), False),
        T.StructField("tail", T.ArrayType(T.IntegerType()), False),
        T.StructField("annotator", T.StringType(), False),
        # odds_ratio payload (server.py:705-710): strings, like the reference
        T.StructField("or_value", T.StringType(), True),
        T.StructField("ci", T.StringType(), True),
        T.StructField("p_value", T.StringType(), True),
        # rbert_cre payload: label + "93.2%"-style confidence (server.py:733)
        T.StructField("relation", T.StringType(), True),
        T.StructField("confidence", T.StringType(), True),
        # *_ore payload: triplet of sentence spans
        T.StructField("subject", T.StringType(), True),
        T.StructField("predicate", T.StringType(), True),
        T.StructField("object", T.StringType(), True),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("content_sha256", T.StringType(), False),
        # head/tail entity of the pair, denormalized for the query layer
        T.StructField("h_name", T.StringType(), False),
        T.StructField("h_type", T.StringType(), False),
        T.StructField("h_ids", T.ArrayType(T.StringType()), False),
        T.StructField("t_name", T.StringType(), False),
        T.StructField("t_type", T.StringType(), False),
        T.StructField("t_ids", T.ArrayType(T.StringType()), False),
    ]
)

# normalized triple view — the KG edge table (north_rule sink)
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("annotator", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

# -------------------------------------------------------------- postings
# type_id/type_name inverted indexes (kb_utils.py:1518-1538) as one table.
ENTITY_POSTINGS = T.StructType(
    [
        T.StructField("idx_kind", T.StringType(), False),  # type_id | type_name
        T.StructField("type", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("role", T.StringType(), False),  # head | tail
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ann_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# ----------------------------------------------------------------- meta
# pmid → meta + journal impact (kb_utils.py:1787-1831)
META = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("year", T.StringType(), True),  # string, cast ad hoc (server.py:855-859)
        T.StructField("journal", T.StringType(), True),
        T.StructField("doi", T.StringType(), True),
        T.StructField("pub_types", T.ArrayType(T.StringType()), True),
        T.StructField("citation", T.LongType(), True),
        T.StructField("journal_impact", T.StringType(), True),
    ]
)

# ------------------------------------------------------------ aux tables
CHEM_DISEASE = T.StructType(
    [
        T.StructField("c", T.StringType(), False),
        T.StructField("d", T.StringType(), False),
        T.StructField("level", T.StringType(), False),  # paper | sentence
        T.StructField("doc_id", T.StringType(), False),
    ]
)

# umbrella type expansion (kb_utils.py:58-67): VARIANT → six concrete types
VARIANT_TYPES = [
    "ProteinMutation",
    "DNAMutation",
    "SNP",
    "CopyNumberVariant",
    "Mutation",
    "DNAAcidChange",
]

CRE_LABELS = ["Cause-associated", "In-patient", "Appositive"]
# label weights for summary selection (summary_utils.py:20-24)
CRE_LABEL_WEIGHT = {"Cause-associated": 3, "In-patient": 2, "Appositive": 1}
