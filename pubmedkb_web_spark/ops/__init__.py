"""Large-scale training-data pipeline operators.

Beyond the reference's own query surface, a 100 TB corpus engine needs the
data-curation operators graded as first-class alongside SURVEY.md §2:

dedup.py       exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard;
               the clique/star bucket split both near-dup joins use
similarity.py  LSH and IVF ANN probes, embedding near-dup, text embedding;
               exact cosine top-k re-exported from query/retrieval.py, whose
               one dot product every cosine and signature uses
textstats.py   language-ID, quality scoring, token counting, fingerprinting,
               the token n-grams that dedup shingles
multimodal.py  binary-column plumbing (decode stubbed: libs not in image)

Every hash-derived value uses the md5-int60 / Mersenne-31 affine family
(functions/hashing.py) so the DuckDB oracle verifies signatures
value-for-value.
"""
