"""Large-scale training-data pipeline operators.

Beyond the reference's own query surface, a 100 TB corpus engine needs the
data-curation operators graded as first-class alongside SURVEY.md §2:

dedup.py       exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard
similarity.py  brute-force cosine top-k + LSH-bucketed ANN over embeddings
textstats.py   language-ID, quality scoring, token counting, fingerprinting
multimodal.py  binary-column plumbing (decode stubbed: libs not in image)

Every hash-derived value uses the md5-int60 / Mersenne-31 affine family
(functions/hashing.py) so the DuckDB oracle verifies signatures
value-for-value.
"""
