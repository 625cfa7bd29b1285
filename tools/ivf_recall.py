"""IVF recall curve (round-5 VERDICT #3): recall@10 of the IVF probe vs
brute force for nprobe in {1, 2, 4, 8, ALL}, on

  * the sf0.1 embeddings corpus (2000 x 64, the driver's test table), and
  * a skewed-cluster corpus — 75% of vectors in 3 tight clusters, the
    shape where inverted lists collapse if the quantizer can't split mass

writing IVF_RECALL.json at the repo root. tests/test_ops.py asserts the
recall floor (recall@nprobe=4 >= 0.9) so the number is gated, not just
recorded.

Usage: python tools/ivf_recall.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pubmedkb_web_spark.ops import similarity as sim  # noqa: E402
from pubmedkb_web_spark.session import build_session  # noqa: E402

N_CENTROIDS = 16
NPROBES = [1, 2, 4, 8]
K = 10
N_QUERIES = 64


def skewed_corpus(spark, n=4000, dim=64, n_clusters=3, frac_clustered=0.75):
    """Deterministic skewed-cluster corpus: RandomState(7) cluster centers
    scaled x10, members = center + unit noise, the rest uniform."""
    rng = np.random.RandomState(7)
    centers = rng.randn(n_clusters, dim) * 10.0
    n_clu = int(n * frac_clustered)
    rows = []
    for i in range(n_clu):
        c = centers[i % n_clusters]
        rows.append((i, [float(v) for v in c + rng.randn(dim)]))
    for i in range(n_clu, n):
        rows.append((i, [float(v) for v in rng.randn(dim) * 10.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def curve(emb) -> dict:
    cents = sim.ivf_train(emb, n_centroids=N_CENTROIDS, n_iter=5)
    rec = sim.ivf_recall_at_k(emb, cents, NPROBES, k=K, n_queries=N_QUERIES)
    rec[len(cents)] = 1.0  # nprobe=ALL is brute force by definition
    return {str(np_): round(r, 4) for np_, r in sorted(rec.items())}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(cores=8, shuffle_partitions=8, driver_memory="8g")
    real = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = {
        "metric": f"mean recall@{K} vs brute force, {N_QUERIES} hash-sampled queries",
        "n_centroids": N_CENTROIDS,
        "corpora": {
            "sf0.1_embeddings": {"rows": real.count(), "recall": curve(real)},
            "skewed_3clusters": {"rows": 4000, "recall": curve(skewed_corpus(spark))},
        },
        "floor_contract": (
            "recall@nprobe=4 >= 0.9 asserted in pytest on a clustered corpus"
            " (tests/test_ops.py::test_ivf_recall_floor_and_monotone)"
        ),
        "reading": (
            "IVF recall tracks cluster structure: the skewed corpus (the"
            " 100 TB dedup/near-dup shape IVF exists for) is ~1.0 by"
            " nprobe=4 of 16, while sf0.1's embeddings are near-uniform"
            " random 64-d vectors — the known IVF worst case, where"
            " neighbors scatter across lists and recall ~ tracks the"
            " probed-list fraction until nprobe approaches ALL. Uniform"
            " corpora should probe more lists or use the exact brute path;"
            " the curve is the evidence for that sizing rule."
        ),
    }
    with open(os.path.join(REPO, "IVF_RECALL.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
