"""Seeded clustered-vector generator with exact ground truth, for
`ann_search`.

Writes `corpus.f64` (n x dim little-endian float64, ids 0..n-1),
`queries.f64` (q x dim, ids QUERY_ID_BASE + j, drawn from the same
clusters) and `truth.json`: each query's exact cosine top-10 corpus ids,
ties broken by the lower id. numpy runs on one thread.

Usage: python3 gen_vectors.py <out_dir> <n_vectors> <n_queries> <seed>
"""
import json
import os
import sys

for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[var] = "1"

import numpy as np  # noqa: E402  (thread caps must be set first)

DIM = 64
CLUSTERS = 64
QUERY_ID_BASE = 1_000_000_000
TOP_K = 10


def generate(out_dir, n, q, seed):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(CLUSTERS, DIM))
    corpus = centers[rng.integers(0, CLUSTERS, n)] + \
        0.6 * rng.normal(size=(n, DIM))
    queries = centers[rng.integers(0, CLUSTERS, q)] + \
        0.6 * rng.normal(size=(q, DIM))
    unit = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qunit = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    truth = {}
    for j in range(q):
        cos = unit @ qunit[j]
        cand = np.argpartition(-cos, TOP_K + 5)[:TOP_K + 5]
        order = sorted(cand.tolist(), key=lambda i: (-cos[i], i))
        truth[str(QUERY_ID_BASE + j)] = order[:TOP_K]
    os.makedirs(out_dir, exist_ok=True)
    corpus.astype("<f8").tofile(os.path.join(out_dir, "corpus.f64"))
    queries.astype("<f8").tofile(os.path.join(out_dir, "queries.f64"))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({"seed": seed, "dim": DIM, "n": n, "q": q, "k": TOP_K,
                   "query_id_base": QUERY_ID_BASE, "top10": truth}, f)
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]))
