"""Recall audit for IVF similarity search on a planted Gaussian-cluster
fixture (VERDICT r4 item 5): ``python scripts/ivf_recall_audit.py``.

The r4 table measured recall on near-uniform random embeddings — IVF's
worst case, where cells are arbitrary and the trained centroids cannot
beat the stand-in.  Real embedding corpora are clusterable; this fixture
plants 16 well-separated Gaussian clusters (64-dim, sigma=0.15 around
N(0,1) centers) with ids assigned in CLUSTER BLOCKS (ids 0..m-1 are
cluster 0, ...), the realistic worst case for the stand-in centroid rule
("n_cells lowest-id vectors"): all stand-in centroids land in the first
few clusters, so probes miss most of the space.  k-means|| recovers the
true centers and should win at every nprobe.

Prints a markdown table for PERF.md and exits non-zero if trained falls
below stand-in at any nprobe.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_bank_spark.session import get_spark  # noqa: E402
from aws_etl_bank_spark.llm.similarity import (  # noqa: E402
    brute_force_topk, ivf_topk, train_centroids)

N_CLUSTERS = 16
PER_CLUSTER = 40
DIM = 64
SIGMA = 0.15
K = 10
N_QUERIES = 24
NPROBES = (1, 2, 4, 8)
N_CELLS = 16


def build_fixture(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    corpus_rows = []
    vid = 0
    for c in range(N_CLUSTERS):          # block id assignment (see module doc)
        for _ in range(PER_CLUSTER):
            v = centers[c] + rng.normal(0.0, SIGMA, DIM)
            corpus_rows.append((vid, [float(x) for x in v]))
            vid += 1
    query_rows = []
    for i in range(N_QUERIES):
        c = i % N_CLUSTERS
        v = centers[c] + rng.normal(0.0, SIGMA, DIM)
        query_rows.append((1_000_000 + i, [float(x) for x in v]))
    schema = "vec_id long, embedding array<float>"
    return (spark.createDataFrame(corpus_rows, schema),
            spark.createDataFrame(query_rows, schema))


def recall(approx_df, exact: dict) -> float:
    got: dict = {}
    for r in approx_df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(got.get(q, set()) & nbrs) for q, nbrs in exact.items())
    return hits / sum(len(nbrs) for nbrs in exact.values())


def main() -> int:
    spark = get_spark("ivf-recall-audit")
    corpus, queries = build_fixture(spark)
    exact: dict = {}
    for r in brute_force_topk(corpus, queries, K).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    trained = train_centroids(corpus, n_cells=N_CELLS)
    print(f"| nprobe | stand-in recall@{K} | trained recall@{K} | scan fraction |")
    print("|---|---|---|---|")
    ok = True
    for nprobe in NPROBES:
        r_stand = recall(
            ivf_topk(corpus, queries, K, n_cells=N_CELLS, nprobe=nprobe), exact)
        r_train = recall(
            ivf_topk(corpus, queries, K, n_cells=N_CELLS, nprobe=nprobe,
                     centroids=trained), exact)
        print(f"| {nprobe} | {r_stand:.2f} | {r_train:.2f} "
              f"| {nprobe}/{N_CELLS} = {nprobe / N_CELLS:.2f} |")
        if r_train < r_stand:
            ok = False
    if not ok:
        print("FAIL: trained centroids below stand-in at some nprobe")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
