"""ANN quality/latency sweep: recall@k and wall time of every
approximate index family against exact brute force, on the real
embeddings table. The output is the table a user consults to pick the
accuracy/cost point — the same trade FAISS documents for IVF/PQ.

Usage:  python tools/bench_ann.py [sf_dir] [out_md]

Method: N_Q=100 query vectors, k=10. Ground truth = knn_join (exact
cosine). recall@k = |approx ∩ exact| / k averaged over queries. Wall
time is one full query-batch execution per variant (warm JVM).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ftm_lakehouse_spark.operators.similarity import (
    ann_lsh_topk,
    ivf_topk,
    ivfpq_topk,
    kmeans_train,
    knn_join,
    pq_train,
)
from ftm_lakehouse_spark.session import get_spark

K = 10
N_Q = 100


def neighbors(df, qcol: str, ncol: str) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r[qcol], set()).add(r[ncol])
    return out


def recall(approx: dict, exact: dict) -> float:
    scores = [
        len(approx.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
    ]
    return sum(scores) / len(scores)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-ann")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.orderBy("vec_id").limit(N_Q).cache()
    queries.count()

    # ground truth + shared trained structures
    t0 = time.perf_counter()
    exact = neighbors(knn_join(e, queries, k=K), "query_id", "neighbor_id")
    t_exact = time.perf_counter() - t0
    cents = kmeans_train(e, k=16, iters=5)
    books = pq_train(e, m=8, ksub=16)
    # residual codebooks: train on v - centroid[cell] (FAISS default)
    from ftm_lakehouse_spark.operators.similarity import _residual, ivf_assign

    assigned, _ = ivf_assign(e, centroids=cents)
    resid = assigned.select(
        "vec_id", _residual("embedding", cents, "centroid").alias("embedding")
    )
    books_r = pq_train(resid, m=8, ksub=16)

    variants = [
        (
            "lsh (16 bits, hamming<=2)",
            lambda: ann_lsh_topk(e, queries, k=K, num_bits=16, max_hamming=2),
            ("qid", "cid"),
        ),
        (
            "ivf (16 cells, nprobe=2)",
            lambda: ivf_topk(e, queries, cents, k=K, nprobe=2),
            ("qid", "cid"),
        ),
        (
            "ivf (16 cells, nprobe=4)",
            lambda: ivf_topk(e, queries, cents, k=K, nprobe=4),
            ("qid", "cid"),
        ),
        (
            "ivfpq (16 cells, m=8, nprobe=4)",
            lambda: ivfpq_topk(e, queries, cents, books, k=K, nprobe=4),
            ("qid", "cid"),
        ),
        (
            "ivfpq RESIDUAL (16 cells, m=8, nprobe=4)",
            lambda: ivfpq_topk(
                e, queries, cents, books_r, k=K, nprobe=4, residual=True
            ),
            ("qid", "cid"),
        ),
    ]

    rows = [f"| exact knn_join (truth) | 1.000 | {t_exact:.2f}s |"]
    for name, fn, (qc, nc) in variants:
        t0 = time.perf_counter()
        approx = neighbors(fn(), qc, nc)
        dt = time.perf_counter() - t0
        rows.append(f"| {name} | {recall(approx, exact):.3f} | {dt:.2f}s |")

    table = "\n".join(
        [
            f"| variant (k={K}, {N_Q} queries) | recall@{K} | batch wall |",
            "|---|---|---|",
            *rows,
        ]
    )
    print(table)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as fh:
            fh.write(table + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
