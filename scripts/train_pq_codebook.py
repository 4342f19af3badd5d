#!/usr/bin/env python
"""Train + persist the PQ codebook artifact (models/pq_codebook).

The product-quantization codebooks are a model artifact exactly like
the GBT scorer (round-3 VERDICT item 4): a few KB that sim04 previously
refit on every call (repeated driver-side Lloyd k-means + broadcasts).
This script fits them once from a deterministic sample of the largest
local embeddings table and saves codebooks.npy + pq_meta.json (the
fingerprint sidecar load_pq_codebooks verifies before loading). The
artifact is committed; rerun this script to regenerate it. This script
is the only place the codebooks are trained or written: sim04 raises
on a missing or mismatched artifact instead of refitting them.

Usage: python scripts/train_pq_codebook.py [--sf-dir /root/testdata/sf0.1]
       [--m 16] [--n-centroids 16] [--train-sample 2048]
       [--out models/pq_codebook]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--m", type=int, default=16)
    ap.add_argument("--n-centroids", type=int, default=16)
    ap.add_argument("--train-sample", type=int, default=2048)
    ap.add_argument("--out", default=os.path.join(REPO, "models", "pq_codebook"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from smaph_spark.ops.similarity import (
        normalize_embeddings, pq_training_sample, save_pq_codebooks,
        train_pq_codebooks,
    )
    from smaph_spark.session import get_spark

    spark = get_spark("train_pq_codebook")
    e = spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # SHARED normalization + sample recipe (the exact preprocessing
    # pq_topk applies at serve time — keeping them one function is what
    # stops the committed artifact drifting from the serve path)
    train_mat = pq_training_sample(normalize_embeddings(e), args.train_sample)
    print(f"training sample: {train_mat.shape} from {args.sf_dir}")
    books = train_pq_codebooks(
        train_mat, m=args.m, n_centroids=args.n_centroids
    )
    save_pq_codebooks(books, args.out)
    print(f"saved {books.shape} codebooks -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
