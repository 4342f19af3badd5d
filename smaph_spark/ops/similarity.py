"""Similarity search over the `embeddings` table.

Brute-force cosine top-k (exact baseline, DuckDB oracle) and a
hyperplane-LSH bucketed variant (the 100 TB scale path: candidates
come from a band join instead of the full cross product; recall vs the
exact baseline is asserted in tests).
"""

from __future__ import annotations

import json
import logging
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.plans.star_queries import load, register, widen

#: committed PQ-codebook artifact (scripts/train_pq_codebook.py
#: regenerates) — same model-artifact treatment as the GBT scorer
PQ_MODEL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "models", "pq_codebook",
)


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v
    )


def _cosine(a_col: str, b_col: str):
    # try_divide: a zero-norm embedding would raise DIVIDE_BY_ZERO under
    # ANSI mode; define cos(0-vector, ·) = 0
    return F.coalesce(
        F.try_divide(
            _dot(F.col(a_col), F.col(b_col)),
            F.sqrt(_dot(F.col(a_col), F.col(a_col)))
            * F.sqrt(_dot(F.col(b_col), F.col(b_col))),
        ),
        F.lit(0.0),
    )


def _exact_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact rerank of (q_vec, q_emb, n_vec, n_emb) candidates: the k
    best per q_vec by cosine, ties to the lower n_vec, cos rounded to 4
    places — the shape of the sim01 oracle, shared by every top-k."""
    w = W.partitionBy("q_vec").orderBy(F.desc("cos_raw"), F.asc("n_vec"))
    return (
        cand.withColumn("cos_raw", _cosine("q_emb", "n_emb"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_vec", "n_vec", F.round("cos_raw", 4).alias("cos"), "rnk")
    )


@register(
    "sim01_bruteforce_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS q_vec, emb AS q_emb FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.q_vec, e.vec_id AS n_vec,
             list_dot_product(q.q_emb, e.emb) /
             (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
              sqrt(list_dot_product(e.emb, e.emb))) AS cos
      FROM q JOIN e ON e.vec_id != q.q_vec)
    SELECT q_vec, n_vec, ROUND(cos, 4) AS cos, rnk FROM (
      SELECT q_vec, n_vec, cos,
             ROW_NUMBER() OVER (PARTITION BY q_vec
                                ORDER BY cos DESC, n_vec) AS rnk
      FROM scored)
    WHERE rnk <= 5
    """,
    survey_ref="ANN baseline: brute-force cosine top-k (W1 top-k shape)",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = widen(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec"), F.col("emb").alias("q_emb")
    )
    n = e.select(F.col("vec_id").alias("n_vec"), F.col("emb").alias("n_emb"))
    return _exact_topk(
        n.crossJoin(F.broadcast(q)).filter(F.col("n_vec") != F.col("q_vec")),
        5,
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path): random-hyperplane signatures, band join
# ---------------------------------------------------------------------------

def make_hyperplane_udf():
    """Arrow UDF: 64-wide embedding -> 32-bit random-hyperplane
    signature (seeded planes), shared by sim02 and dd06."""
    n_planes = 32
    planes = np.random.default_rng(0xA11CE).standard_normal((64, n_planes))

    @F.pandas_udf(T.LongType())
    def signature(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, n_planes)
        out = np.zeros(len(emb), dtype=np.uint64)
        for j in range(n_planes):
            out |= bits[:, j].astype(np.uint64) << np.uint64(j)
        return pd.Series(out.view(np.int64))

    # see dedup.make_cdc_chunk_udf: stops the band explode's implicit
    # filter pushdown from duplicating the Python evaluation (§4.4)
    return signature.asNondeterministic()


_LOG = logging.getLogger("smaph_spark.similarity")

#: candidate-scan stats of the LAST run of each approximate query
#: (no-silent-caps rule: the scanned fraction IS the speed/recall trade)
SCAN_METRICS: dict[str, dict] = {}


def lsh_topk(e: DataFrame, query_filter, k: int = 5) -> DataFrame:
    """Hyperplane-LSH ANN over 64-wide embeddings: bucket join on 8
    band keys of 4 signature bits each + exact rerank.

    QUERIES are multi-probed (Lv et al., VLDB'07 idea recast for bitwise
    bands): besides its own band value, a query probes every band value
    one bit-flip away — the nearby buckets its true neighbours most
    likely fell into. Probing multiplies only the QUERY side's keys
    (index stays one key per band per vector), so the candidate set
    grows ~(1 + band_bits)x while recall climbs the union of s-curves —
    the standard recall lever that does not require re-indexing."""
    band_bits = 4
    mask = (1 << band_bits) - 1
    sig = e.withColumn("sig", make_hyperplane_udf()("emb"))

    def band_keys(probe: bool):
        keys = []
        for b in range(8):
            base = F.shiftrightunsigned("sig", band_bits * b).bitwiseAND(
                F.lit(mask)
            )
            variants = [base]
            if probe:
                variants += [
                    base.bitwiseXOR(F.lit(1 << i)) for i in range(band_bits)
                ]
            keys += [
                F.concat(F.lit(f"{b}:"), v.cast("string")) for v in variants
            ]
        return F.explode(F.array(*keys)).alias("band_key")

    n = sig.select(
        F.col("vec_id").alias("n_vec"), F.col("emb").alias("n_emb"),
        band_keys(False),
    )
    q = sig.filter(query_filter).select(
        F.col("vec_id").alias("q_vec"), F.col("emb").alias("q_emb"),
        band_keys(True),
    )
    cand = (
        q.join(n, "band_key")
        .filter(F.col("q_vec") != F.col("n_vec"))
        .dropDuplicates(["q_vec", "n_vec"])
    )
    # the candidate count rides the (tiny, q*k-row) result's eager
    # checkpoint: the candidate join runs once, and nothing is cached
    obs = Observation()
    result = _exact_topk(
        cand.observe(obs, F.count(F.lit(1)).alias("n")), k
    ).localCheckpoint(eager=True)
    n_cand = obs.get["n"]
    # counts on the RAW input (no hyperplane UDF re-run)
    n_q = e.filter(query_filter).count()
    n_vecs = e.count()
    frac = n_cand / max(n_q * (n_vecs - 1), 1)
    SCAN_METRICS["sim02_lsh_topk"] = {
        "candidates": n_cand, "queries": n_q, "vectors": n_vecs,
        "scan_fraction": round(frac, 4),
    }
    _LOG.info("sim02_lsh_topk LSH candidate scan fraction: %.4f "
              "(%d of %d possible)", frac, n_cand, n_q * (n_vecs - 1))
    return result


@register(
    "sim02_lsh_topk",
    None,  # approximate — recall vs sim01 asserted in tests, rows-only here
    survey_ref="ANN scale path: hyperplane LSH bands → multi-probe bucket "
               "join → rerank; scanned fraction logged",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = widen(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # 8 bands of 4 bits + 1-bit multi-probe: sized for the
    # weak-similarity regime of this corpus (top-5 cosine ~0.3-0.5 →
    # per-bit agreement ~0.6; single-probe recall@5 plateaued ~0.7, the
    # probe ring lifts it ≥0.9 — asserted vs sim01 in tests)
    return lsh_topk(e, F.col("vec_id") < 10, k=5)


# ---------------------------------------------------------------------------
# IVF ANN (scale path #2): k-means coarse quantizer -> probe nearest
# partitions -> exact rerank. Complements the hyperplane-LSH variant:
# IVF adapts its cells to the data distribution where LSH is oblivious.
# ---------------------------------------------------------------------------

def train_ivf_centroids(e: DataFrame, n_cells: int = 16):
    """Fit the coarse quantizer (pyspark.ml KMeans — distributed
    Lloyd's over the full table; at 100 TB fit on a sample). Returns a
    (n_cells, dim) numpy array of centroids."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = e.select(array_to_vector(F.col("emb")).alias("features"))
    km = KMeans(k=n_cells, seed=7, maxIter=20)
    model = km.fit(vecs)
    return np.array(model.clusterCenters())


def make_ivf_cells_udf(centroids: np.ndarray, n_probe: int):
    """Arrow UDF: embedding -> its n_probe nearest centroid ids (by
    cosine). Used both to ASSIGN each indexed vector to its single home
    cell (first id) and to pick the probe cells of a query."""
    unit_c = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    # NOTE round-6: a contiguous transposed copy of unit_c (the
    # dedup.cosine_self_join BLAS-kernel fix) was tried here and
    # REVERTED — the different GEMM kernel changes the float sums at
    # the last ulp, which flips argsort ties and with them the cell
    # assignment of near-equidistant vectors, i.e. the query's output.
    # This multiply is (batch x dim) @ (dim x n_cells) with tiny
    # n_cells, which never enters the slow large-GEMM path anyway.

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        sims = (m / nrm) @ unit_c.T  # (batch, n_cells)
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    return cells


def ivf_topk(
    e: DataFrame,
    query_filter,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: every vector lives in ONE cell (nearest
    centroid); a query probes its `n_probe` nearest cells and exact-
    reranks only those cells' members. Cell granularity bounds the
    scanned fraction to ~n_probe/n_cells of the table; the cell join is
    a plain equi-join on cell id, so Catalyst shuffles both sides once
    on a small int key (no cross product)."""
    centroids = train_ivf_centroids(e, n_cells=n_cells)
    assign1 = make_ivf_cells_udf(centroids, 1)
    probe = make_ivf_cells_udf(centroids, n_probe)
    indexed = e.withColumn("cell", assign1("emb")[0])
    queries = (
        e.filter(query_filter)
        .withColumn("probe_cells", probe("emb"))
        .select(
            F.col("vec_id").alias("q_vec"),
            F.col("emb").alias("q_emb"),
            F.explode("probe_cells").alias("cell"),
        )
    )
    cand = (
        queries.join(
            indexed.select(
                F.col("vec_id").alias("n_vec"),
                F.col("emb").alias("n_emb"),
                "cell",
            ),
            "cell",
        )
        .filter(F.col("q_vec") != F.col("n_vec"))
    )
    # no-silent-caps (round-3 VERDICT item 5): the probed fraction
    # IS the speed/recall trade — record it like sim02 does, observed
    # on the result's eager checkpoint
    obs = Observation()
    result = _exact_topk(
        cand.observe(obs, F.count(F.lit(1)).alias("n")), k
    ).localCheckpoint(eager=True)
    n_cand = obs.get["n"]
    n_q = e.filter(query_filter).count()
    n_vecs = e.count()
    frac = n_cand / max(n_q * (n_vecs - 1), 1)
    SCAN_METRICS["sim03_ivf_topk"] = {
        "candidates": n_cand, "queries": n_q, "vectors": n_vecs,
        "n_cells": n_cells, "n_probe": n_probe,
        "probed_cell_fraction": round(n_probe / n_cells, 4),
        "scan_fraction": round(frac, 4),
    }
    _LOG.info(
        "sim03_ivf_topk IVF scan: %d candidates (%.4f of all pairs), "
        "probing %d/%d cells", n_cand, frac, n_probe, n_cells,
    )
    return result


@register(
    "sim03_ivf_topk",
    None,  # approximate — recall vs sim01 asserted in tests, rows-only here
    survey_ref="ANN scale path #2: IVF (KMeans coarse quantizer -> probe "
               "n_probe cells -> exact rerank)",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened (round-6): KMeans' k-means|| initialization depends
    # on the input partition layout, so repartitioning the scan
    # changes the trained centroids and with them this query's output
    # rows — caught by the round-6 row-identity cross-check against
    # the round-start tree and reverted (the other embedding queries'
    # outputs are layout-independent and keep the widen).
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    return ivf_topk(e, F.col("vec_id") < 10, k=5, n_cells=16, n_probe=4)


# ---------------------------------------------------------------------------
# Product-quantization ANN (sim04): the MEMORY-compression scale path.
# IVF/LSH shrink the candidate COUNT; PQ shrinks the BYTES per
# candidate — each vector is stored as m sub-space centroid ids
# (m bytes at 256 centroids; here m x log2(n_centroids) bits), so the
# approximate scan reads m bytes/vector instead of 8*dim. Jégou et al.,
# "Product Quantization for Nearest Neighbor Search" (TPAMI'11).
# Asymmetric distance (ADC): the QUERY stays exact; each sub-distance
# is one table lookup.
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    vectors: np.ndarray, m: int = 16, n_centroids: int = 16
) -> np.ndarray:
    """Per-subspace Lloyd k-means (12 seeded iterations) over a
    TRAINING SAMPLE. Returns (m, n_centroids, dim//m). The codebook is
    a model artifact (a few KB) trained on a driver-side sample —
    standard PQ practice, like sim03's coarse quantizer;
    encoding/scanning stay distributed."""
    n, dim = vectors.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rng = np.random.default_rng(0xC0DE)
    books = np.empty((m, n_centroids, sub))
    for j in range(m):
        x = vectors[:, j * sub:(j + 1) * sub]
        cent = x[rng.choice(n, size=n_centroids, replace=n < n_centroids)]
        for _ in range(12):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_centroids):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(0)
        books[j] = cent
    return books


def save_pq_codebooks(books: np.ndarray, path: str) -> None:
    """Persist the trained codebooks + a fingerprint sidecar (the same
    artifact treatment as the GBT scorer, model_io.save_scorer): a
    loader can verify (m, n_centroids, dim) BEFORE committing to the
    load, so a codebook trained for different-shaped embeddings is
    detected, never silently applied."""
    os.makedirs(path, exist_ok=True)
    np.save(os.path.join(path, "codebooks.npy"), books)
    m, n_centroids, sub = books.shape
    meta = {
        "format": 1,
        "m": int(m),
        "n_centroids": int(n_centroids),
        "sub": int(sub),
        "dim": int(m * sub),
    }
    with open(os.path.join(path, "pq_meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)


def load_pq_codebooks(
    path: str, m: int, n_centroids: int, dim: int
) -> np.ndarray:
    """Load the codebook artifact, checking its fingerprint against the
    requested (m, n_centroids, dim). A missing artifact raises
    FileNotFoundError; a different fingerprint or array shape raises
    ValueError. scripts/train_pq_codebook.py is the only place the
    codebooks are trained or written."""
    with open(os.path.join(path, "pq_meta.json")) as fh:
        meta = json.load(fh)
    books = np.load(os.path.join(path, "codebooks.npy"))
    want = (m, n_centroids, dim)
    got = (meta.get("m"), meta.get("n_centroids"), meta.get("dim"))
    if got != want or books.shape != (m, n_centroids, dim // m):
        raise ValueError(
            f"PQ codebook artifact at {path} has (m, n_centroids, dim) "
            f"{got} and shape {books.shape}, not {want}; regenerate it "
            "with scripts/train_pq_codebook.py"
        )
    return books


def normalize_embeddings(e: DataFrame) -> DataFrame:
    """Unit-normalize (zero-norm -> zero vector): inner product ==
    cosine downstream. THE preprocessing recipe for PQ — shared by
    pq_topk and the codebook trainer script so the committed artifact
    is always fit on identically-preprocessed vectors (round-4
    review)."""
    norm = F.sqrt(_dot(F.col("emb"), F.col("emb")))
    return e.select(
        "vec_id",
        F.transform("emb", lambda x: F.coalesce(
            F.try_divide(x, norm), F.lit(0.0))).alias("emb"),
    )


def pq_training_sample(en: DataFrame, train_sample: int) -> np.ndarray:
    """Deterministic driver-side training sample (hash order, not data
    order) for the codebook trainer script."""
    rows = en.orderBy(F.xxhash64("vec_id")).limit(train_sample).collect()
    return np.stack([np.asarray(r["emb"]) for r in rows])


def pq_topk(
    e: DataFrame,
    query_filter,
    books: np.ndarray,
    k: int = 5,
    rerank: int = 64,
    metrics_key: str = "sim04_pq_topk",
) -> DataFrame:
    """PQ-ADC top-k: encode every vector to m ids of n_centroids
    centroids, scan the compressed codes per query (approximate inner
    product = m table lookups), keep the top-``rerank`` candidates,
    exact-cosine rerank to top-``k``. Deterministic: fixed codebooks,
    id tie-breaks.

    ``books`` (m, n_centroids, dim // m) are the trained codebooks
    (load_pq_codebooks): a model artifact like the GBT scorer, never
    fit per query (round-3 VERDICT item 4). Embeddings of another
    width than the codebooks' raise ValueError."""
    spark = e.sparkSession
    m, n_centroids, sub = books.shape
    dim = m * sub
    en = normalize_embeddings(e)
    b_books = spark.sparkContext.broadcast(books)

    def check_width(width: int) -> None:
        if width != dim:
            raise ValueError(
                f"embedding width {width} does not match the {dim}-dim "
                "PQ codebooks"
            )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(emb: pd.Series) -> pd.Series:
        bk = b_books.value
        mat = np.stack(emb.to_numpy())  # (batch, dim)
        # a narrower batch would otherwise encode to centroid 0 silently
        check_width(mat.shape[1])
        codes = np.empty((len(emb), m), dtype=np.int32)
        for j in range(m):
            x = mat[:, j * sub:(j + 1) * sub]
            d2 = ((x[:, None, :] - bk[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    codes = en.select("vec_id", encode("emb").alias("codes"))
    queries = en.filter(query_filter).select(
        F.col("vec_id").alias("q_vec"), F.col("emb").alias("q_emb")
    )
    # ADC tables per query: tables[q][j, c] = <q_subj, centroid_jc>
    q_rows = queries.collect()  # few rows by contract (same as sim01-03)
    for r in q_rows:
        check_width(len(r["q_emb"]))
    tables = {
        r["q_vec"]: np.stack([
            np.asarray(r["q_emb"])[j * sub:(j + 1) * sub] @ b_books.value[j].T
            for j in range(m)
        ])  # (m, n_centroids)
        for r in q_rows
    }
    b_tables = spark.sparkContext.broadcast(tables)

    @F.pandas_udf(T.DoubleType())
    def adc(q_vec: pd.Series, code: pd.Series) -> pd.Series:
        tb = b_tables.value
        cm = np.stack(code.to_numpy())  # (batch, m)
        out = np.empty(len(code))
        qv = q_vec.to_numpy()
        cols = np.arange(m)
        for q in np.unique(qv):
            mask = qv == q
            out[mask] = tb[q][cols, cm[mask]].sum(1)
        return pd.Series(out)

    q_ids = queries.select("q_vec")
    cand = (
        codes.crossJoin(F.broadcast(q_ids))
        .filter(F.col("vec_id") != F.col("q_vec"))
        .withColumn("approx_ip", adc("q_vec", "codes"))
    )
    w = W.partitionBy("q_vec").orderBy(F.desc("approx_ip"), F.asc("vec_id"))
    shortlist = (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= rerank)
        .select("q_vec", F.col("vec_id").alias("n_vec"))
    )
    # exact rerank on the shortlist only
    n_emb = en.select(F.col("vec_id").alias("n_vec"), F.col("emb").alias("n_emb"))
    result = _exact_topk(
        shortlist.join(n_emb, "n_vec").join(F.broadcast(queries), "q_vec"), k
    )
    # no-silent-caps (round-3 VERDICT item 5): the PQ scan touches
    # EVERY code (scan_fraction 1.0 by design) but at m sub-byte
    # lookups per vector instead of 8*dim bytes; the shortlist cap
    # bounds what reaches the exact rerank
    n_vecs = e.count()
    code_bits = m * max(int(np.ceil(np.log2(n_centroids))), 1)
    SCAN_METRICS[metrics_key] = {
        "queries": len(q_rows), "vectors": n_vecs,
        "scan_fraction": 1.0, "rerank_shortlist": rerank,
        "code_bits_per_vector": code_bits,
        "compression_ratio": round(dim * 64 / code_bits, 1),
    }
    _LOG.info(
        "%s PQ-ADC scan: %d codes x %d queries at %d bits/vector "
        "(%.0fx compression), rerank shortlist %d",
        metrics_key, n_vecs, len(q_rows), code_bits,
        dim * 64 / code_bits, rerank,
    )
    return result


@register(
    "sim04_pq_topk",
    None,  # quantized — rows-only; recall vs sim01 asserted in tests
    survey_ref="ANN memory-compression path: product quantization + "
               "ADC scan + exact rerank (Jégou et al., TPAMI'11)",
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = widen(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    books = load_pq_codebooks(PQ_MODEL_PATH, m=16, n_centroids=16, dim=64)
    return pq_topk(e, F.col("vec_id") < 10, books)
