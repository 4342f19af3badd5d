"""Stage 1 — per-record normalization and content fingerprinting.

Replaces the reference's candidate-source preprocessing (bold
extraction + wiki-id prefetch, SmaphAnnotator.java:300-413) with a
single narrow pass over `files`:

* ``record_id``   = xxhash64(repo, path, commit)  (JVM, codegen)
* ``content_sha`` = sha2(content, 256) — the per-row invariant checked
  after every stage (BASELINE.json input_hint)
* ``minhash``     = 128 seeded min-hashes of the char-shingle set of
  the whitespace-normalized content (Arrow-batched numpy UDF; the
  rolling hash and the permutation mins are vectorized across each
  Arrow batch — no per-row Python at the Spark row level)
* ``bands``       = LSH band keys derived from ``minhash``

Everything else (name/path features) is pure `pyspark.sql.functions`,
kept inside whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smaph_spark.config import ERConfig
from smaph_spark.plans.star_queries import WS_RE, widen


def _hash_family(num: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-add family over uint64 (north_rule:
    seeded hash families so blocking is reproducible across runs and
    cluster sizes)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 61, size=num, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 61, size=num, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """uint64 rolling polynomial hashes of all k-char shingles,
    vectorized over positions (k numpy ops, no per-char Python)."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = data.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    if n < k:
        h = np.uint64(0)
        B = np.uint64(1099511628211)  # FNV prime
        for j in range(n):
            h = h * B + data[j]
        return np.array([h], dtype=np.uint64)
    B = np.uint64(1099511628211)
    m = n - k + 1
    h = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        h = h * B + data[j : j + m]
    return h


def make_minhash_udf(cfg: ERConfig):
    """Pandas UDF: norm_content -> struct(minhash array<long>,
    bands array<long>). Band key b = xxhash-style mix of the band's
    rows, offset by the band index so families don't collide."""
    num, bands, rpb = cfg.num_minhash, cfg.lsh_bands, cfg.rows_per_band
    k = cfg.shingle_k
    a_co, b_co = _hash_family(num, cfg.minhash_seed)
    band_a, band_b = _hash_family(bands, cfg.minhash_seed ^ 0xB00C)

    out_type = T.StructType(
        [
            T.StructField("minhash", T.ArrayType(T.LongType()), False),
            T.StructField("bands", T.ArrayType(T.LongType()), False),
        ]
    )

    # (num, step) layout keeps the temp L2-resident (128*512*8B =
    # 512 KiB) AND makes the min-reduction contiguous (axis=1). A large
    # row-major (step, num) temp with an axis-0 reduction is strided
    # and DRAM-bound — measured to kill multi-core scaling outright.
    # The permutation is multiply-only (odd multiplier => bijection
    # mod 2^64); the additive constant of the family is unnecessary
    # for min-wise hashing and would cost a second full pass.
    step = 512

    @F.pandas_udf(out_type)
    def minhash_udf(content: pd.Series) -> pd.DataFrame:
        n = len(content)
        mh = np.empty((n, num), dtype=np.uint64)
        buf = np.empty((num, step), dtype=np.uint64)
        for i, text in enumerate(content):
            sh = _shingle_hashes(text if text is not None else "", k)
            if sh.shape[0] == 0:
                mh[i, :] = np.uint64(0xFFFFFFFFFFFFFFFF)
                continue
            best = np.full(num, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
            for s0 in range(0, sh.shape[0], step):
                c = sh[s0 : s0 + step]
                b = buf[:, : c.shape[0]]
                np.multiply(a_co[:, None], c[None, :], out=b)
                np.minimum(best, b.min(axis=1), out=best)
            mh[i, :] = best
        # band keys: mix the rows of each band into one 64-bit key
        bands_keys = np.empty((n, bands), dtype=np.uint64)
        folded = mh.reshape(n, bands, rpb)
        acc = np.zeros((n, bands), dtype=np.uint64)
        PRIME = np.uint64(0x9E3779B97F4A7C15)
        for r in range(rpb):
            acc = (acc ^ folded[:, :, r]) * PRIME
        bands_keys = acc * band_a[None, :] + band_b[None, :]
        return pd.DataFrame(
            {
                "minhash": list(mh.view(np.int64)),
                "bands": list(bands_keys.view(np.int64)),
            }
        )

    # asNondeterministic: when the normalize output is NOT persisted
    # (standalone dd03-style uses), the blocking explode's implicit
    # filter is pushed below with the minhash UDF inlined a second
    # time (two ArrowEvalPython nodes — guide §4.4). Deterministic in
    # value (seeded); the flag only pins a single evaluation.
    return minhash_udf.asNondeterministic()


def minhash_signature(text: Column, cfg: ERConfig) -> Column:
    """THE content fingerprint of ``text``: whitespace runs collapsed to
    one space, lower-cased, through the seeded MinHash UDF — a
    struct(minhash, bands). The ER normalize stage and dedup dd03 both
    read it."""
    return make_minhash_udf(cfg)(F.lower(F.regexp_replace(text, WS_RE, " ")))


def record_id(prefix: str = "") -> Column:
    """THE record id of a ``files`` row: xxhash64(repo, path, commit).
    ``prefix`` reads one side of a labeled pair (``l_``/``r_``)."""
    return F.xxhash64(f"{prefix}repo", f"{prefix}path", f"{prefix}commit")


def normalize_files(files: DataFrame, cfg: ERConfig) -> DataFrame:
    """files(repo,path,commit,lang,content) -> + record_id, content_sha,
    name, n_chars, n_tokens, minhash, bands.

    Narrow per row; the input is adaptively widened first when it
    arrives in fewer partitions than the session's parallelism: a
    single-row-group parquet file scans as ONE task, which serializes
    the whole Arrow minhash pass (measured 6.8 s over 2 tasks at the
    sf1.0 gate vs ~1.5 s spread over 32 — guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the
    read"). On a real cluster with many input splits the repartition
    is a no-op; the width tracks defaultParallelism, never a local
    constant."""
    files = widen(files)
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    # the signature struct is unpacked in a second select: naming the
    # nondeterministic UDF call twice would evaluate it twice
    derived = files.select(
        "*",
        record_id().alias("record_id"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
        basename.alias("basename"),
        F.lower(F.regexp_replace(basename, r"\.[A-Za-z0-9]+$", "")).alias("name"),
        F.length("content").alias("n_chars"),
        F.size(F.split(F.trim(F.col("content")), WS_RE)).alias("n_tokens"),
        minhash_signature(F.col("content"), cfg).alias("_fp"),
    )
    return derived.select(
        *[c for c in derived.columns if c != "_fp"],
        F.col("_fp.minhash").alias("minhash"),
        F.col("_fp.bands").alias("bands"),
    )
