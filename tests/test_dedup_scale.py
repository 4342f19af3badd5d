"""Scale-safety tests for the dedup operators (round-1 VERDICT items
2/3/5): hot band keys are capped/salted with logged metrics, the dd02
prefix filter is exact vs brute force on an adversarial corpus, and the
distributed cosine self-join matches a numpy brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig
from smaph_spark.ops.dedup import (
    CAP_METRICS,
    _make_simhash_udf,
    cosine_self_join,
    minhash_lsh_pairs,
    simhash_pairs,
)
from smaph_spark.plans.star_queries import QUERIES


def test_minhash_lsh_hot_band_capped(spark):
    """Plant a degenerate band key shared by every doc: the pair stage
    must stay bounded (salted sub-blocks) and the cap must be logged,
    never silent."""
    n = 60
    cfg = ERConfig(max_block_size=10, block_salt_buckets=4, lsh_bands=2,
                   num_minhash=4)
    # hand-built fingerprints: every doc shares band "HOT" in band 0,
    # distinct values in band 1 → without the cap the join is O(n²)
    rows = [(i, [i, i, i, i], [7777, 1000 + i]) for i in range(n)]
    fp = spark.createDataFrame(
        rows, "doc_id long, minhash array<int>, bands array<long>"
    )
    pairs = minhash_lsh_pairs(fp, cfg)
    caps = CAP_METRICS["dd03_minhash_lsh_pairs"]
    assert caps["salted_band_keys"] + caps["dropped_band_keys"] > 0, (
        "hot band must be logged"
    )
    # bounded: each salt bucket holds ~n/4 docs; all-pairs would be 1770
    n_cand = pairs.count()
    max_per_bucket = -(-n // 4) + cfg.max_block_size
    assert n_cand <= 4 * max_per_bucket * (max_per_bucket - 1) / 2


def test_simhash_hot_chunk_capped(spark):
    n = 80
    cfg = ERConfig(max_block_size=8, block_salt_buckets=4)
    # all-identical simhash → every chunk key is one hot block of n docs
    sig = spark.createDataFrame(
        [(i, 0x1234_5678_9ABC_DEF0) for i in range(n)], "doc_id long, sim long"
    )
    pairs = simhash_pairs(sig, cfg)
    caps = CAP_METRICS["dd04_simhash_pairs"]
    assert caps["salted_band_keys"] + caps["dropped_band_keys"] > 0, (
        "hot chunk keys must be logged"
    )
    all_pairs = n * (n - 1) // 2
    assert pairs.count() < all_pairs  # salting bounded the block joins


def _brute_force_jaccard(texts, thr=0.2):
    def grams(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    out = set()
    sets = {i: grams(t) for i, t in texts if len(t.split()) >= 3}
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sets[ids[i]], sets[ids[j]]
            inter = len(a & b)
            jac = inter / (len(a) + len(b) - inter)
            if jac >= thr:
                out.add((ids[i], ids[j]))
    return out


def test_dd02_prefix_filter_exact_vs_bruteforce(spark, tmp_path):
    """Adversarial near-dup corpus: the PPJoin prefix filter must find
    EXACTLY the brute-force >= 0.2 Jaccard pairs (the filter prunes
    candidates, never answers)."""
    rng = np.random.default_rng(13)
    vocab = [f"w{k}" for k in range(50)]
    texts = []
    base_docs = []
    for i in range(30):
        doc = list(rng.choice(vocab, size=rng.integers(8, 20)))
        base_docs.append(doc)
        texts.append((i, " ".join(doc)))
    # near-dups: mutate a few tokens of existing docs
    for i in range(30, 60):
        src = list(base_docs[int(rng.integers(0, 30))])
        for _ in range(int(rng.integers(0, 3))):
            src[int(rng.integers(0, len(src)))] = str(rng.choice(vocab))
        texts.append((i, " ".join(src)))
    pdf = pd.DataFrame(
        {
            "doc_id": [i for i, _ in texts],
            "text": [t for _, t in texts],
            "lang": "en",
            "source": "synth",
        }
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    got = {
        (r["a_doc"], r["b_doc"])
        for r in QUERIES["dd02_ngram_jaccard_pairs"].fn(spark, sf).collect()
    }
    want = _brute_force_jaccard(texts)
    assert got == want


def test_cosine_self_join_matches_bruteforce(spark):
    """Distributed block-matrix GEMM == numpy all-pairs (exact op)."""
    rng = np.random.default_rng(7)
    n, d = 120, 16
    mat = rng.standard_normal((n, d))
    mat[5] = mat[3] + 0.01 * rng.standard_normal(d)  # planted near-dup
    mat[50] = 0.0  # zero vector edge case
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "emb": list(mat)})
    )
    got = {
        (r["a_vec"], r["b_vec"]): r["cos_raw"]
        for r in cosine_self_join(e, threshold=0.6, n_buckets=5).collect()
    }
    nrm = np.sqrt((mat * mat).sum(axis=1))
    nrm[nrm == 0] = 1.0
    unit = mat / nrm[:, None]
    sims = unit @ unit.T
    want = {
        (i, j): sims[i, j]
        for i in range(n)
        for j in range(i + 1, n)
        if sims[i, j] >= 0.6
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9)


def test_dd05_plan_is_distributed(spark):
    """Regression (round-1 VERDICT): dd05 must not collect the table to
    the driver — the plan runs the GEMM via cogrouped pandas, and
    building the plan triggers no job."""
    df = QUERIES["dd05_embedding_dup_pairs"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_dd02_plan_has_no_block_only_join(spark):
    """Regression: the candidate join must be keyed on a content-derived
    prefix n-gram, not on (lang, source) alone."""
    df = QUERIES["dd02_ngram_jaccard_pairs"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the self-join condition includes the exploded prefix gram column
    assert plan.count("array_sort") >= 1 and "slice" in plan


def test_dd06_lsh_recall_vs_exact(spark):
    """LSH-prefiltered near-dup must recover a solid fraction of the
    exact >= 0.4 pairs and NEVER emit a below-threshold pair (the
    rerank is exact)."""
    exact = {
        (r["a_vec"], r["b_vec"])
        for r in QUERIES["dd05_embedding_dup_pairs"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    approx_rows = QUERIES["dd06_embedding_dup_lsh"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    approx = {(r["a_vec"], r["b_vec"]) for r in approx_rows}
    assert approx <= exact, "rerank must make every emitted pair exact"
    assert exact, "fixture should contain near-dup pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"LSH near-dup recall {recall:.2f}"


def test_standalone_dedup_queries_log_cap_metrics(spark, tmp_path):
    """The registered dd03/dd04/dd06 queries must SURFACE their band-cap
    counts (round-2 VERDICT item 5: the counts were computed and
    discarded). Planted hot key: every doc shares one band."""
    import smaph_spark.ops.dedup as dd

    n = 40
    rows = [(i, [i, i, i, i], [7777, 1000 + i]) for i in range(n)]
    fp = spark.createDataFrame(
        rows, "doc_id long, minhash array<int>, bands array<long>"
    )
    cfg = ERConfig(max_block_size=10, block_salt_buckets=4, lsh_bands=2,
                   num_minhash=4)
    dd.CAP_METRICS.clear()
    minhash_lsh_pairs(fp, cfg)
    out = dd.CAP_METRICS["dd03_minhash_lsh_pairs"]
    assert out["salted_band_keys"] + out["dropped_band_keys"] > 0
    # and the registered driver queries populate CAP_METRICS end-to-end
    dd.CAP_METRICS.clear()
    QUERIES["dd03_minhash_lsh_pairs"].fn(spark, "/root/testdata/sf0.001").count()
    assert "dd03_minhash_lsh_pairs" in dd.CAP_METRICS


# ---------------------------------------------------------------------------
# round-2 VERDICT item 3: the estimator VALUES of dd03/dd04, not just
# their shapes, checked against independent brute-force implementations
# ---------------------------------------------------------------------------

def _near_dup_corpus(seed=11, n_base=25, doc_len=60):
    """Seeded corpus of base docs + mutants at two mutation rates —
    exact char-shingle Jaccards span ~0.5-0.95."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    did = 0
    for _ in range(n_base):
        toks = list(rng.choice(vocab, size=doc_len))
        rows.append((did, " ".join(toks))); did += 1
        for rate in (0.05, 0.15):
            m = list(toks)
            for j in range(len(m)):
                if rng.random() < rate:
                    m[j] = str(rng.choice(vocab))
            rows.append((did, " ".join(m))); did += 1
    return rows


def _exact_shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    import re

    def sh(t):
        t = re.sub(r"\s+", " ", t).lower()
        return {t[i:i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_dd03_jaccard_estimate_within_binomial_bound(spark, tmp_path):
    """dd03's jaccard_est is the positional MinHash agreement over w=64
    slots — an unbiased binomial estimator of the true shingle Jaccard
    with std sqrt(J(1-J)/w). Every emitted pair must sit within 3 sigma
    (+1 slot of slack) of the exact brute-force Jaccard."""
    from smaph_spark.ops.dedup import _doc_minhash, minhash_lsh_pairs

    rows = _near_dup_corpus()
    texts = dict(rows)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    cfg = ERConfig(shingle_k=5, num_minhash=64, lsh_bands=16,
                   max_block_size=500, block_salt_buckets=8)
    fp = _doc_minhash(spark, str(tmp_path), cfg)
    got = minhash_lsh_pairs(fp, cfg).collect()
    assert len(got) >= 15, f"expected a rich pair set, got {len(got)}"
    w = cfg.num_minhash
    for r in got:
        j = _exact_shingle_jaccard(texts[r["a_doc"]], texts[r["b_doc"]])
        bound = 3.0 * (j * (1 - j) / w) ** 0.5 + 1.0 / w
        assert abs(r["jaccard_est"] - j) <= bound, (
            f"pair ({r['a_doc']},{r['b_doc']}): est {r['jaccard_est']} "
            f"vs exact {j:.4f}, bound {bound:.4f}"
        )


def test_dd04_hamming_values_and_banded_recall(spark):
    """dd04's emitted hamming must equal an independent numpy popcount
    of the XOR, every pair with hamming <= 3 must be found (pigeonhole:
    <=3 differing bits across 4 chunks leaves one chunk identical), and
    banded recall at max_hamming=6 is measured against brute force."""
    import numpy as np

    from smaph_spark.ops.dedup import _make_simhash_udf, simhash_pairs

    rows = _near_dup_corpus(seed=23)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = _make_simhash_udf()
    sig = df.select("doc_id", sh("text").alias("sim"))
    sig_rows = {r["doc_id"]: r["sim"] for r in sig.collect()}
    ids = sorted(sig_rows)
    vals = np.array([sig_rows[i] for i in ids], dtype=np.int64).view(np.uint64)
    exact = {}
    for i in range(len(ids)):
        x = vals[i] ^ vals[i + 1:]
        for off, ham in enumerate(int(v).bit_count() for v in x):
            exact[(ids[i], ids[i + 1 + off])] = ham
    cfg = ERConfig(max_block_size=500, block_salt_buckets=8)
    pairs = simhash_pairs(sig, cfg, max_hamming=6)
    got = {(r["a_doc"], r["b_doc"]): r["hamming"] for r in pairs.collect()}
    assert got, "expected near-dup pairs from the mutant corpus"
    # values: every emitted hamming equals the independent popcount
    for k, h in got.items():
        assert exact[k] == h, f"{k}: banded {h} vs exact {exact[k]}"
    # guaranteed recall: hamming <= chunks-1 always shares a clean chunk
    guaranteed = {k for k, h in exact.items() if h <= 3}
    assert guaranteed <= set(got), "pigeonhole-guaranteed pairs missed"
    # measured recall at the advertised max_hamming=6 (not guaranteed
    # past 3 bits; report + floor so regressions surface)
    target = {k for k, h in exact.items() if h <= 6}
    recall = len(target & set(got)) / len(target) if target else 1.0
    assert recall >= 0.8, f"banded hamming recall {recall:.2f}"


# ---------------------------------------------------------------------------
# dd08: content-defined chunking
# ---------------------------------------------------------------------------

def test_cdc_edit_locality(spark):
    """THE CDC property: an insertion near the front shifts every byte
    offset, yet most chunk hashes survive (fixed-size chunking would
    lose all of them). Also pins determinism and expected chunk size."""
    import numpy as np

    from smaph_spark.ops.dedup import make_cdc_chunk_udf

    rng = np.random.default_rng(77)
    body = bytes(rng.integers(32, 127, size=4000, dtype=np.uint8)).decode("ascii")
    edited = body[:100] + "INSERTED-PATCH-" + body[100:]
    df = spark.createDataFrame(
        [(1, body), (2, edited), (3, body)], "doc_id long, text string"
    )
    chunker = make_cdc_chunk_udf()
    rows = {r["doc_id"]: r["c"] for r in df.select("doc_id", chunker("text").alias("c")).collect()}
    assert rows[1] == rows[3]  # deterministic
    a, b = set(rows[1]), set(rows[2])
    assert len(rows[1]) >= 4  # ~4000 bytes / avg 2^7-ish with max 1024
    # edit locality: the overwhelming majority of chunks survive the edit
    shared = len(a & b)
    assert shared / len(a) >= 0.5, (shared, len(a), len(b))
    # and the edited doc differs somewhere
    assert a != b


def test_cdc_chunk_stats_layout_independent(spark):
    """Chunk-sharing stats are content-addressed: identical output
    across partition layouts, and a planted partial duplicate shows a
    high shared fraction while an unrelated doc shows zero."""
    import numpy as np

    from smaph_spark.ops.dedup import cdc_chunk_stats

    rng = np.random.default_rng(88)

    def txt(n, seed):
        r = np.random.default_rng(seed)
        return bytes(r.integers(32, 127, size=n, dtype=np.uint8)).decode("ascii")

    base = txt(3000, 1)
    partial = base[:2000] + txt(1000, 2)   # shares ~2/3 of content
    other = txt(3000, 3)
    df = spark.createDataFrame(
        [(1, base), (2, partial), (3, other)], "doc_id long, text string"
    )
    outs = []
    for parts in (1, 8):
        rows = {
            r["doc_id"]: (r["n_chunks"], r["n_shared_chunks"], r["shared_frac"])
            for r in cdc_chunk_stats(df.repartition(parts)).collect()
        }
        outs.append(rows)
    assert outs[0] == outs[1]
    rows = outs[0]
    assert rows[1][2] > 0.3      # base shares a prefix's worth of chunks
    assert rows[2][2] > 0.3
    assert rows[3][1] == 0 and rows[3][2] == 0.0  # unrelated: nothing shared


def test_cdc_containment_matches_bruteforce(spark):
    """dd09 containment == a python brute-force over the same chunk
    sets (capping effectively off), and the planted partial duplicate
    scores high where the unrelated doc never pairs."""
    import numpy as np
    from dataclasses import replace

    from smaph_spark.config import ERConfig
    from smaph_spark.ops.dedup import cdc_containment_pairs, make_cdc_chunk_udf

    def txt(n, seed):
        r = np.random.default_rng(seed)
        return bytes(r.integers(32, 127, size=n, dtype=np.uint8)).decode("ascii")

    base = txt(3000, 11)
    embedded = base[:2500] + txt(4000, 12)   # base's prefix inside a bigger doc
    other = txt(3000, 13)
    df = spark.createDataFrame(
        [(1, base), (2, embedded), (3, other)], "doc_id long, text string"
    )
    cfg = replace(ERConfig(), max_block_size=10_000)
    got = {
        (r["a_doc"], r["b_doc"]): (r["n_shared_chunks"], r["containment"])
        for r in cdc_containment_pairs(df, min_containment=0.0, cfg=cfg).collect()
    }
    # brute force from the same chunker
    chunker = make_cdc_chunk_udf()
    sets = {
        r["doc_id"]: set(r["c"])
        for r in df.select("doc_id", chunker("text").alias("c")).collect()
    }
    for (a, b), (n_shared, cont) in got.items():
        inter = len(sets[a] & sets[b])
        assert n_shared == inter
        assert cont == round(inter / min(len(sets[a]), len(sets[b])), 4)
    assert got[(1, 2)][1] >= 0.5          # embedded prefix -> high containment
    assert (1, 3) not in got or got[(1, 3)][0] == 0
    assert (2, 3) not in got or got[(2, 3)][0] == 0


def test_cdc_containment_hot_chunk_capped_and_logged(spark):
    """A chunk shared by every doc (license-header analogue) must be
    salted/dropped with logged counts, not joined quadratically."""
    import numpy as np
    from dataclasses import replace

    from smaph_spark.config import ERConfig
    from smaph_spark.ops.dedup import CAP_METRICS, cdc_containment_pairs

    # a long SHARED random prefix: content-defined boundaries fall
    # inside it, so every doc carries the same ~dozen prefix chunks
    # (a constant-byte run would never cut and produce no shared chunk)
    hdr_rng = np.random.default_rng(20)
    header = bytes(hdr_rng.integers(32, 127, size=2000, dtype=np.uint8)).decode("ascii")
    rng = np.random.default_rng(21)
    rows = [
        (i, header + bytes(rng.integers(32, 127, size=2000, dtype=np.uint8)).decode("ascii"))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = replace(ERConfig(), max_block_size=5, block_salt_buckets=2)
    cdc_containment_pairs(
        df, min_containment=0.0, cfg=cfg, metrics_query="dd09test"
    ).collect()
    m = CAP_METRICS["dd09test"]
    assert m["dropped_band_keys"] > 0  # 30 docs/chunk > drop limit 10

    # SALTED band (count in (max_block_size, drop_limit]) — the branch
    # that used to throw CAST_INVALID_INPUT on long keys under ANSI
    # coercion (round-4 review): must execute AND log, not crash
    df8 = spark.createDataFrame(rows[:8], "doc_id long, text string")
    out = cdc_containment_pairs(
        df8, min_containment=0.0, cfg=cfg, metrics_query="dd09salt"
    ).collect()
    ms = CAP_METRICS["dd09salt"]
    assert ms["salted_band_keys"] > 0 and ms["dropped_band_keys"] == 0
    assert out  # pairs still produced from the salted sub-buckets


def test_dd03_dd09_empty_input_records_zero_caps(spark):
    """Empty input: the capped key table is checkpointed and its
    observed cap counts read, so both pair functions must return no
    rows and record all-zero caps, not block on an Observation that
    never ran or raise on a pruned one."""
    from smaph_spark.ops.dedup import cdc_containment_pairs

    zero = {"salted_band_keys": 0, "dropped_band_keys": 0,
            "records_in_dropped_bands": 0}
    CAP_METRICS.clear()
    fp = spark.createDataFrame(
        [], "doc_id long, minhash array<int>, bands array<long>"
    )
    cfg = ERConfig(shingle_k=5, num_minhash=64, lsh_bands=16,
                   max_block_size=500, block_salt_buckets=8)
    assert minhash_lsh_pairs(fp, cfg).count() == 0
    assert CAP_METRICS["dd03_minhash_lsh_pairs"] == zero
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert cdc_containment_pairs(docs, metrics_query="dd09empty").count() == 0
    assert CAP_METRICS["dd09empty"] == zero
