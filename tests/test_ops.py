"""Training-data ops: LSH recall vs brute force, SimHash sanity,
multimodal plumbing, winnowing fingerprints, streaming smoke."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from smaph_spark.ops import multimodal, similarity
from smaph_spark.plans.star_queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_lsh_ann_recall_vs_bruteforce(spark):
    """Multi-probe LSH ANN must recover >=0.9 of the exact top-5 (round-2
    VERDICT item 4: the old single-probe floor of 0.5 was too weak a
    guarantee) and must LOG its candidate-scan fraction — the
    recall/scan trade is surfaced, never silent. Measured on this
    corpus: single-probe 0.62, 1-bit multi-probe 1.0."""
    import smaph_spark.ops.similarity as sim

    exact = {
        (r["q_vec"], r["n_vec"])
        for r in QUERIES["sim01_bruteforce_topk"].fn(spark, SF).collect()
    }
    sim.SCAN_METRICS.clear()
    approx = {
        (r["q_vec"], r["n_vec"])
        for r in QUERIES["sim02_lsh_topk"].fn(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH ANN recall {recall:.2f}"
    scan = sim.SCAN_METRICS["sim02_lsh_topk"]
    assert 0 < scan["scan_fraction"] <= 1.0
    assert scan["candidates"] > 0


def test_simhash_identical_and_different(spark):
    from smaph_spark.ops.dedup import _make_simhash_udf

    sh = _make_simhash_udf()
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely unrelated words about spark shuffles and joins")],
        ["id", "t"],
    ).withColumn("sim", sh("t"))
    rows = {r["id"]: r["sim"] for r in df.collect()}
    assert rows[1] == rows[2]
    assert bin(rows[1] ^ rows[3]).count("1") > 6


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"payload-a")), (2, bytearray(b"payload-b"))],
        "doc_id long, payload binary",
    )
    out = multimodal.extract_features(df)
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:int,fake_width:int,fake_height:int,"
        "feat_mean:double,decoder:string>"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 9
    assert rows[1]["decoder"] == "stub-sha256"
    # determinism
    again = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert rows[1]["feat_mean"] == again[1]["feat_mean"]


def test_decode_image_compressed_formats_stubbed():
    """Compressed formats still take the declared stub path (no codec
    library in this container)."""
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_bmp_decode_roundtrip():
    """REAL decode path (round-2 VERDICT item 7): an uncompressed
    24-bit BMP round-trips bit-exact through the pure-numpy
    encoder/decoder, including non-multiple-of-4 widths (row padding)."""
    import numpy as np

    rng = np.random.default_rng(5)
    for w, h in ((16, 8), (7, 5), (33, 2)):
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        back = multimodal.decode_image(multimodal.encode_bmp(img))
        assert back.shape == (h, w, 3)
        assert (back == img).all()


def test_feature_extract_real_pixels_for_bmp(spark):
    """extract_features computes features from REAL pixels for BMP
    payloads (decoder column says so) and falls back to the stub for
    opaque bytes — both in one batch."""
    import numpy as np

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(6, 10, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(img))),
         (2, bytearray(b"not-an-image"))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert rows[1]["decoder"] == "bmp-numpy"
    assert rows[1]["fake_width"] == 10 and rows[1]["fake_height"] == 6
    assert rows[1]["feat_mean"] == round(float(img.mean()) / 255.0, 6)
    assert rows[2]["decoder"] == "stub-sha256"


def test_fingerprint_properties(spark):
    from smaph_spark.ops.text import make_fingerprint_udf

    fp = make_fingerprint_udf()
    df = spark.createDataFrame(
        [(1, "a shared sentence with plenty of characters to fingerprint"),
         (2, "a shared sentence with plenty of characters to fingerprint"),
         (3, "short"), (4, "")],
        ["id", "t"],
    ).withColumn("f", fp("t"))
    rows = {r["id"]: r["f"] for r in df.collect()}
    assert rows[1] == rows[2] and len(rows[1]) > 0
    assert rows[3] == [] and rows[4] == []


def test_hyperplane_signature_similarity():
    """Closer vectors share more signature bits (LSH property)."""
    rng = np.random.default_rng(0)
    base = rng.standard_normal(64)
    near = base + 0.05 * rng.standard_normal(64)
    far = rng.standard_normal(64)
    planes = rng.standard_normal((64, 32))

    def sig(v):
        return (v @ planes) > 0

    ham_near = (sig(base) != sig(near)).sum()
    ham_far = (sig(base) != sig(far)).sum()
    assert ham_near < ham_far


def test_streaming_hourly_counts_matches_batch(spark):
    """Streaming twin produces the same rows as the batch query for
    fully-closed windows (SURVEY §2.9 recast)."""
    from smaph_spark.streaming.windows import (
        run_to_memory,
        streaming_hourly_event_counts,
    )

    # the streaming file source requires a DIRECTORY; stage a symlink
    import os
    import tempfile

    stage = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(f"{SF}/events.parquet", f"{stage}/events.parquet")
    schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream = streaming_hourly_event_counts(spark, stage, schema)
    run_to_memory(stream, "stream_out")
    got = {
        (r["hour_start"], r["event_type"], r["n"])
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    batch_df = QUERIES["q19_hourly_event_counts"].fn(spark, SF)
    # watermark may hold back the last (open) window — compare on the
    # windows the stream emitted, and require substantial coverage
    batch = {
        (r["hour_start"], r["event_type"], r["n"]) for r in batch_df.collect()
    }
    assert got, "stream emitted nothing"
    assert got <= batch
    assert len(got) >= 0.8 * len(batch)


def test_bold_feature_udfs_match_scalar(spark):
    """M7: fragmentation/aggregation/min-ED Arrow UDFs in a real plan
    reproduce the scalar kernels."""
    from smaph_spark.functions import kernels as K
    from smaph_spark.functions.bold_features import (
        aggregation_udf, fragmentation_udf, min_edit_dist_udf,
    )

    rows = [
        (1, "armstrong moon", "Armstrong World Industries",
         ["neil armstrong", "armstrong", "moon landing", "armstrong"]),
        (2, "moooon moan", "moon", ["moon", "the moon"]),
        (3, "", "", []),
    ]
    df = spark.createDataFrame(
        rows, "id long, query string, bold string, bolds array<string>"
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            min_edit_dist_udf("query", "bold").alias("ed"),
            fragmentation_udf("bolds", "bold").alias("frag"),
            aggregation_udf("bolds", "bold").alias("agg"),
        ).collect()
    }
    for i, q, b, lst in rows:
        assert out[i]["ed"] == pytest.approx(K.min_edit_dist(q, b), abs=1e-12)
        assert out[i]["frag"] == pytest.approx(K.fragmentation(lst, b), abs=1e-12)
        assert out[i]["agg"] == pytest.approx(K.aggregation(lst, b), abs=1e-12)


def test_streaming_exact_dedup(spark, tmp_path):
    """dd01's streaming twin: one row per distinct text hash within the
    watermark horizon (dropDuplicatesWithinWatermark state-store path)."""
    import pandas as pd

    from smaph_spark.streaming.windows import run_to_memory, streaming_exact_dedup

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["aaa", "aaa", "bbb", "ccc"],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00", "2026-01-01 00:10",
                 "2026-01-01 00:20", "2026-01-01 00:30"]
            ),
        }
    )
    src = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    run_to_memory(streaming_exact_dedup(spark, src, schema), "dedup_out")
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    hashes = [r["text_md5"] for r in rows]
    assert len(hashes) == len(set(hashes)) == 3  # aaa emitted once


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF (KMeans cells + n_probe probing) must recover most of the
    exact top-5; with n_probe=n_cells it IS exact."""
    exact = {
        (r["q_vec"], r["n_vec"])
        for r in QUERIES["sim01_bruteforce_topk"].fn(spark, SF).collect()
    }
    approx = {
        (r["q_vec"], r["n_vec"])
        for r in QUERIES["sim03_ivf_topk"].fn(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF ANN recall {recall:.2f}"


def test_ivf_full_probe_is_exact(spark):
    from smaph_spark.ops.similarity import ivf_topk

    e = (
        QUERIES["sim01_bruteforce_topk"].fn(spark, SF).sparkSession
        .read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb"))
    )
    exact = {
        (r["q_vec"], r["n_vec"], r["rnk"])
        for r in QUERIES["sim01_bruteforce_topk"].fn(spark, SF).collect()
    }
    full = {
        (r["q_vec"], r["n_vec"], r["rnk"])
        for r in ivf_topk(e, F.col("vec_id") < 10, k=5, n_cells=8,
                          n_probe=8).collect()
    }
    assert full == exact


def test_multimodal_resize_and_frames(spark):
    from smaph_spark.ops import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(256)) * 5)), (2, bytearray(b"tiny"))],
        "doc_id long, payload binary",
    )
    fr = multimodal.sample_frames(df, n_frames=4, chunk=256).collect()
    by_doc = {}
    for r in fr:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 4  # 5 chunks -> 4 sampled frames
    assert len(by_doc[2]) == 1  # tiny payload -> single frame
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
    # determinism
    fr2 = multimodal.sample_frames(df, n_frames=4, chunk=256).collect()
    assert sorted(map(tuple, fr)) == sorted(map(tuple, fr2))


def test_decode_corrupt_bmp_falls_back_not_crashes():
    """A truncated payload that passes the BMP header sniff must take
    the deterministic fallback (one bad image must never kill a corpus
    pass), labeled distinctly from the compressed-format stub."""
    import numpy as np

    from smaph_spark.ops.multimodal import _decode_meta, encode_bmp

    good = encode_bmp(
        (np.arange(9 * 8 * 3, dtype=np.uint8).reshape(9, 8, 3))
    )
    truncated = good[: len(good) - 40]
    w, h, feat, decoder = _decode_meta(truncated)
    assert decoder == "stub-corrupt"
    assert _decode_meta(truncated) == (w, h, feat, decoder)  # deterministic
    assert _decode_meta(good)[3] == "bmp-numpy"


def test_pq_ann_recall_and_determinism(spark):
    """PQ-ADC + exact rerank must recover most of the exact top-k, and
    be bit-deterministic across runs (seeded codebooks, id ties)."""
    from smaph_spark.ops.similarity import (
        PQ_MODEL_PATH, load_pq_codebooks, pq_topk,
    )
    from smaph_spark.plans.star_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    qf = F.col("vec_id") < 10
    books = load_pq_codebooks(PQ_MODEL_PATH, m=16, n_centroids=16, dim=64)
    got = pq_topk(e, qf, books).collect()
    exact = QUERIES["sim01_bruteforce_topk"].fn(spark, sf).collect()
    got_set = {(r["q_vec"], r["n_vec"]) for r in got}
    ex_set = {(r["q_vec"], r["n_vec"]) for r in exact}
    assert len(got_set & ex_set) / len(ex_set) >= 0.8
    again = {(r["q_vec"], r["n_vec"], r["cos"], r["rnk"])
             for r in pq_topk(e, qf, books).collect()}
    first = {(r["q_vec"], r["n_vec"], r["cos"], r["rnk"]) for r in got}
    assert again == first


def test_pq_codebooks_shape_and_validation():
    import numpy as np
    import pytest as _pytest

    from smaph_spark.ops.similarity import train_pq_codebooks

    rng = np.random.default_rng(1)
    v = rng.standard_normal((200, 64))
    books = train_pq_codebooks(v, m=16, n_centroids=16)
    assert books.shape == (16, 16, 4)
    # deterministic for fixed input + seed
    assert (books == train_pq_codebooks(v, m=16, n_centroids=16)).all()
    with _pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(v, m=7)


def test_bpe_pattern_vertical_tab_cross_engine(spark):
    """Java's \\s includes \\x0b, RE2's does not — the explicit
    whitespace class must keep both engines token-identical on
    vertical-tab input."""
    import duckdb

    from smaph_spark.ops.text import BPE_PRETOKEN_RE

    texts = ["a \x0b b", "x\x0by", "\x0b", "tab\there"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    srows = {
        r["text"]: r["toks"]
        for r in df.select(
            "text",
            F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0).alias("toks"),
        ).collect()
    }
    con = duckdb.connect()
    for t in texts:
        d = con.execute(
            "SELECT regexp_extract_all(?, ?)", [t, BPE_PRETOKEN_RE]
        ).fetchone()[0]
        assert srows[t] == d, (repr(t), srows[t], d)


def test_ws_token_split_vertical_tab_cross_engine(spark):
    """Round-3 ADVICE: every token-split regex (tx01-tx10, dd02, er03)
    shares the explicit whitespace class; both engines must split a
    vertical-tab document identically."""
    import duckdb

    from smaph_spark.plans.star_queries import WS_RE

    texts = ["a\x0bb c", "x\x0b\x0by", "plain words", "tab\there\nline"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    srows = {
        r["text"]: r["toks"]
        for r in df.select(
            "text", F.split(F.trim("text"), WS_RE).alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    for t in texts:
        d = con.execute(
            "SELECT string_split_regex(trim(?), ?)", [t, WS_RE]
        ).fetchone()[0]
        assert srows[t] == d, (repr(t), srows[t], d)


def test_pq_derives_dim_from_data(spark):
    """Non-64-dim embeddings must work: m and the width come from the
    codebooks, here 8 subspaces over 32-wide data."""
    import numpy as np

    from smaph_spark.ops.similarity import (
        normalize_embeddings, pq_topk, pq_training_sample, train_pq_codebooks,
    )

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(32).tolist()) for i in range(120)]
    e = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    books = train_pq_codebooks(
        pq_training_sample(normalize_embeddings(e), 64), m=8, n_centroids=16)
    out = pq_topk(e, F.col("vec_id") < 3, books, k=3, rerank=16)
    got = out.collect()
    assert len(got) == 9 and all(r["rnk"] <= 3 for r in got)


def test_pq_codebook_artifact_roundtrip_and_mismatch_retrain(spark, tmp_path):
    """Round-3 VERDICT item 4: the PQ codebook is a model artifact that
    scripts/train_pq_codebook.py alone trains and writes. A query loads
    it or fails loudly: a missing artifact, a fingerprint other than
    the requested one, and embeddings of another width than the
    codebooks' all raise — nothing is retrained at query time."""
    import numpy as np
    import pytest as _pytest

    from smaph_spark.ops.similarity import (
        load_pq_codebooks, pq_topk, save_pq_codebooks, train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    path = str(tmp_path / "pq")
    with _pytest.raises(FileNotFoundError):
        load_pq_codebooks(path, m=16, n_centroids=16, dim=64)

    books = train_pq_codebooks(rng.standard_normal((200, 64)), m=16, n_centroids=16)
    save_pq_codebooks(books, path)
    assert (load_pq_codebooks(path, m=16, n_centroids=16, dim=64) == books).all()
    for m, n_centroids, dim in ((16, 16, 32), (8, 16, 64), (16, 8, 64)):
        with _pytest.raises(ValueError, match="scripts/train_pq_codebook.py"):
            load_pq_codebooks(path, m=m, n_centroids=n_centroids, dim=dim)

    # 32-wide data against 64-dim codebooks: the driver-side check on
    # the query rows raises before any scan runs
    schema = "vec_id long, emb array<double>"
    narrow = spark.createDataFrame(
        [(i, rng.standard_normal(32).tolist()) for i in range(100)], schema)
    with _pytest.raises(ValueError, match="width 32"):
        pq_topk(narrow, F.col("vec_id") < 3, books, k=3)
    # 64-wide query rows over a 32-wide partition: the encode UDF's own
    # check raises instead of coding that partition to centroid 0
    mixed = spark.createDataFrame(
        [(i, rng.standard_normal(64).tolist()) for i in range(100)], schema
    ).union(spark.createDataFrame(
        [(i + 100, rng.standard_normal(32).tolist()) for i in range(100)], schema))
    with _pytest.raises(Exception, match="width 32"):
        pq_topk(mixed, F.col("vec_id") < 3, books, k=3).collect()


def test_sim03_sim04_scan_metrics_populated(spark):
    """Round-3 VERDICT item 5: sim03/sim04 must record their
    candidate-scan stats in SCAN_METRICS like sim02 (no silent caps)."""
    from smaph_spark.ops.similarity import SCAN_METRICS
    from smaph_spark.plans.star_queries import QUERIES

    SCAN_METRICS.pop("sim03_ivf_topk", None)
    SCAN_METRICS.pop("sim04_pq_topk", None)
    QUERIES["sim03_ivf_topk"].fn(spark, SF).collect()
    QUERIES["sim04_pq_topk"].fn(spark, SF).collect()
    ivf = SCAN_METRICS["sim03_ivf_topk"]
    assert ivf["candidates"] > 0 and 0 < ivf["scan_fraction"] <= 1
    assert ivf["probed_cell_fraction"] == 0.25  # 4 of 16 cells
    pq = SCAN_METRICS["sim04_pq_topk"]
    assert pq["scan_fraction"] == 1.0 and pq["rerank_shortlist"] == 64
    assert pq["code_bits_per_vector"] == 64  # 16 subspaces x 4 bits


def test_streaming_gate_robust_to_session_timezone(spark):
    """st02 casts NTZ->LTZ for the watermark; in a fractional-offset
    session timezone the tumbling windows would shift off the oracle's
    wall-clock hours — the gate queries must pin UTC for the run and
    restore the caller's setting afterward."""
    from smaph_spark.ops import streaming_gate  # noqa: F401 — registers st01/st02
    from smaph_spark.plans.star_queries import QUERIES

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")  # +05:30
        rows = QUERIES["st02_streaming_hourly_counts"].fn(spark, SF).collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
        # whole-hour wall-clock boundaries, exactly the oracle's shape
        assert rows and all(r["hour_start"].endswith(":00:00") for r in rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_streaming_gate_drops_sink_views(spark):
    """Regression for the round-4 memory-sink leak: repeated st01/st02
    invocations must not accumulate temp views (each held its full
    result in driver memory for the session lifetime)."""
    from smaph_spark.ops import streaming_gate  # noqa: F401 — registers st01/st02
    from smaph_spark.plans.star_queries import QUERIES

    before = {t.name for t in spark.catalog.listTables()}
    r1 = QUERIES["st01_streaming_exact_dedup"].fn(spark, SF)
    r2 = QUERIES["st01_streaming_exact_dedup"].fn(spark, SF)
    after = {t.name for t in spark.catalog.listTables()}
    assert not {t for t in after - before if t.startswith("st01_sink")}
    # results stay readable after the view drop (eagerly materialized)
    assert r1.count() == r2.count() > 0


def test_png_roundtrip_all_filters():
    """Round-4 VERDICT item 5 — real PNG decode: encoder roundtrip for
    filters 0 (None) and 2 (Up), plus decode of test-side
    INDEPENDENTLY filtered scanlines for Sub/Average/Paeth (spec 9.2
    recurrences re-derived in the test, not shared with the decoder),
    and an RGBA image whose alpha channel is dropped."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(17)
    for w, h in ((16, 8), (7, 5), (1, 3)):
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ft in (0, 2):
            back = multimodal.decode_png(multimodal.encode_png(img, ft))
            assert back.shape == (h, w, 3) and (back == img).all(), (w, h, ft)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    def build_png(recon, channels, filters):
        """Test-side filterer: compute raw scanlines FROM the target
        reconstruction using the spec formulas, one filter per row."""
        h, w, _ = recon.shape
        flat = recon.reshape(h, w * channels).astype(np.int32)
        bpp = channels
        lines = b""
        for y in range(h):
            cur = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros_like(cur)
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            f = filters[y % len(filters)]
            if f == 1:      # Sub
                raw = cur - left
            elif f == 2:    # Up
                raw = cur - prev
            elif f == 3:    # Average
                raw = cur - (left + prev) // 2
            elif f == 4:    # Paeth
                p = left + prev - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, prev, ul))
                raw = cur - pred
            else:
                raw = cur
            lines += bytes([f]) + (raw & 0xFF).astype(np.uint8).tobytes()
        color = 2 if channels == 3 else 6
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(lines)) + chunk(b"IEND", b""))

    rgb = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    got = multimodal.decode_png(build_png(rgb, 3, [1, 3, 4, 0, 2]))
    assert (got == rgb).all()

    rgba = rng.integers(0, 256, size=(5, 6, 4), dtype=np.uint8)
    got = multimodal.decode_png(build_png(rgba, 4, [4, 1, 3]))
    assert got.shape == (5, 6, 3) and (got == rgba[..., :3]).all()


def test_png_wavefront_equals_sequential_unfilter():
    """Round-6 optimization guard: the anti-diagonal wavefront decode
    (_unfilter_wavefront — the no-per-pixel-Python path used whenever
    a scanline carries Average/Paeth) must reproduce the
    spec-sequential reference loop (_unfilter_rows) bit-for-bit over
    random scanline bytes and random per-row filter mixes, RGB and
    RGBA, including degenerate 1-pixel-wide images."""
    import numpy as np

    rng = np.random.default_rng(23)
    for (h, w, ch) in ((13, 17, 3), (8, 5, 4), (3, 1, 3), (1, 9, 4),
                       (40, 33, 3)):
        stride = w * ch
        rows = rng.integers(0, 256, size=(h, stride), dtype=np.uint8)
        filters = rng.integers(0, 5, size=h, dtype=np.uint8)
        ref = multimodal._unfilter_rows(filters, rows, h, stride, ch)
        fast = multimodal._unfilter_wavefront(filters, rows, h, w, ch)
        assert (ref == fast).all(), (h, w, ch, filters.tolist())


def test_png_feature_extract_sha_pinned(spark):
    """mm02 over a PNG payload: the decoder column reports the REAL
    png path and feat_mean is the actual pixel mean; unsupported PNG
    layouts (palette) fall back to the declared stub."""
    import struct
    import zlib

    import numpy as np

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:, :, 0] = 255  # pure red: mean = 255/3 per pixel
    payload = multimodal.encode_png(img)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    # palette PNG (color type 3) — declared-unsupported layout
    pal = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", b"\xff\x00\x00")
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00\x00"))
           + chunk(b"IEND", b""))
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(pal))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in multimodal.extract_features(df).collect()}
    assert rows[1]["decoder"] == "png-real"
    assert rows[1]["fake_width"] == 4 and rows[1]["fake_height"] == 4
    assert rows[1]["feat_mean"] == round((255.0 / 3.0) / 255.0, 6)
    assert rows[2]["decoder"] == "stub-sha256"

    # corrupt PNG (truncated IDAT) must label stub-corrupt, not raise
    bad = payload[:-20]
    row = multimodal.extract_features(
        spark.createDataFrame([(3, bytearray(bad))],
                              "doc_id long, payload binary")
    ).collect()[0]
    assert row["decoder"] == "stub-corrupt"
