"""Test-only references and fixture encoders: the exact twins and Python
twins the package's operators are checked against (CC, the pair and
cluster metrics), the image encoders
that build the decoders' test payloads, and the per-job-group Spark job
counter the job budgets use. Nothing in the package calls them."""

from __future__ import annotations

import itertools
import re
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smaph_spark.functions.abbreviations import NON_WORD_RE
from smaph_spark.ops.multimodal import _PNG_SIG


def stage_metrics_resumed(stage_metrics: dict) -> bool:
    """True iff every snapshot-backed stage of a run (its
    ``PipelineResult.stage_metrics``) was read from disk."""
    snapshot_stages = [
        k for k in ("s1_normalized", "s2_blocks", "s3_pairs_scored",
                    "s4_matches", "s5_clusters") if k in stage_metrics
    ]
    return bool(snapshot_stages) and all(
        stage_metrics[k].get("resumed_from_snapshot") for k in snapshot_stages
    )


def jobs_in_group(spark, group: str, fn):
    """(fn(), number of Spark jobs fn started), counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def cap_counts(block_metrics: DataFrame) -> tuple[int, int, int]:
    """(salted keys, dropped keys, records in dropped keys) of a
    ``cap_and_salt_blocks`` metrics frame, in one collect: the reference
    the observed cap counts are compared against."""
    action = F.col("action")
    row = block_metrics.agg(
        F.count_if(action == "salted"),
        F.count_if(action == "dropped"),
        F.sum(F.when(action == "dropped", F.col("n_records"))),
    ).first()
    return int(row[0]), int(row[1]), int(row[2] or 0)


def exact_event_stats(events: DataFrame) -> DataFrame:
    """The exact twin sk01 is error-bounded against (at scale this is
    the plan the sketch replaces)."""
    return events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
        ).alias("exact_p50"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"
        ).alias("exact_p95"),
    )


def reference_components(edges, records) -> dict:
    """Plain-Python union-find: {record: min record of its component}."""
    comp = {r: {r} for r in records}
    for a, b in edges:
        if comp[a] is not comp[b]:
            merged = comp[a] | comp[b]
            for r in merged:
                comp[r] = merged
    return {r: min(c) for r, c in comp.items()}


def reference_confusion(predicted, gold) -> tuple[int, int, int]:
    """(tp, fp, fn) of ``(key, is_match)`` rows, by the full-outer-join
    rule the pair metrics use: predicted rows with a false is_match are
    dropped and each predicted key counts once; a key on both sides
    yields one (gold, True) row per gold row, a key on one side one row
    per row with the other side False; a NULL gold label counts as
    False."""
    pred = {k for k, m in predicted if m}
    gold_by: dict = {}
    for k, m in gold:
        gold_by.setdefault(k, []).append(bool(m))
    tp = fp = fn = 0
    for k in pred | set(gold_by):
        p = k in pred
        for g in gold_by.get(k, [False]):
            tp += g and p
            fp += p and not g
            fn += g and not p
    return tp, fp, fn


def reference_pairwise_prf(predicted, gold) -> dict:
    """``metrics.pairwise_prf`` in plain Python (empty side: P = R = 0)."""
    tp, fp, fn = reference_confusion(predicted, gold)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def reference_clusters_pairwise_prf(clusters: dict, gold: dict) -> dict:
    """``metrics.clusters_pairwise_prf`` by enumerating every record pair
    of the records both {record: cluster} maps hold (empty: P = R = 1)."""
    recs = sorted(clusters.keys() & gold.keys())
    tp = pred_pairs = gold_pairs = 0
    for a, b in itertools.combinations(recs, 2):
        same_p, same_g = clusters[a] == clusters[b], gold[a] == gold[b]
        tp += same_p and same_g
        pred_pairs += same_p
        gold_pairs += same_g
    p = tp / pred_pairs if pred_pairs else 1.0
    r = tp / gold_pairs if gold_pairs else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp_pairs": tp, "pred_pairs": pred_pairs, "gold_pairs": gold_pairs,
            "precision": p, "recall": r, "f1": f1}


def reference_bcubed(clusters: dict, gold: dict) -> tuple:
    """(n_records, precision, recall, f1) of B-cubed over two
    {record: cluster} maps of the same records, record by record
    (Bagga & Baldwin 1998); all None without records, as SQL sums over
    no rows are NULL."""
    members_p: dict = {}
    members_g: dict = {}
    for r in clusters:
        members_p.setdefault(clusters[r], set()).add(r)
        members_g.setdefault(gold[r], set()).add(r)
    n = len(clusters)
    if not n:
        return None, None, None, None
    ps = rs = 0.0
    for r in clusters:
        both = len(members_p[clusters[r]] & members_g[gold[r]])
        ps += both / len(members_p[clusters[r]])
        rs += both / len(members_g[gold[r]])
    p, r = ps / n, rs / n
    return n, p, r, 2 * p * r / (p + r)


def clean_abbrev_py(s: str) -> str:
    """Python twin of ``abbreviations.clean_abbrev`` (kernel goldens)."""
    return re.sub(NON_WORD_RE, "", s).lower()


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BMP — the twin of ``multimodal.decode_image``: synthetic images
    round-trip without any codec library."""
    h, w, _ = img.shape
    row_size = (w * 3 + 3) // 4 * 4
    data_size = row_size * h
    header = (
        b"BM"
        + (54 + data_size).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")          # pixel data offset
        + (40).to_bytes(4, "little")          # BITMAPINFOHEADER size
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")             # positive => bottom-up
        + (1).to_bytes(2, "little")           # planes
        + (24).to_bytes(2, "little")          # bpp
        + (0).to_bytes(4, "little")           # BI_RGB (uncompressed)
        + data_size.to_bytes(4, "little")
        + b"\x00" * 16                        # resolution + palette fields
    )
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    return header + rows.tobytes()


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG
    (stdlib zlib) — the twin of ``multimodal.decode_png``.
    ``filter_type`` applies one filter to every scanline (0=None
    default; 2=Up exercises the unfilter path)."""
    h, w, _ = img.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    flat = img.reshape(h, w * 3)
    if filter_type == 0:
        lines = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    elif filter_type == 2:  # Up: raw[x] = recon[x] - recon_prev[x]
        lines = b""
        prev = np.zeros(w * 3, dtype=np.uint8)
        for y in range(h):
            lines += b"\x02" + (flat[y] - prev).tobytes()
            prev = flat[y]
    else:
        raise ValueError("encoder supports filter types 0 and 2 only")
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )
