"""Seeded benchmark inputs, written under the benchmark's own work
directory.

Two families:

* star tables (``region`` .. ``embeddings``): the schemas and value
  domains of the TPC-H-ish test tables described in TESTDATA.md and
  FIXTURES.md, scaled by ``sf`` (sf0.01 = 60k lineitem rows). Each
  table is one parquet file with a single row group, like those, so
  ``widen()`` sees the same narrow scans.
* a files corpus for the ER workload, drawn by the per-cluster
  generator of the program's ``generate_files_corpus_spark`` and split
  by hash bucket into history and delta batches.

Every directory name carries ``GENERATOR_VERSION`` and the seed, so a
changed generator never reuses stale inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 4

_BASE = {  # rows at sf0.01
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64  # the committed PQ codebook (models/pq_codebook) is 64-d


def _write(path: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _days(rng, n, start, n_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    # exactly 5% planted near-duplicates, so the dedup queries' work
    # does not swing with the seed
    dups = set(rng.choice(np.arange(20, n), size=n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    x = centers[labels] * 0.3 + rng.normal(size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels,
    }


def write_star_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten star tables for (sf, seed) once; returns the dir."""
    path = os.path.join(out_dir, f"star-v{GENERATOR_VERSION}-sf{sf}-s{seed}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([GENERATOR_VERSION, seed])
    n = {t: max(int(round(c * sf / 0.01)), 20) for t, c in _BASE.items()}
    i32, i64 = np.int32, np.int64

    _write(f"{path}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{path}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    nc = n["customer"]
    _write(f"{path}/customer.parquet", {
        "c_custkey": np.arange(nc, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
    })
    ns = n["supplier"]
    _write(f"{path}/supplier.parquet", {
        "s_suppkey": np.arange(ns, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    price = np.round(900 + (np.arange(npart) % 1000) / 10, 2)
    _write(f"{path}/part.parquet", {
        "p_partkey": np.arange(npart, dtype=i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart),
                                              rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": price,
    })
    no = n["orders"]
    _write(f"{path}/orders.parquet", {
        "o_orderkey": np.arange(no, dtype=i64),
        "o_custkey": rng.integers(0, nc, no).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(_PRIO, no).tolist(),
    })
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    _write(f"{path}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, no, nl).astype(i64),
        "l_partkey": partkey.astype(i64),
        "l_suppkey": rng.integers(0, ns, nl).astype(i64),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.95, 1.05, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2500),
    })
    ne = n["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]")
    _write(f"{path}/events.parquet", {
        "event_id": np.arange(ne, dtype=i64),
        "ts": np.datetime64("2024-01-01", "us") + ts,
        "user_id": rng.integers(0, max(ne * 3 // 200, 10), ne).astype(i64),
        "event_type": rng.choice(_EVENTS, ne).tolist(),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    _write(f"{path}/documents.parquet", _documents(rng, n["documents"]))
    _write(f"{path}/embeddings.parquet", _embeddings(rng, n["embeddings"]))
    open(done, "w").close()
    return path


def write_files_corpus(spark, out_dir: str, gold_pairs: int, seed: int,
                       n_buckets: int) -> str:
    """Write a seeded files corpus as ``buckets/bucket=<b>/`` slices
    split by pmod(xxhash64(repo, path, commit), n_buckets), so delta
    batches bridge into history clusters, plus ``gold.parquet``
    (record_id, cluster_id). Clusters are taken in index order until
    their duplicate pairs reach ``gold_pairs``: the Zipf cluster sizes
    otherwise swing the pair work by +-15% between seeds. Returns the
    corpus directory.

    The clusters are drawn on the driver with the per-cluster generator
    behind ``generate_files_corpus_spark`` (same rows, same defaults);
    Spark computes only the record ids. At this size, on a 4-core host,
    that is ~5 s faster than fanning the generation out over Spark."""
    import pandas as pd
    from pyspark.sql import functions as F

    from smaph_spark.sources.synthetic import _gen_cluster_rows

    path = os.path.join(
        out_dir, f"files-v{GENERATOR_VERSION}-p{gold_pairs}-b{n_buckets}-s{seed}"
    )
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    rows, pairs, ci = [], 0, 0
    while pairs < gold_pairs:
        cluster = _gen_cluster_rows(seed, ci, n_lines=30, mutation_strength=3,
                                    singleton_fraction=0.4,
                                    hot_path_fraction=0.05)
        rows += cluster
        pairs += len(cluster) * (len(cluster) - 1) // 2
        ci += 1
    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                        "content", "cluster_idx"])
    rid = spark.createDataFrame(files[["repo", "path", "commit"]]).select(
        F.xxhash64("repo", "path", "commit").alias("record_id")
    ).toPandas()["record_id"].to_numpy()
    os.makedirs(path, exist_ok=True)
    _write(f"{path}/gold.parquet", {"record_id": rid,
                                    "cluster_id": files["cluster_idx"].to_numpy()})
    bucket = np.mod(rid, n_buckets)  # numpy mod is non-negative, as pmod
    files = files.drop(columns="cluster_idx")
    for b in range(n_buckets):
        os.makedirs(f"{path}/buckets/bucket={b}")
        part = files[bucket == b]
        _write(f"{path}/buckets/bucket={b}/part-0.parquet",
               {c: pa.array(part[c].tolist(), pa.string()) for c in files.columns})
    open(done, "w").close()
    return path
