"""The benchmark's workloads: set-up, one pass, output checks and the
traced pass of each.

A pass is the unit the closed loop times: one ``ERPipeline.run`` plus
one delta batch through ``run_incremental`` (``er``), or one sweep over
the registry queries (``registry``). Each pass consumes its output on
the driver (the cluster labels, or each query's rows) inside the timed
region; the checks on that output run after the clock stops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import replace

import numpy as np

from perfbench import inputs

# The registry sweep runs in a fresh JVM and is bound by first-touch
# and per-job latency, so its cost is per query. These are the queries
# the run budget allows: the banded self-joins dd03/dd06 (with their cap
# counts), the scan fractions of sim02/sim04 (sim04 also a carry-over),
# er01's carry-over and result cache, and one query of every relational
# layer.
PAIR_QUERIES = "dd03 dd06 sim02 sim04 er01".split()
RELATIONAL_QUERIES = "q13 sk01 ds03 tx01 st01 ab01".split()
CAPPED_QUERIES = ("dd03", "dd06")                  # dedup.CAP_METRICS
SCAN_QUERIES = ("sim02", "sim04")                  # similarity.SCAN_METRICS
FLOAT_DIGITS = 9

_ER_LAYERS = {
    "normalize": ("records",),
    "blocking": ("block_keys", "salted_blocks", "dropped_blocks"),
    "pairs": ("candidates",),
    "scoring": ("matches", "match_ratio"),
    "clustering": ("edges", "iterations", "distributed"),
}
_UNITS = {"wall_s": "s", "task_s": "s", "shuffle_bytes": "bytes",
          "snapshot_write_s": "s", "snapshot_bytes": "bytes", "fold_s": "s",
          "match_ratio": "ratio", "scan_fraction": "ratio",
          "coverage": "ratio", "overhead_s": "s", "distributed": "flag",
          "cc_distributed": "flag", "history_keys_reused": "flag"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in output order, with its unit."""
    names = []
    for layer, counts in _ER_LAYERS.items():
        names += [f"{layer}.{m}" for m in ("wall_s", "task_s", "shuffle_bytes")]
        names += [f"{layer}.{c}" for c in counts]
    names += [f"pipeline.{m}" for m in
              ("wall_s", "task_s", "shuffle_bytes", "delta_records", "matches",
               "cc_distributed", "snapshot_write_s", "snapshot_bytes",
               "history_keys_reused", "fold_s")]
    for q in PAIR_QUERIES:
        names += [f"{q}.wall_s", f"{q}.task_s", f"{q}.jobs"]
    for q in CAPPED_QUERIES:
        names += [f"{q}.salted_band_keys", f"{q}.dropped_band_keys"]
    names += [f"{q}.scan_fraction" for q in SCAN_QUERIES]
    names += [f"{q}.wall_s" for q in RELATIONAL_QUERIES]
    names += [f"spark.{m}" for m in
              ("jobs", "stages", "tasks", "task_s", "persisted_rdds")]
    names += ["trace.coverage", "trace.overhead_s"]
    return [(n, _UNITS.get(n.split(".", 1)[1], "count")) for n in names]


def round_floats(pdf):
    """Float columns rounded to FLOAT_DIGITS significant digits: Spark
    merges partial double sums in shuffle-fetch order, so their last
    bits are not fixed from run to run."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = [float(f"{v:.{FLOAT_DIGITS}g}") for v in pdf[c]]
    return pdf


def rows_sha256(pdf) -> str:
    """Order-insensitive digest of a result: floats rounded, columns by
    name, rows sorted by every value (the registry's oracle canonical
    form)."""
    from smaph_spark.plans.parity import _canon

    canon = _canon(round_floats(pdf))
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def clear_pass_state(spark) -> None:
    """Pass isolation: nothing cached by one pass serves the next."""
    from smaph_spark.ops import er_docs

    er_docs._RESULT_CACHE.clear()
    spark.catalog.clearCache()


class Checks:
    """Output checks of one run. ``op`` names the operation being
    checked (a pass, or one query call of a pass); an operation with
    any failed check counts once as failed."""

    def __init__(self):
        self.op = "set-up"
        self.failures: list[tuple[str, str]] = []

    def require(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append((self.op, what))

    def failed_ops(self, since: int = 0) -> int:
        return len({op for op, _ in self.failures[since:]})


# ---------------------------------------------------------------------------
# ER workload
# ---------------------------------------------------------------------------

def _cc_distributed(cc_history) -> int:
    return int(not any("local_union_find" in h for h in cc_history))


class ER:
    """One pass resolves a history and then absorbs one delta batch into
    it, the flow of a continuously ingesting deployment: one
    ``ERPipeline.run`` over the history with snapshots (the batch job),
    then ``run_incremental`` over one delta against that result. Both
    use the committed GBT scorer with the recipe tests/test_model_io.py
    pins.

    The corpus is split by hash bucket, so deltas bridge into history
    clusters: buckets 11..49 are the history, bucket 10 is the set-up
    pass's delta, buckets 0..9 are the timed deltas, taken in turn.
    Every pass gets fresh run-scoped snapshot dirs; the history key
    table, keyed by the history alone, is written by the set-up pass and
    reused, as in production. The batch run's match graph is larger than
    ``cc_local_threshold`` (distributed CC); a delta's matches plus the
    history pseudo-edges are smaller (driver union-find)."""

    name = "er"
    f1_floor = 0.99
    ops_per_pass = 2   # the batch run and the delta batch
    n_buckets = 50     # one bucket = 2% of the corpus
    n_deltas = 10
    warm_bucket = 10

    def __init__(self, size: dict, seed: int, work: str, checks: Checks,
                 expected: dict, meter):
        self.size, self.seed, self.work = size, seed, work
        self.checks, self.expected, self.meter = checks, expected, meter
        self.facts: dict = {}
        self.sha: dict[str, str] = {}  # digest name -> first value seen

    def load_artifacts(self, spark) -> None:
        from smaph_spark.config import ERConfig
        from smaph_spark.operators.model_io import load_scorer

        model, thr, _ = load_scorer(os.path.join("models", "gbt_scorer"))
        self.model = model
        # a lowered local-CC threshold keeps both CC paths exercised at a
        # corpus small enough for the run budget
        self.cfg = replace(ERConfig(), match_threshold=thr,
                           cc_local_threshold=self.size["cc_local_threshold"])

    def prepare(self, spark) -> None:
        corpus = inputs.write_files_corpus(
            spark, os.path.join(self.work, "inputs"), self.size["er_pairs"],
            self.seed, self.n_buckets,
        )
        self.buckets = f"{corpus}/buckets"
        self.history = spark.read.parquet(*[
            f"{self.buckets}/bucket={k}"
            for k in range(self.warm_bucket + 1, self.n_buckets)])
        self.gold = spark.read.parquet(f"{corpus}/gold.parquet")
        self.ckpt = os.path.join(self.work, "ckpt")
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def bucket(self, i: int, traced: bool = False) -> int:
        """The delta of pass ``i`` (-1: the set-up pass). A traced pass
        repeats the delta of the pass before it, so their labels can be
        compared."""
        if i < 0:
            return self.warm_bucket
        return (i - 1 if traced else i) % self.n_deltas

    def _delta(self, spark, b: int):
        return spark.read.parquet(f"{self.buckets}/bucket={b}")

    # -- the two operations ------------------------------------------------

    def _pipe(self, spark):
        from smaph_spark.pipeline import ERPipeline

        return ERPipeline(spark, self.cfg, checkpoint_dir=self.ckpt,
                          scorer_model=self.model)

    def _batch(self, spark):
        c0, t0 = self.meter.cpu_s(), time.perf_counter()
        res = self._pipe(spark).run(self.history)
        labels = res.clusters.select("record_id", "cluster_id").toPandas()
        return res, labels, time.perf_counter() - t0, self.meter.cpu_s() - c0

    def _incremental(self, spark, b: int, clusters, normalized):
        c0, t0 = self.meter.cpu_s(), time.perf_counter()
        res = self._pipe(spark).run_incremental(
            self.history, self._delta(spark, b), clusters,
            history_normalized=normalized,
            history_ids=normalized.select("record_id"),
        )
        labels = res.clusters.select("record_id", "cluster_id").toPandas()
        return res, labels, time.perf_counter() - t0, self.meter.cpu_s() - c0

    def _drop_run_snapshots(self) -> None:
        """Fresh snapshot dirs for the next pass: every run-scoped dir
        goes, the history key table (keyed by the history alone) stays."""
        for d in os.listdir(self.ckpt):
            if "-hist=" not in d:
                shutil.rmtree(os.path.join(self.ckpt, d))

    # -- checks ------------------------------------------------------------

    def _check_quality(self, files, res, tag: str) -> None:
        from smaph_spark.operators.metrics import clusters_pairwise_prf
        from smaph_spark.pipeline import ERPipeline

        f1 = clusters_pairwise_prf(res.clusters, self.gold)["f1"]
        self.facts.setdefault("pairwise_f1", {})[tag] = f1
        self.checks.require(f1 >= self.f1_floor,
                            f"{tag}: pairwise_f1 {f1:.4f} < {self.f1_floor}")
        bad = ERPipeline.verify_content_sha(files, res.normalized)
        self.checks.require(bad == 0, f"{tag}: verify_content_sha = {bad}")

    def _check_labels(self, key: str, labels) -> None:
        """The labels of ``key`` equal the first ones seen in this run,
        and the pinned digest when there is one."""
        labels = labels.sort_values("record_id", kind="mergesort")
        sha = hashlib.sha256(
            labels[["record_id", "cluster_id"]].to_numpy(np.int64).tobytes()
        ).hexdigest()
        first = self.sha.setdefault(key, sha)
        self.checks.require(sha == first, f"{key}: labels changed between passes")
        pin = self.expected.get(key)
        if pin is not None:
            self.checks.require(sha == pin, f"{key}: labels differ from pin")

    def _after_batch(self, i: int, res, labels) -> None:
        self._check_labels("er.batch.labels_sha256", labels)
        if i == 0:
            self._check_quality(self.history, res, "batch")
            sm = res.stage_metrics
            self.facts.update(
                history_rows=sm["s1_normalized"]["rows"],
                pairs=sm["s3_pairs_scored"]["rows"],
                edges=sm["s4_matches"]["rows"],
                distributed=_cc_distributed(sm["s5_cc_iterations"]),
            )
            self.checks.require(self.facts["distributed"] == 1,
                                "batch: connected components took the local path")

    def _after_delta(self, spark, i: int, b: int, res, labels) -> None:
        self._check_labels(f"er.delta{b}.labels_sha256", labels)
        if i == 0:
            sm = res.stage_metrics
            self._check_quality(
                self.history.unionByName(self._delta(spark, b)), res, "delta")
            self.facts.update(
                delta_rows=sm["s1_normalized"]["rows"],
                delta_pairs=sm["s3_pairs_scored"]["rows"],
                delta_matches=sm["s4_matches"]["rows"],
                delta_cc_edges=sm["s5_cc_iterations"][0].get("edges"),
                delta_distributed=_cc_distributed(sm["s5_cc_iterations"]),
            )
            self.checks.require(self.facts["delta_distributed"] == 0,
                                "delta: connected components took the "
                                "distributed path")
            reused = sm.get("s2_history_keys", {})
            self.checks.require(bool(reused.get("resumed_from_snapshot")),
                                "delta: history key table not reused")
        self._drop_run_snapshots()

    def digests(self) -> dict:
        return dict(sorted(self.sha.items()))

    # -- set-up and passes -------------------------------------------------

    def timed_setup(self, spark) -> float:
        """One pass before the timed ones: it warms both paths and writes
        the shared history key table."""
        t0 = time.perf_counter()
        self.run_pass(spark, -1)
        return time.perf_counter() - t0

    def run_pass(self, spark, i: int) -> dict:
        self.checks.op = f"pass {i} batch"
        hist, labels, b_wall, b_cpu = self._batch(spark)
        self._after_batch(i, hist, labels)
        self.checks.op = f"pass {i} delta"
        b = self.bucket(i)
        res, labels, d_wall, d_cpu = self._incremental(
            spark, b, hist.clusters, hist.normalized)
        self._after_delta(spark, i, b, res, labels)
        records = sum(r.stage_metrics["s1_normalized"]["rows"]
                      for r in (hist, res))
        return {"wall_s": b_wall + d_wall, "cpu_s": b_cpu + d_cpu,
                "batch_wall_s": b_wall, "delta_wall_s": d_wall,
                "records": records}

    def traced_pass(self, spark, i: int, scraper, tracer_cls) -> dict:
        """Replays ERPipeline.run's public calls in order, each output
        written to a snapshot and counted inside its own span, as ``run``
        does with a checkpoint dir; then the delta batch in one
        ``pipeline`` span, split by its ``stage_metrics`` (each stage is
        materialized by its snapshot write)."""
        tr = tracer_cls(spark, f"p{i}")
        self.checks.op = f"pass {i} batch"
        t0 = time.perf_counter()
        layer, normalized, clusters, labels = self._replay_batch(spark, tr, i)
        wall = time.perf_counter() - t0
        self._check_labels("er.batch.labels_sha256", labels)

        self.checks.op = f"pass {i} delta"
        b = self.bucket(i, traced=True)
        with tr.span("pipeline"):
            res, labels, d_wall, _ = self._incremental(spark, b, clusters,
                                                       normalized)
        wall += d_wall
        # read the totals before the checks below start jobs of their own
        totals = scraper.totals(tr.groups())
        layer["blocking.block_keys"] = spark.read.parquet(
            os.path.join(self.ckpt, f"replay-p{i}", "s2_blocks")
        ).select("join_key").distinct().count()
        sm = res.stage_metrics
        written, snap_bytes = 0.0, 0
        for key in ("s1_normalized", "s2_blocks", "s3_pairs_scored",
                    "s4_matches", "s5_clusters"):
            if not sm[key].get("resumed_from_snapshot"):
                written += sm[key]["elapsed_sec"]
                snap_bytes += _dir_bytes(sm[key]["path"])
        layer.update({
            "pipeline.delta_records": sm["s1_normalized"]["rows"],
            "pipeline.matches": sm["s4_matches"]["rows"],
            "pipeline.cc_distributed": _cc_distributed(sm["s5_cc_iterations"]),
            "pipeline.snapshot_write_s": written,
            "pipeline.snapshot_bytes": snap_bytes,
            "pipeline.history_keys_reused":
                int(bool(sm["s2_history_keys"].get("resumed_from_snapshot"))),
            "pipeline.fold_s": d_wall - written,
        })
        self._after_delta(spark, i, b, res, labels)

        for s in tr.spans:
            layer[f"{s['name']}.wall_s"] = s["end"] - s["start"]
            layer[f"{s['name']}.task_s"] = totals[s["group"]]["task_s"]
            layer[f"{s['name']}.shuffle_bytes"] = totals[s["group"]]["shuffle_bytes"]
        return {"wall_s": wall, "layer": layer, "totals": totals,
                "spans": tr.spans, "tracer_s": tr.own_s,
                "covered": sum(totals[s["group"]]["task_s"] for s in tr.spans)}

    def _replay_batch(self, spark, tr, i: int) -> tuple:
        from pyspark.sql import functions as F

        from smaph_spark.operators.blocking import (
            cap_and_salt_blocks, generate_blocks,
        )
        from smaph_spark.operators.clustering import connected_components
        from smaph_spark.operators.normalize import normalize_files
        from smaph_spark.operators.pairs import (
            attach_pair_features, generate_pairs,
        )
        from smaph_spark.operators.scoring import filter_matches, gbt_score

        cfg, out = self.cfg, os.path.join(self.ckpt, f"replay-p{i}")

        def snapshot(df, stage):
            path = os.path.join(out, stage)
            df.write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
            return df, df.count()

        with tr.span("normalize"):
            normalized, n_rec = snapshot(
                normalize_files(self.history, cfg).drop("content"),
                "s1_normalized")
        with tr.span("blocking"):
            salted, block_metrics = cap_and_salt_blocks(
                generate_blocks(normalized, cfg), cfg)
            acts = {r["action"]: int(r["n"]) for r in
                    block_metrics.groupBy("action").count()
                    .withColumnRenamed("count", "n").collect()}
            salted, _ = snapshot(salted, "s2_blocks")
        with tr.span("pairs"):
            feat, n_cand = snapshot(attach_pair_features(
                generate_pairs(salted, cfg), normalized, cfg), "s3_pairs")
        with tr.span("scoring"):
            matches, n_match = snapshot(
                filter_matches(gbt_score(self.model, feat), cfg)
                .filter(F.col("is_match")), "s4_matches")
        with tr.span("clustering"):
            clusters, cc = connected_components(matches, cfg,
                                                all_records=normalized)
            clusters, _ = snapshot(clusters, "s5_clusters")
            labels = clusters.select("record_id", "cluster_id").toPandas()
        layer = {
            "normalize.records": n_rec,
            "blocking.salted_blocks": acts.get("salted", 0),
            "blocking.dropped_blocks": acts.get("dropped", 0),
            "pairs.candidates": n_cand,
            "scoring.matches": n_match,
            "scoring.match_ratio": n_match / max(n_cand, 1),
            "clustering.edges": n_match,
            "clustering.iterations": sum("iteration" in h for h in cc),
            "clustering.distributed": _cc_distributed(cc),
        }
        return layer, normalized, clusters, labels


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# registry sweep
# ---------------------------------------------------------------------------

class Registry:
    """One pass = every query of ``queries`` once, its rows collected to
    the driver. The order is fixed: the first queries after set-up pay
    the JVM's and the Python workers' first-touch costs, and a
    seed-shuffled order moved ~5 s of that between queries, swinging
    the sweep between 43 and 53 s over five seeds on a 4-core host."""

    name = "registry"
    queries = PAIR_QUERIES + RELATIONAL_QUERIES
    ops_per_pass = len(queries)

    def __init__(self, size: dict, seed: int, work: str, checks: Checks,
                 expected: dict, meter):
        self.size, self.seed, self.work = size, seed, work
        self.checks, self.expected, self.meter = checks, expected, meter
        self.facts: dict = {}
        self.first_sha: dict[str, str] = {}

    def load_artifacts(self, spark) -> None:
        from smaph_spark.ops import er_docs, similarity

        er_docs._SCORER_CACHE.clear()
        er_docs.get_document_scorer(spark)
        books = similarity.load_pq_codebooks(
            similarity.PQ_MODEL_PATH, m=16, n_centroids=16, dim=inputs.EMBED_DIM)
        if books is None:
            raise RuntimeError("PQ codebook artifact missing or mismatched")

    def prepare(self, spark) -> None:
        import __spark_entry__  # noqa: F401 — populates the registry
        from smaph_spark.plans.star_queries import QUERIES

        self.sf_dir = inputs.write_star_tables(
            os.path.join(self.work, "inputs"), self.size["sf"], self.seed)
        full = {n.split("_")[0]: n for n in QUERIES}
        self.specs = {q: QUERIES[full[q]] for q in self.queries}

    def timed_setup(self, spark) -> float:
        return 0.0

    def digests(self) -> dict:
        return {f"{q}.rows_sha256": sha for q, sha in sorted(self.first_sha.items())}

    def _oracle_check(self, con, q: str, pdf) -> None:
        from smaph_spark.plans.parity import compare_frames

        res = compare_frames(round_floats(pdf),
                             round_floats(con.execute(self.specs[q].sql).fetchdf()))
        self.checks.require(res["ok"], f"DuckDB oracle mismatch {res.get('error')}")

    def _check(self, q: str, pdf, con) -> None:
        sha = rows_sha256(pdf)
        if q not in self.first_sha:
            self.first_sha[q] = sha
            self.facts.setdefault("rows", {})[q] = len(pdf)
            if self.specs[q].sql is not None:
                self._oracle_check(con, q, pdf)
            pin = self.expected.get(f"{q}.rows_sha256")
            if pin is not None:
                self.checks.require(sha == pin, "rows differ from pin")
        self.checks.require(sha == self.first_sha[q], "rows changed between passes")

    def _sweep(self, spark, i: int, tracer=None) -> tuple[float, float, dict]:
        from smaph_spark.plans.parity import duck_con

        per_query, results = {}, {}
        c0 = self.meter.cpu_s()
        for q in self.queries:
            fn = self.specs[q].fn
            ctx = tracer.span(q) if tracer else nullcontext()
            try:  # a query that raises is one failed call; the sweep goes on
                with ctx:
                    t0 = time.perf_counter()
                    results[q] = fn(spark, self.sf_dir).toPandas()
                    per_query[q] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                self.checks.op = f"pass {i} {q}"
                self.checks.require(False, "raised")
        cpu = self.meter.cpu_s() - c0
        con = duck_con(self.sf_dir)
        try:
            for q, pdf in results.items():
                self.checks.op = f"pass {i} {q}"
                self._check(q, pdf, con)
        finally:
            con.close()
        return sum(per_query.values()), cpu, per_query

    def run_pass(self, spark, i: int) -> dict:
        wall, cpu, per_query = self._sweep(spark, i)
        self.facts.setdefault("query_wall_s", []).append(
            {q: round(t, 3) for q, t in per_query.items()})
        pairs = sum(per_query[q] for q in PAIR_QUERIES if q in per_query)
        return {"wall_s": wall, "cpu_s": cpu, "pair_wall_s": pairs,
                "relational_wall_s": wall - pairs}

    def traced_pass(self, spark, i: int, scraper, tracer_cls) -> dict:
        from smaph_spark.ops import dedup, similarity

        tr = tracer_cls(spark, f"p{i}")
        wall, _, per_query = self._sweep(spark, i, tr)
        totals = scraper.totals(tr.groups())
        layer = {}
        for s in tr.spans:
            q, t = s["name"], totals[s["group"]]
            layer[f"{q}.wall_s"] = per_query[q]
            if q in PAIR_QUERIES:
                layer[f"{q}.task_s"] = t["task_s"]
                layer[f"{q}.jobs"] = t["jobs"]
        for q in CAPPED_QUERIES:
            caps = next(v for k, v in dedup.CAP_METRICS.items()
                        if k.startswith(f"{q}_"))
            layer[f"{q}.salted_band_keys"] = caps["salted_band_keys"]
            layer[f"{q}.dropped_band_keys"] = caps["dropped_band_keys"]
        for q in SCAN_QUERIES:
            layer[f"{q}.scan_fraction"] = similarity.SCAN_METRICS[
                next(k for k in similarity.SCAN_METRICS if k.startswith(f"{q}_"))
            ]["scan_fraction"]
        return {"wall_s": wall, "layer": layer, "totals": totals,
                "spans": tr.spans, "tracer_s": tr.own_s,
                "covered": sum(totals[s["group"]]["task_s"] for s in tr.spans)}


WORKLOADS = {w.name: w for w in (ER, Registry)}


def median(xs):
    return statistics.median(xs) if xs else 0.0
