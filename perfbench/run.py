#!/usr/bin/env python3
"""smaph_spark benchmark: one command, every end-to-end metric, output
checks, and a traced run for the per-layer metrics.

    python3 perfbench/run.py --workload er --seed 1 --seconds 8 --trace 0

Run it from the repository root. One driver process runs Spark in
``local[4]`` as a closed loop: the next pass starts only after the
previous one returned. ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs with the Spark UI on, traces every
pass with spans around the public calls into each layer and prints the
per-layer metrics. The last line of stdout is the result object; the
line before it (``perfbench-report``) carries the details: samples,
sizing counts, pairwise F1, throughput, persisted RDDs and any failed
check. The exit code is non-zero when any output check fails.

All inputs, Spark scratch space and temp files live under
``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# sizes: "default" is what the benchmark measures, "tiny" is the
# self-test's. cc_local_threshold sits between the ER workload's two
# edge counts: the batch run's match graph is larger (distributed CC),
# a delta's matches plus the history pseudo-edges smaller (driver
# union-find), as with the default threshold at full scale.
SIZES = {
    "default": {"sf": 0.01, "er_pairs": 5000, "cc_local_threshold": 2000},
    "tiny": {"sf": 0.002, "er_pairs": 1200, "cc_local_threshold": 500},
}
CORES = 4


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="default")
    p.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                   help="pinned output digests, keyed size/seed/workload; "
                   "empty for none")
    return p.parse_args(argv)


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and give the
    Python workers the program on their path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SMAPH_SPARK_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _session(trace: bool):
    from smaph_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def _warm_up(spark) -> None:
    """Start the Python workers with the program imported, and run one
    JVM aggregation, so the first timed pass pays no process start."""
    from pyspark.sql import functions as F

    def imports(batches):
        import smaph_spark.ops.dedup  # noqa: F401
        import smaph_spark.ops.similarity  # noqa: F401
        import smaph_spark.operators.pairs  # noqa: F401
        for b in batches:
            yield b

    spark.range(1_000_000).agg(F.sum("id")).collect()
    spark.range(0, 4 * CORES, 1, CORES).mapInPandas(imports, "id long").collect()


def _setup(wl, trace: bool) -> tuple:
    """Start the session, load the artifacts and warm up. Returns
    (session, session start seconds, artifact load and warm-up
    seconds)."""
    t0 = time.perf_counter()
    spark = _session(trace)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.load_artifacts(spark)
    _warm_up(spark)
    return spark, session_s, time.perf_counter() - t0


def _quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0], xs[0]] if xs else [0.0, 0.0, 0.0]
    return statistics.quantiles(xs, n=4)


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in ("smaph_spark", "__spark_entry__.py",
                           "models/gbt_scorer", "models/pq_codebook")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a smaph_spark checkout; missing {missing}",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    _environment()

    from perfbench import workloads as W
    from perfbench.meter import ProcMeter

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    pins = {}
    if args.expected and os.path.exists(args.expected):
        with open(args.expected) as fh:
            pins = json.load(fh).get(
                f"{args.size}/{args.seed}/{args.workload}", {})
    meter = ProcMeter()
    # a terminated run still stops what it started, in the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, pins, meter)
    finally:
        _stop_processes(meter)


def _stop_processes(meter, grace: float = 30.0) -> None:
    """Stop the Spark session and its JVM, and wait until every process
    this run started has ended, on every path out of ``main``.
    ``SparkSession.stop`` leaves the JVM up (it exits only once it sees
    EOF on its stdin), and the Python workers it forked outlive it
    briefly; whatever is still running after ``grace`` seconds is
    killed."""
    from pyspark import SparkContext
    from perfbench.meter import wait_ended

    procs = meter.started()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
    if jvm is not None:
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    left = wait_ended(procs, grace)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    left = wait_ended(left, grace)
    if left:
        print(f"perfbench: processes still running: {sorted(left)}",
              file=sys.stderr)


def _run(args, pins, meter) -> int:
    from perfbench import workloads as W
    from perfbench.meter import StageScraper, Tracer

    checks = W.Checks()
    wl = W.WORKLOADS[args.workload](SIZES[args.size], args.seed, WORK,
                                    checks, pins, meter)
    spark, session_s, load_s = _setup(wl, bool(args.trace))
    t0 = time.perf_counter()
    wl.prepare(spark)  # input generation: not part of set-up time
    prepare_s = time.perf_counter() - t0
    setup_s = session_s + load_s + wl.timed_setup(spark)
    # a warm-up pass whose checks failed is one failed operation
    attempted = failed = checks.failed_ops()
    passes, rdds, spans = [], [], []
    scraper = StageScraper(spark) if args.trace else None
    meter.reset_peak()
    t_start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_start < args.seconds:
        W.clear_pass_state(spark)
        n_failures = len(checks.failures)
        checks.op = f"pass {i}"
        attempted += wl.ops_per_pass
        traced = bool(args.trace)
        raised = False
        try:
            if traced:
                tp = wl.traced_pass(spark, i, scraper, Tracer)
                tp["layer"]["spark.persisted_rdds"] = W.persisted_rdds(spark)
                spans += tp["spans"]
            else:
                tp = wl.run_pass(spark, i)
            passes.append(tp)
        except Exception:  # a pass that raises fails all its operations
            traceback.print_exc()
            checks.op = f"pass {i}"
            checks.require(False, "raised")
            raised = True
        failed += wl.ops_per_pass if raised else checks.failed_ops(n_failures)
        rdds.append(W.persisted_rdds(spark))
        i += 1
    rss_by_name = meter.peak_rss_by_name()
    peak_rss = sum(mb for _, mb in rss_by_name.values())
    spark.stop()

    walls = [p["wall_s"] for p in passes]
    layers = [_layer_metrics(p) for p in passes if "layer" in p]
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "passes": len(passes),
        "wall_s": {"median": W.median(walls), "quartiles": _quartiles(walls),
                   "samples": walls},
        "cpu_s_samples": [p["cpu_s"] for p in passes if "cpu_s" in p],
        "setup_s": setup_s, "session_start_s": session_s,
        "load_and_warm_up_s": load_s, "input_generation_s": prepare_s,
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_rss, "peak_rss_by_process": rss_by_name,
        "persisted_rdds": rdds, "facts": wl.facts, "digests": wl.digests(),
        "failures": [f"{op}: {what}" for op, what in checks.failures],
    }
    for k in ("records", "batch_wall_s", "delta_wall_s", "pair_wall_s",
              "relational_wall_s"):
        if any(k in p for p in passes):
            report[k] = W.median([p[k] for p in passes if k in p])
    if "records" in report and walls:
        report["records_per_s"] = report["records"] / W.median(walls)
    print("perfbench-report " + json.dumps(report, default=str), flush=True)

    if args.trace:
        with open(os.path.join(
                WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as fh:
            json.dump(spans, fh)
        metrics = {
            name: {"value": W.median([lm.get(name, 0) for lm in layers])
                   if layers else 0.0, "unit": unit}
            for name, unit in W.per_layer_names()
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": W.median(walls), "unit": "s"},
            "cpu_s": {"value": W.median(report["cpu_s_samples"]), "unit": "s"},
        }
    correct = not checks.failures and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _layer_metrics(tp: dict) -> dict:
    """Per-layer values of one traced pass, plus its Spark totals."""
    layer = dict(tp["layer"])
    totals = tp["totals"].values()
    task_s = sum(t["task_s"] for t in totals)
    for k in ("jobs", "stages", "tasks"):
        layer[f"spark.{k}"] = sum(t[k] for t in totals)
    layer["spark.task_s"] = task_s
    layer["trace.coverage"] = tp["covered"] / task_s if task_s else 0.0
    layer["trace.overhead_s"] = tp["tracer_s"]
    return layer


if __name__ == "__main__":
    sys.exit(main())
