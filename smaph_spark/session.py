"""SparkSession factory tuned for the ER pipeline, and the package's one
materialization policy (``checkpoint``).

Local-mode defaults mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime coalesce + skew-join), shuffle
partitions sized to parallelism, Arrow enabled for the pandas-UDF
feature kernels, UTC timezone pinned for DuckDB-oracle comparability.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def get_spark(
    app_name: str = "smaph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    # local[N] → N concurrent tasks; shuffle partitions ~ parallelism
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else max(int(n), 4)
    # keep shuffle/block-manager files out of /tmp: the sandbox runs a
    # tmp reaper that deletes live temp_shuffle files mid-job (observed
    # as DiskBlockObjectWriter delete errors + stalled stages)
    local_dir = os.environ.get("SMAPH_SPARK_LOCAL_DIR", "/root/spark-local")
    os.makedirs(local_dir, exist_ok=True)
    # one BLAS thread per python worker: a task is one core's share of
    # work, and an unpinned OpenBLAS/OMP spawns a full thread pool in
    # EVERY forked worker (N workers x N threads oversubscribes any
    # host; on a cluster each executor core runs one worker). Workers
    # inherit the driver env in local mode; spark.executorEnv carries
    # the same setting to real executors. setdefault keeps an explicit
    # user override in force.
    blas_env = {}
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
        blas_env[f"spark.executorEnv.{var}"] = os.environ[var]
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode packs every executor's tasks into ONE JVM: a flat
        # 8g heap gives 32 concurrent tasks ~250 MB of execution memory
        # each, far below any real executor's per-core memory. Scale
        # the default with the core count (cores/2 GB, floor 8) so
        # per-task memory tracks what a cluster deployment provides;
        # SMAPH_DRIVER_MEM still overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SMAPH_DRIVER_MEM", f"{max(8, cpus // 2)}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one long-lived session reruns the same plans batch after
        # batch, so their generated classes must stay cached. An ER run
        # plus a delta batch needs ~150-210 whole-stage classes and the
        # 69 registered queries ~930. At Spark's default of 100 entries
        # every steady ER pass compiled 147 classes again and re-JITted
        # them, which took more CPU than its tasks did. 2000 holds the
        # whole set (~5 MB of bytecode).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the cache is keyed by source text, and AQE numbers whole-stage
        # classes in the order concurrent stages finish: a numbered
        # class compiled again whenever that order changed, and once per
        # number within one call. Unnumbered, each pipeline compiles once.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in {**blas_env, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint(
    df: DataFrame, metric: Column | None = None
) -> tuple[DataFrame, object]:
    """Eager local checkpoint of ``df``: THE materialization of a frame
    that is read more than once (nothing is left in the cache manager
    to release). With ``metric``, also the value of that aggregate over
    the rows, observed on the checkpoint's own job so that no Spark job
    runs only to count (a ``F.struct(...)`` metric yields a Row);
    without one, ``(df, None)``."""
    if metric is None:
        return df.localCheckpoint(eager=True), None
    obs = Observation()
    df = df.observe(obs, metric.alias("v")).localCheckpoint(eager=True)
    return df, obs.get["v"]
