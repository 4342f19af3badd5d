"""Input-table loader: Iceberg when available, parquet otherwise.

The north_rule reads the files corpus from an Iceberg table
(``files(repo, path, commit, lang, content)``). This sandbox ships no
Iceberg runtime jar, so the loader probes for the catalog support at
call time and falls back to a parquet directory with identical schema
— the pipeline itself is format-agnostic (it only sees a DataFrame).

At cluster scale the Iceberg path buys: snapshot-isolated reads (the
resumability contract pins a snapshot-id per run), partition pruning
on (lang, repo-bucket) partition specs, and metadata-only planning for
the per-partition lineage metrics. The parquet fallback preserves the
logical behavior minus time travel.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.session import checkpoint

FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is loadable in this session;
    False only when its class is not on the classpath. Any other
    failure of the probe raises."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Py4JJavaError as e:
        cls = e.java_exception.getClass().getName()
        if cls == "java.lang.ClassNotFoundException":
            return False
        raise
    return True


def load_files_table(
    spark: SparkSession,
    source: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Load the files corpus from ``source``.

    * ``iceberg:<catalog.db.table>`` — Iceberg table scan; honors
      ``snapshot_id`` for time travel (the snapshot pinned in a run's
      stage metrics makes re-runs read the same data — north_rule
      resumability at the source, not just the stage cache).
    * anything else — parquet path fallback.
    """
    if source.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg catalog requested but no Iceberg runtime jar is "
                "on the classpath (add org.apache.iceberg:iceberg-spark-"
                "runtime to spark.jars.packages); or pass a parquet path"
            )
        table = source.removeprefix("iceberg:")
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(table)
    return spark.read.parquet(source)


def load_jsonl_files(
    spark: SparkSession,
    path: str,
    schema: str = FILES_SCHEMA,
    bad_records_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSONL ingest that quarantines malformed rows
    instead of failing the job or silently dropping data.

    Web-scale ingest feeds are never clean; FAILFAST kills a 100 TB
    pass on the first bad line and DROPMALFORMED hides data loss.
    PERMISSIVE + an explicit corrupt-record column keeps the scan
    single-pass and splits the output into (good, quarantine): good
    rows match ``schema`` exactly; quarantined rows carry the raw line
    for offline triage. Returns (good, bad).

    Scale notes: the split is two filters over ONE json scan (no
    second parse); schema is explicit, so Spark never runs the
    schema-inference pre-pass over the whole input (a full extra read
    at corpus scale).
    """
    full_schema = f"{schema}, {bad_records_col} string"
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", bad_records_col)
        .json(path)
    )
    return _split_quarantine(raw, bad_records_col)


def load_csv_files(
    spark: SparkSession,
    path: str,
    schema: str = FILES_SCHEMA,
    bad_records_col: str = "_corrupt_record",
    **options,
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`load_jsonl_files` (same quarantine contract
    and (good, bad) return; explicit schema avoids the
    inference pre-pass)."""
    full_schema = f"{schema}, {bad_records_col} string"
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", bad_records_col)
        .option("header", options.pop("header", True))
        .options(**options)
        .csv(path)
    )
    return _split_quarantine(raw, bad_records_col)


def _split_quarantine(
    raw: DataFrame, bad_records_col: str
) -> tuple[DataFrame, DataFrame]:
    """(good, bad) split on the corrupt-record column. Spark forbids
    filtering raw file scans on ONLY the corrupt column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN, since the pruned scan would
    never parse the data columns), so the parsed frame is materialized
    by one eager local checkpoint (one parse pass, nothing to release)
    before both sides filter it."""
    parsed, _ = checkpoint(raw)
    good = parsed.filter(F.col(bad_records_col).isNull()).drop(bad_records_col)
    bad = parsed.filter(F.col(bad_records_col).isNotNull()).select(
        F.col(bad_records_col).alias("raw_line")
    )
    return good, bad
