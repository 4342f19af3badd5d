"""Input-table loader: Iceberg when available, parquet otherwise.

The north_rule reads the files corpus from an Iceberg table
(``files(repo, path, commit, lang, content)``). This sandbox ships no
Iceberg runtime jar, so the loader probes for the catalog support at
call time and falls back to a parquet directory with identical schema
— the pipeline itself is format-agnostic (it only sees a DataFrame).

At cluster scale the Iceberg path buys: snapshot-isolated reads,
partition pruning on (lang, repo-bucket) partition specs, and
metadata-only planning for the per-partition lineage metrics. The
parquet fallback preserves the logical behavior.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smaph_spark.session import checkpoint

FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"
_BAD_RECORDS_COL = "_corrupt_record"


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


def load_files_table(spark: SparkSession, source: str) -> DataFrame:
    """Load the files corpus from ``source``.

    * ``iceberg:<catalog.db.table>`` — Iceberg table scan of the
      current snapshot.
    * anything else — parquet path fallback.
    """
    if source.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg catalog requested but no Iceberg runtime jar is "
                "on the classpath (add org.apache.iceberg:iceberg-spark-"
                "runtime to spark.jars.packages); or pass a parquet path"
            )
        return spark.read.format("iceberg").load(source.removeprefix("iceberg:"))
    return spark.read.parquet(source)


def load_jsonl_files(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSONL ingest of ``FILES_SCHEMA`` rows that
    quarantines malformed rows instead of failing the job or silently
    dropping data (see :func:`_load_quarantined`). Returns (good, bad)."""
    return _load_quarantined(spark.read.format("json"), path)


def load_csv_files(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`load_jsonl_files` (a header row, same
    quarantine contract and (good, bad) return)."""
    return _load_quarantined(
        spark.read.format("csv").option("header", True), path
    )


def _load_quarantined(reader, path: str) -> tuple[DataFrame, DataFrame]:
    """THE quarantined reader: ``reader`` loads ``path`` with
    ``FILES_SCHEMA`` plus a corrupt-record column in PERMISSIVE mode,
    split into (good, bad).

    Web-scale ingest feeds are never clean; FAILFAST kills a 100 TB
    pass on the first bad line and DROPMALFORMED hides data loss.
    PERMISSIVE + an explicit corrupt-record column keeps the scan
    single-pass: good rows match ``FILES_SCHEMA`` exactly; quarantined
    rows carry the raw line (``raw_line``) for offline triage. The
    explicit schema means Spark never runs the schema-inference
    pre-pass over the whole input (a full extra read at corpus scale).

    Spark forbids filtering raw file scans on ONLY the corrupt column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN, since the pruned scan would
    never parse the data columns), so the parsed frame is materialized
    by one eager local checkpoint (one parse pass, nothing to release)
    before both sides filter it."""
    raw = (
        reader.schema(f"{FILES_SCHEMA}, {_BAD_RECORDS_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _BAD_RECORDS_COL)
        .load(path)
    )
    parsed, _ = checkpoint(raw)
    bad = F.col(_BAD_RECORDS_COL)
    good = parsed.filter(bad.isNull()).drop(_BAD_RECORDS_COL)
    return good, parsed.filter(bad.isNotNull()).select(bad.alias("raw_line"))
