"""Source/sink coverage (SURVEY §2.1): CSV scan with explicit schema
(S6 TSV ETL shape), JSON sink + scan (S10 NIF/JSON result sink), and
parquet roundtrip with partition pruning."""

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_csv_tsv_roundtrip_grouped_etl(spark, tmp_path):
    """The e2a batch ETL shape (EntityToAnchors.createDB:78-158):
    TSV(anchor, entity, freq) -> groupBy(entity).collect_list."""
    path = str(tmp_path / "anchors_tsv")
    rows = [("rome", 10, 5), ("roma", 10, 3), ("paris", 20, 7)]
    spark.createDataFrame(rows, ["anchor", "entity", "freq"]).write.option(
        "sep", "\t"
    ).mode("overwrite").csv(path)

    schema = T.StructType([
        T.StructField("anchor", T.StringType()),
        T.StructField("entity", T.IntegerType()),
        T.StructField("freq", T.IntegerType()),
    ])
    back = spark.read.schema(schema).option("sep", "\t").csv(path)
    e2a = (
        back.groupBy("entity")
        .agg(
            F.sort_array(F.collect_list(F.struct("anchor", "freq"))).alias("anchors"),
            F.sum("freq").alias("total_freq"),
        )
        .orderBy("entity")
        .collect()
    )
    assert e2a[0]["entity"] == 10 and e2a[0]["total_freq"] == 8
    assert [a["anchor"] for a in e2a[0]["anchors"]] == ["roma", "rome"]


def test_json_sink_and_scan(spark, tmp_path):
    """S10: annotations -> JSON sink (SmaphServlet.java:93-107)."""
    path = str(tmp_path / "annotations_json")
    anns = spark.createDataFrame(
        [(0, 9, 222, 1.0), (10, 12, 111, 0.8)],
        ["position", "length", "entity", "score"],
    )
    anns.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    assert back.count() == 2
    assert {r["entity"] for r in back.collect()} == {111, 222}


def test_partitioned_parquet_pruning(spark, tmp_path):
    """Partition pruning: a lang=... filter must prune directories
    (visible as PartitionFilters in the scan)."""
    path = str(tmp_path / "files_part")
    df = spark.createDataFrame(
        [("a/b", "py", "x"), ("c/d", "md", "y"), ("e/f", "py", "z")],
        ["path", "lang", "content"],
    )
    df.write.mode("overwrite").partitionBy("lang").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("lang") == "py")
    assert scan.count() == 2
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_files_table_loader_parquet_fallback(spark, tmp_path):
    """Iceberg loader: parquet fallback works; the iceberg: scheme
    fails loudly (not silently) when no runtime jar is present."""
    import pytest as _pytest

    from smaph_spark.sources.tables import (
        iceberg_available, load_files_table,
    )

    df = spark.createDataFrame(
        [("r", "p", "c", "py", "x")],
        "repo string, path string, commit string, lang string, content string",
    )
    path = str(tmp_path / "files_pq")
    df.write.parquet(path)
    assert load_files_table(spark, path).count() == 1
    if not iceberg_available(spark):
        with _pytest.raises(RuntimeError, match="Iceberg"):
            load_files_table(spark, "iceberg:cat.db.files")


def test_nif_cluster_export(spark, tmp_path):
    """NIF-style turtle export (SmaphUtils.exportToNif:781-801 analogue):
    one valid absolute-IRI turtle statement per record, cluster
    assignment as itsrdf:taIdentRef, part-files self-contained."""
    import glob
    import re

    from smaph_spark.sources.sinks import export_clusters_nif

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (-3, -3)], "record_id long, cluster_id long"
    )
    out = str(tmp_path / "nif")
    export_clusters_nif(clusters, out, base_uri="http://ex.org/s")
    lines = []
    for f in glob.glob(f"{out}/part-*"):
        with open(f) as fh:
            lines += [l.strip() for l in fh if l.strip()]
    assert len(lines) == 3
    pat = re.compile(
        r"^<http://ex\.org/s/record/(-?\d+)> a "
        r"<http://persistence\.uni-leipzig\.org/nlp2rdf/ontologies/"
        r"nif-core#Context> ; "
        r"<http://www\.w3\.org/2005/11/its/rdf#taIdentRef> "
        r"<http://ex\.org/s/entity/(-?\d+)> \.$"
    )
    got = {}
    for l in lines:
        m = pat.match(l)
        assert m, f"not a valid triple line: {l}"
        got[int(m.group(1))] = int(m.group(2))
    assert got == {1: 1, 2: 1, -3: -3}


def test_jsonl_ingest_quarantines_bad_lines(spark, tmp_path):
    from smaph_spark.sources.tables import load_jsonl_files

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"repo":"r1","path":"a.py","commit":"c1","lang":"py","content":"x"}\n'
        "{this is not json\n"
        '{"repo":"r2","path":"b.py","commit":"c2","lang":"py","content":"y"}\n'
        '{"repo":"r3","path":"c.py"'  # truncated line
    )
    good, bad = load_jsonl_files(spark, str(p))
    rows = {r["repo"] for r in good.collect()}
    assert rows == {"r1", "r2"}
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert any("not json" in b for b in bad_lines)
    # good side carries the exact declared schema, no corrupt column
    assert good.columns == ["repo", "path", "commit", "lang", "content"]


def test_csv_ingest_quarantines_bad_lines(spark, tmp_path):
    from smaph_spark.sources.tables import load_csv_files

    p = tmp_path / "feed.csv"
    p.write_text(
        "repo,path,commit,lang,content\n"
        "r1,a.py,c1,py,x\n"
        "r2,b.py,c2,py,y,EXTRA,TOKENS\n"  # wrong arity -> malformed
    )
    spark.catalog.clearCache()
    good, bad = load_csv_files(spark, str(p))
    assert {r["repo"] for r in good.collect()} == {"r1"}
    assert bad.count() == 1
    # the parsed feed is a checkpoint: nothing cached to release
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
