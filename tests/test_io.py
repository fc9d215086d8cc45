"""IO layer round-trips: CSV/JSON/Parquet readers and writers,
partitioned writes with partition pruning, and catalog tables
(saveAsTable -> spark.table)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from etl_onprem_to_cloud_spark.plans import explain_str
from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES
from etl_onprem_to_cloud_spark.sources import io
from etl_onprem_to_cloud_spark.sources.io import (
    load_table,
    read_csv,
    read_json,
    read_parquet,
    read_table,
    save_as_table,
    write_csv,
    write_parquet,
)
from etl_onprem_to_cloud_spark.sqlfront import create_views

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("grp", StringType()),
        StructField("payload", StringType()),
    ]
)


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(1, "a", "x,with,commas"), (2, "a", 'quoted "text"'), (3, "b", None)],
        SCHEMA,
    )


def test_csv_roundtrip_preserves_special_chars(spark, df, tmp_path):
    p = str(tmp_path / "csv")
    write_csv(df, p)
    back = read_csv(spark, p, SCHEMA)
    assert sorted((r.id, r.grp, r.payload) for r in back.collect()) == sorted(
        (r.id, r.grp, r.payload) for r in df.collect()
    )


def test_json_roundtrip(spark, df, tmp_path):
    p = str(tmp_path / "json")
    df.write.mode("overwrite").json(p)
    back = read_json(spark, p, SCHEMA)
    assert back.count() == 3
    assert sorted(back.columns) == sorted(df.columns)


def test_partitioned_parquet_prunes(spark, df, tmp_path):
    p = str(tmp_path / "pq")
    write_parquet(df, p, partition_by=["grp"])
    back = read_parquet(spark, p).filter(F.col("grp") == "a")
    assert back.count() == 2
    plan = explain_str(back)
    # partition filter must prune at planning time, not post-scan
    assert "PartitionFilters" in plan and "grp" in plan.split("PartitionFilters")[-1]


def test_save_as_table_and_read_back(spark, df, tmp_path):
    save_as_table(df, "io_test_tbl", path=str(tmp_path / "tbl"), partition_by=["grp"])
    try:
        back = read_table(spark, "io_test_tbl")
        assert back.count() == 3
        assert set(back.columns) == {"id", "grp", "payload"}
        # catalog knows the partitioning -> pruned scan
        pruned = back.filter(F.col("grp") == "b")
        assert pruned.count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS io_test_tbl")


def test_csv_permissive_survives_corrupt_rows(spark, tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text(
        "id,grp,payload\n"
        "1,a,ok\n"
        "not_an_int,b,bad-id-row\n"
        "2,c\n"                       # missing column -> null payload
        '3,d,"unterminated\n'         # broken quoting
        "4,e,fine\n"
    )
    df = read_csv(spark, str(p), SCHEMA)
    rows = df.collect()
    # PERMISSIVE mode must yield a row per record with nulls for the
    # unparseable fields, never raise.
    ids = sorted(r.id for r in rows if r.id is not None)
    assert 1 in ids and 2 in ids
    assert all(len(r) == 3 for r in rows)


def test_orc_roundtrip_with_partitioning(spark, tmp_path):
    from etl_onprem_to_cloud_spark.sources.io import read_orc, write_orc

    src = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
        "id: bigint, v: string, part: string",
    )
    path = str(tmp_path / "orc_t")
    write_orc(src, path, partition_by=["part"])
    back = read_orc(spark, path)
    assert {tuple(r) for r in back.select("id", "v", "part").collect()} == {
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")
    }
    # partition pruning reaches the scan
    plan = back.filter(F.col("part") == "x")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_text_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_onprem_to_cloud_spark.sources.io import read_text, write_text

    lines = [("line one",), ("line two",), ("third",)]
    src = spark.createDataFrame(lines, "value string")
    path = str(tmp_path / "text_out")
    write_text(src, path)
    back = read_text(spark, path)
    assert back.columns == ["value"]
    assert sorted(r["value"] for r in back.collect()) == sorted(
        v for (v,) in lines
    )


def test_read_text_whole_file(spark, tmp_path):
    from etl_onprem_to_cloud_spark.sources.io import read_text

    f = tmp_path / "doc.txt"
    f.write_text("alpha\nbeta\n")
    got = read_text(spark, str(tmp_path), whole_text=True).collect()
    assert len(got) == 1
    assert got[0]["value"] == "alpha\nbeta\n"


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning), not a data filter: the scan lists only the
    matching source= directories."""
    from etl_onprem_to_cloud_spark.plans.checks import partition_filters
    from etl_onprem_to_cloud_spark.sources.io import read_parquet, write_parquet

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "by_source")
    write_parquet(docs, out, partition_by=["source"])

    scan = read_parquet(spark, out).filter(F.col("source") == "src1")
    pf = partition_filters(scan)
    assert pf and any("source" in f for f in pf), pf
    want = docs.filter(F.col("source") == "src1").count()
    assert scan.count() == want > 0


def test_merge_schema_evolution(spark, tmp_path):
    """Old files keep working when new columns arrive: mergeSchema
    unions footers, old rows surface NULL for the added column."""
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    out = str(tmp_path / "evolving")
    spark.range(0, 10).select(F.col("id"), F.lit("a").alias("v")).write.parquet(
        out + "/batch=1"
    )
    spark.range(10, 20).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1).alias("added")
    ).write.parquet(out + "/batch=2")

    merged = read_parquet(spark, out, merge_schema=True)
    assert set(merged.columns) >= {"id", "v", "added"}
    assert merged.count() == 20
    assert merged.filter(F.col("added").isNull()).count() == 10


def test_binary_file_ingest_to_multimodal_decode(spark, tmp_path):
    """End-to-end multimodal ingest: raw PPM files on disk -> the
    built-in binaryFile source (glob pushed down at listing) -> the
    Arrow-batched REAL PPM decode.  Proves the file-ingest front door
    of the multimodal pipeline, not just the parquet-binary-column
    layout the queries use."""
    from etl_onprem_to_cloud_spark.llm.multimodal import (
        decode_image_features,
    )
    from etl_onprem_to_cloud_spark.sources.io import read_binary_files

    d = tmp_path / "media"
    d.mkdir()
    # two tiny valid P6 PPMs (2x1 and 1x1) plus a decoy that the glob
    # must exclude at listing time
    (d / "a.ppm").write_bytes(b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0]))
    (d / "b.ppm").write_bytes(b"P6\n1 1\n255\n" + bytes([1, 2, 3]))
    (d / "notes.txt").write_bytes(b"not an image")

    raw = read_binary_files(spark, str(d), path_glob="*.ppm")
    assert set(raw.columns) == {"path", "modificationTime", "length", "content"}
    assert raw.count() == 2

    media = raw.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.col("length").cast("bigint").alias("byte_len"),
        F.col("content").alias("payload"),
    )
    rows = {
        (r["width"], r["height"])
        for r in decode_image_features(media, feat_dim=4, fake=False).collect()
    }
    assert rows == {(2, 1), (1, 1)}


def test_declared_fixture_schemas_match_the_files(spark, sf_dir):
    """FIXTURE_TABLES is the schema load_table reads with, so it must be
    what Spark would infer (names, order, types, nullability) -- and
    every shipped fixture dir must share the test fixture's footers.
    The footer comparison runs no Spark job."""
    for t, schema in FIXTURE_TABLES.items():
        assert spark.read.parquet(f"{sf_dir}/{t}.parquet").schema == schema, t

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    others = [os.path.join(os.path.dirname(sf_dir), d) for d in ("sf0.01", "sf0.1")]
    others += [os.path.join(root, "perfbench", "data", d) for d in ("sf0.001", "sf0.01")]
    others = [d for d in others if os.path.isdir(d)]
    assert others
    for t in FIXTURE_TABLES:
        want = pq.read_schema(f"{sf_dir}/{t}.parquet")
        for d in others:
            got = pq.read_schema(f"{d}/{t}.parquet")
            assert got.equals(want, check_metadata=False), (d, t)


def test_fixture_reads_run_no_jobs(spark, sf_dir, monkeypatch):
    """Registering every view and loading every table from a cold table
    cache runs no Spark job: the schemas are declared, not inferred."""
    monkeypatch.setattr(io, "_TABLE_CACHE", {})
    sc = spark.sparkContext
    group = "test_fixture_reads_run_no_jobs"
    sc.setJobGroup(group, group)
    try:
        create_views(spark, sf_dir)
        for t in FIXTURE_TABLES:
            load_table(spark, sf_dir, t)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert isinstance(spark.table("events").schema["ts"].dataType, TimestampNTZType)
    with pytest.raises(KeyError):
        load_table(spark, sf_dir, "nope")
