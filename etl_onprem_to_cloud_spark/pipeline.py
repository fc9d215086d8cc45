"""The reference's whole pipeline as one engine call.

Reference architecture (SURVEY.md section 0): three subprocess stages
glued by an Airflow DAG -- extract stages the newest CSV
(etl/extract.py:7-25), transform cleans it to Parquet
(etl/transform.py), load re-reads the Parquet and ships CSV to S3
(etl/load.py) -- with state passed between stages only as files.

Here the stages share one SparkSession.  The first action -- the
Parquet write, else the CSV write, else one count -- scans and cleans
the CSV and fills the input and output row counts through
``Observation``s.  When Parquet is written, the CSV sink and the report
aggregation the reference delegated to Athena/QuickSight
(README.md:184-248) read it back instead of re-parsing the CSV, so the
CSV is scanned once.  The reference's dead-path bug (extract stages
files that transform never reads, etl/extract.py:20 vs
etl/transform.py:16) has no equivalent here by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .schemas import NETFLIX_TITLES
from .sources import latest_file, read_csv, write_csv, write_parquet
from .transforms import clean_netflix_titles, genre_country_report


@dataclass
class PipelineResult:
    """``clean`` and ``report`` read the written Parquet when
    ``parquet_out`` was given, else they re-plan the clean over the CSV."""

    input_path: str
    clean: DataFrame
    report: DataFrame
    rows_in: int
    rows_out: int


def run_netflix_pipeline(
    spark: SparkSession,
    input_dir: str,
    parquet_out: str | None = None,
    csv_out: str | None = None,
    partition_by: list[str] | None = None,
) -> PipelineResult:
    """extract (latest CSV) -> transform (clean) -> load (sinks).

    ``csv_out`` may be an ``s3a://`` URI when the session was built
    with ``get_spark(s3a=...)`` -- functional parity with reference
    etl/load.py:80-84.  ``partition_by`` (e.g. ``["country"]``) enables
    the partition pruning the reference's unpartitioned writes lack.
    """
    src = latest_file(input_dir, ".csv")
    if src is None:
        raise FileNotFoundError(f"no .csv files in {input_dir}")

    seen_in, seen_out = Observation(), Observation()
    n_rows = F.count(F.lit(1)).alias("n")
    raw = read_csv(spark, src, NETFLIX_TITLES).observe(seen_in, n_rows)
    clean = clean_netflix_titles(raw).observe(seen_out, n_rows)

    if parquet_out:
        write_parquet(clean, parquet_out, partition_by=partition_by)
        # An explicit schema keeps NETFLIX_CLEAN's types, and reads an
        # output with no data files; the select restores the column order
        # that partitioning moved.
        reader = spark.read.schema(clean.schema)
        clean = reader.parquet(parquet_out).select(*clean.columns)
        if csv_out:
            write_csv(clean, csv_out)
    elif csv_out:
        write_csv(clean, csv_out)
    else:
        clean.count()

    return PipelineResult(
        input_path=src,
        clean=clean,
        report=genre_country_report(clean),
        rows_in=seen_in.get["n"],
        rows_out=seen_out.get["n"],
    )
