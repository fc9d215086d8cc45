"""Sources and sinks.

Covers the reference's IO surface (SURVEY.md section 2a S1-S6):

- S1 CSV scan with header           -> :func:`read_csv` (declared schema,
  never ``inferSchema=True`` -- the reference's double inference at
  etl/transform.py:22 is a full extra pass at 100 TB).
- S2 Parquet scan                   -> :func:`read_parquet`.
- S3 Parquet sink (overwrite)       -> :func:`write_parquet`
  (+ ``partition_by`` which the reference lacks, etl/transform.py:205).
- S4 CSV sink (header, delimiter)   -> :func:`write_csv`; works against
  ``s3a://`` URIs exactly like reference etl/load.py:80-84 when the
  session is built with ``get_spark(s3a=...)``.
- S5 latest-file discovery          -> :func:`latest_file` (parity with
  ``sorted([f for f in listdir if f.endswith('.csv')])[-1]``,
  reference etl/extract.py:10-17).

Plus :func:`load_table`, the one reader of the driver fixture tables
(declared schemas, no inference), and :class:`Catalog` over it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import FIXTURE_TABLES


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
) -> DataFrame:
    """CSV scan with a declared schema (S1, minus the inference)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("quote", quote)
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan.  ``merge_schema=True`` unions the footers of every
    file (schema evolution: columns added over time come back as nulls
    on old files).  Off by default -- merging reads every footer up
    front, which at 100 TB is a real listing+IO cost you only pay when
    the layout actually evolved."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink (S3-parity, reference etl/transform.py:205) with the
    partitioning the reference never does.  ``partition_by`` low-cardinality
    columns so downstream scans get partition pruning for free."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink: the other columnar interchange format (native Spark
    support, same pushdown/pruning machinery as parquet)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
) -> DataFrame:
    """Raw-file ingest via Spark's built-in ``binaryFile`` source --
    the entry point of the multimodal pipeline (llm/multimodal.py
    decodes the ``content`` bytes with Arrow-batched mapInPandas).

    Returns the source's standard schema: ``path`` (string),
    ``modificationTime`` (timestamp), ``length`` (bigint), ``content``
    (binary).  ``path_glob`` filters by filename pattern at LISTING
    time (pushed down -- non-matching files are never opened).

    Scale notes: each file becomes one row and is read WHOLE into a
    single task, so this source is for payload files (images, audio,
    PDFs), not for splittable text/parquet; a directory of millions of
    small files should be compacted into parquet-with-binary-column
    first (see multimodal.py, which operates on exactly that layout).
    To cap how many files pack into one task, set the session conf
    ``spark.sql.files.maxPartitionBytes`` BEFORE the action runs --
    there is no per-read option for it (file sources only accept
    listing-time options like ``pathGlobFilter``), and the conf is
    consulted at scan planning time, not at ``load()``.
    """
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(path)


def read_text(
    spark: SparkSession, path: str, whole_text: bool = False
) -> DataFrame:
    """Raw text source: one row per line (``value: string``), or one
    row per file with ``whole_text`` -- the shape raw training-corpus
    drops arrive in before any structure is imposed."""
    return spark.read.text(path, wholetext=whole_text)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Text sink: requires a single string column (Spark enforces it);
    one line per row, partition-parallel like every other sink."""
    df.write.mode(mode).text(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    delimiter: str = ",",
) -> None:
    """CSV sink (S4-parity, reference etl/load.py:80-84).  Spark's CSV
    writer quotes embedded delimiters, so the reference's comma-mangling
    of titles (etl/transform.py:176-177) is unnecessary here."""
    (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        # RFC 4180 doubled-quote escaping, matching read_csv (Spark's
        # default is backslash-escape, which its own reader then
        # round-trips only with the same non-standard option).
        .option("escape", '"')
        .csv(path)
    )


def latest_file(directory: str, suffix: str = ".csv") -> str | None:
    """Lexicographic-max file with the given suffix (S5-parity with
    reference etl/extract.py:10-17).  Returns an absolute path or None."""
    try:
        names = sorted(f for f in os.listdir(directory) if f.endswith(suffix))
    except FileNotFoundError:
        return None
    if not names:
        return None
    return os.path.join(directory, names[-1])


# One DataFrame per (session, dir, table): DataFrames are immutable
# plan templates, and even a declared-schema read lists the file on the
# driver (median 15-24 ms warm at sf0.01 on a 4-core box), which a
# 6-table query build would otherwise pay on every build.  Keyed by
# applicationId so a restarted session cannot see stale plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table with its declared schema
    (:data:`~..schemas.FIXTURE_TABLES`), so no schema-inference job runs.
    The one reader of fixture tables; raises ``KeyError`` for a name
    that is not one."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    schema = FIXTURE_TABLES[name]
    # A non-UTC session time zone would shift every formatted timestamp.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    _TABLE_CACHE[key] = df
    return df


class Catalog:
    """Per-session view of the fixture tables, optionally registered as
    temp views so ``spark.sql`` works over them."""

    def __init__(self, spark: SparkSession, sf_dir: str, register_views: bool = False):
        self.spark = spark
        self.sf_dir = sf_dir
        self._register = register_views

    def table(self, name: str) -> DataFrame:
        df = load_table(self.spark, self.sf_dir, name)
        if self._register:
            df.createOrReplaceTempView(name)
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in FIXTURE_TABLES:
            return self.table(name)
        raise AttributeError(name)


def save_as_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Register a parquet-backed table in the session catalog (the
    engine-native replacement for the reference's Glue-crawled table,
    reference README.md:130-182).  ``path`` makes it external."""
    w = df.write.mode(mode).format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)
