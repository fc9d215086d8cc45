"""SQL front-end: expose the engine's tables to ``spark.sql``.

The reference delegates its whole query layer to Athena -- its users
write ANSI SQL over Glue-cataloged tables (``/root/reference/README.md:184-199``).
The native rebuild is DataFrame-first, but the same SQL modality must
work: ``create_views`` registers every fixture table as a temp view so
any ANSI-SQL text (including the registry's own DuckDB oracle strings,
where they stick to the portable subset) runs through Spark's SQL
parser and Catalyst directly.

Temp views over parquet keep ALL scan optimizations: the view is just
a named logical plan, so predicate pushdown / column pruning /
partition pruning behave exactly as the DataFrame API (verified in
tests/test_sql_frontend.py by plan inspection and by value parity
against the DataFrame implementations).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .schemas import FIXTURE_TABLES
from .sources.io import load_table


def create_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every fixture table under ``sf_dir`` as a temp view over
    the relation :func:`~.sources.io.load_table` returns, so views and
    DataFrame queries share one read per table.

    Returns the list of view names.  Idempotent (replaces existing
    views), session-scoped (no warehouse writes), and lazy (no jobs --
    the schemas are declared, not inferred).
    """
    for t in FIXTURE_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(FIXTURE_TABLES)


def run_sql(spark: SparkSession, sf_dir: str, sql: str):
    """One-call convenience: register views, run one SQL text."""
    create_views(spark, sf_dir)
    return spark.sql(sql)
