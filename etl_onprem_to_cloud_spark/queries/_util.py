"""Shared helpers for the query registry."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources import Catalog

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
DATE_FMT_SPARK = "yyyy-MM-dd"
DATE_FMT_DUCK = "%Y-%m-%d"


def cat(spark: SparkSession, sf_dir: str, register_views: bool = False) -> Catalog:
    return Catalog(spark, sf_dir, register_views=register_views)


def ts_lit(df: DataFrame, col_name: str, value: str) -> Column:
    """Literal cast to the timestamp column's own type (the fixtures are
    TIMESTAMP_NTZ; this keeps comparisons type-correct and pushdownable)."""
    return F.lit(value).cast(df.schema[col_name].dataType)


def fmt_ts(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_SPARK).alias(alias)


def fmt_date(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, DATE_FMT_SPARK).alias(alias)


# DuckDB SQL fragments kept in one place so the oracle text stays in
# lock-step with the Spark expressions (see functions/text.py).
def duck_tokens(col: str, lower: bool = True) -> str:
    src = f"lower({col})" if lower else col
    return f"list_filter(string_split_regex({src}, ' +'), t -> t != '')"


def duck_shingles(tokens_expr: str, n: int = 3) -> str:
    return (
        f"list_distinct(CASE "
        f"WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({tokens_expr}) - {n - 1}), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ')) "
        f"WHEN len({tokens_expr}) > 0 THEN [array_to_string({tokens_expr}, ' ')] "
        f"ELSE [] END)"
    )


def duck_word_ngrams(tokens_expr: str, n: int = 2) -> str:
    """All word n-grams with multiplicity (mirror of
    functions/text.word_ngrams_from_tokens: no dedup, short docs -> [])."""
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({tokens_expr}) - {n - 1}), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def duck_pround(expr: str, round_to: int = 4) -> str:
    """DuckDB twin of functions/numeric.portable_round: explicit
    floor-based half-up rounding so both engines run the identical
    IEEE op sequence (native round() implementations disagree on rare
    boundary doubles)."""
    p = float(10**round_to)
    return f"floor(({expr}) * {p} + 0.5) / {p}"


# Exact-decimal aggregate fragments (mirror functions/numeric.py).
def duck_dsum(col_expr: str, alias: str, round_to: int = 2) -> str:
    return (
        f"CAST(round(sum(CAST({col_expr} AS DECIMAL(18,6))), {round_to}) AS DOUBLE)"
        f" AS {alias}"
    )
