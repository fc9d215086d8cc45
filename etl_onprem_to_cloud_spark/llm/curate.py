"""The training-data curation pipeline as a reusable stage + an
operational facade.

``curated_docs`` is the ONE implementation of the dedup -> quality-gate
-> split pipeline: q_training_data_pipeline reports its rollup (and is
value-oracled, driver-green), while :func:`run_curation_pipeline`
WRITES its output -- the kept corpus as split-partitioned parquet plus
the per-(split, source) manifest -- the way
``pipeline.run_netflix_pipeline`` operationalizes the reference's ETL.
One code path means the oracle-checked query and the operational sinks
cannot drift.

Scale notes: one scan feeds every stage; the repetition predicate runs
as an exploded aggregation (generate-once + partial agg + keep-join)
because a pushdown-inlined in-row filter re-evaluates the gram
construction per array element (measured 17s vs ~1s at sf0.1 -- see
q_training_data_pipeline's docstring); the split write is
``partitionBy("split")`` so downstream readers partition-prune to
their fold.  The facade runs the DAG once, in that write, and caches
nothing: the manifest aggregates the corpus read back with its known
schema, is collected once, and returns as a local relation.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import text as T
from ..operators.datamix import split_assignment
from . import dedup as D


@dataclass
class CurationResult:
    kept: DataFrame
    manifest: DataFrame
    rows_in: int
    rows_kept: int


def curated_docs(docs: DataFrame) -> DataFrame:
    """exact dedup -> C4/Gopher quality gate -> deterministic split.

    Returns the kept docs as (doc_id, source, text, n_tok, split).
    Thresholds are the q_text_quality_gate constants; the split is the
    same md5 hash gate as q_split_train_val_test.
    """
    from ..queries.textops import (
        _GATE_MAX_DUP_2GRAM,
        _GATE_MAX_PUNCT,
        _GATE_MIN_STOPWORD,
        _GATE_MIN_TOKENS,
    )

    deduped = D.exact_dedup(docs)
    base = deduped.select(
        "doc_id",
        "source",
        "text",
        T.tokens(F.lower(F.col("text"))).alias("__tk"),
    )
    n_tok = F.size("__tk")
    cheap = base.filter(
        (n_tok >= _GATE_MIN_TOKENS)
        & (T.punct_ratio(F.col("text")) <= _GATE_MAX_PUNCT)
        & (T.stopword_ratio(F.col("text")) >= _GATE_MIN_STOPWORD)
    ).select("doc_id", "source", "text", n_tok.alias("n_tok"), "__tk")
    grams = cheap.select(
        "doc_id",
        F.explode_outer(T.word_ngrams_from_tokens(F.col("__tk"), 2)).alias(
            "g"
        ),
    ).filter(F.col("g").isNotNull())
    not_repetitive = (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.count_distinct("g").alias("n_d"),
        )
        .filter(
            F.lit(1.0) - F.col("n_d") / F.col("n_g") <= _GATE_MAX_DUP_2GRAM
        )
        .select("doc_id")
    )
    kept = cheap.select("doc_id", "source", "text", "n_tok").join(
        not_repetitive, "doc_id"
    )
    _bucket, split = split_assignment(F.col("doc_id").cast("string"))
    return kept.withColumn("split", split)


def curation_manifest(curated: DataFrame) -> DataFrame:
    """Per-(split, source) doc and token counts over :func:`curated_docs`
    output -- the rollup q_training_data_pipeline oracle-checks."""
    return (
        curated.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("split", "source")
    )


def run_curation_pipeline(
    docs: DataFrame,
    corpus_out: str | None = None,
    manifest_out: str | None = None,
) -> CurationResult:
    """Operational entry point: curate ``docs`` and write the results.

    ``corpus_out``: kept docs as parquet partitioned by ``split`` --
    downstream training/eval readers partition-prune to their fold.
    ``manifest_out``: the (split, source) manifest as parquet.
    Either sink may be None (report-only / corpus-only runs).

    The corpus write is the only run of the curation DAG; ``kept`` is
    then the written corpus read back with the curated schema, so an
    empty corpus reads as zero rows.  With no ``corpus_out`` there is
    nothing to read back: ``kept`` is the lazy curation DataFrame, and
    the manifest and each action on ``kept`` replay the DAG.

    The manifest is computed and collected once.  ``manifest`` is a
    local relation over those rows: consuming it runs no job, and the
    manifest sink is written from it.
    """
    spark = docs.sparkSession
    curated = curated_docs(docs)
    kept = curated
    if corpus_out:
        curated.write.mode("overwrite").partitionBy("split").parquet(corpus_out)
        # The explicit schema keeps the curated types and reads a corpus
        # with no data files; the select pins the curated column order.
        reader = spark.read.schema(curated.schema)
        kept = reader.parquet(corpus_out).select(*curated.columns)
    manifest = curation_manifest(kept)
    rows = [r.asDict() for r in manifest.collect()]
    arrow = pa.Table.from_pylist(rows, schema=to_arrow_schema(manifest.schema))
    manifest = spark.createDataFrame(arrow, manifest.schema)
    if manifest_out:
        manifest.write.mode("overwrite").parquet(manifest_out)
    return CurationResult(
        kept=kept,
        manifest=manifest,
        rows_in=docs.count(),
        rows_kept=sum(r["n_docs"] for r in rows),
    )
