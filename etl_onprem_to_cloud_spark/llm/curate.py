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

Scale notes: one scan feeds every stage and the DAG has one exchange,
the exact-dedup window on the md5 key.  The quality gate, repetition
included, is one in-row filter after it, and the split is an in-row
hash; both are SQL text built once at import.  The split write is
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

from ..functions.text import STOPWORDS
from ..operators.sampling import _MOD
from . import dedup as D

# Gate thresholds, tuned on the sf0.01 metric distributions so every
# reason actually fires on the fixtures (punct is ~0 on the synthetic
# corpus; the branch exists for real-world text).
_GATE_MIN_TOKENS = 20
_GATE_MAX_PUNCT = 0.1
_GATE_MIN_STOPWORD = 0.02
_GATE_MAX_DUP_2GRAM = 0.09

# The gate is SQL text, not a Column tree: each ``functions`` call is a
# py4j round trip (transforms/netflix.py measures the difference).
# __tk is functions/text.tokens(lower(text)).
_TOKENS = "filter(split(lower(text), ' +'), t -> t != '') AS __tk"
# Fraction of the adjacent 2-grams that repeat an earlier one.  The
# grams zip two shifted slices, so __tk appears only outside lambdas:
# when the optimizer inlines it into a filter, tokenizing costs a few
# evaluations per row, not one per element.
_N_GRAMS = "greatest(size(__tk) - 1, 0)"
_DUP = (
    f"CASE WHEN {_N_GRAMS} > 0 THEN 1.0D - size(array_distinct(zip_with("
    f"slice(__tk, 1, {_N_GRAMS}), slice(__tk, 2, {_N_GRAMS}), "
    f"(a, b) -> concat_ws(' ', a, b)))) / CAST({_N_GRAMS} AS DOUBLE) ELSE 0.0D END"
)
_PUNCT = (
    "CASE WHEN length(text) > 0 THEN length(regexp_replace(text, "
    "'[A-Za-z0-9 ]', '')) / length(text) ELSE 0.0D END"
)
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)
_STOP = (
    f"CASE WHEN size(__tk) > 0 THEN size(filter(__tk, t -> t IN ({_STOP_IN}))) "
    "/ size(__tk) ELSE 0.0D END"
)
# (reason, pass condition), cheapest first: the curation filter ANDs
# them, q_text_quality_gate reports the first that fails.
_GATE_CHECKS = (
    ("too_short", f"size(__tk) >= {_GATE_MIN_TOKENS}"),
    ("high_punct", f"{_PUNCT} <= {_GATE_MAX_PUNCT}D"),
    ("low_stopword", f"{_STOP} >= {_GATE_MIN_STOPWORD}D"),
    ("repetitive", f"{_DUP} <= {_GATE_MAX_DUP_2GRAM}D"),
)
_GATE = " AND ".join(check for _, check in _GATE_CHECKS)
# operators/datamix.split_assignment(doc_id): the md5 hash gate salted
# 'split', buckets 0-79 train, 80-89 val, 90-99 test.
_BUCKET = (
    "CAST(CAST(conv(substring(md5(CAST(concat_ws('|', 'split', "
    "CAST(doc_id AS STRING)) AS BINARY)), 1, 15), 16, 10) AS BIGINT) "
    f"% {_MOD} % 100 AS INT)"
)
_SPLIT = (
    f"CASE WHEN {_BUCKET} < 80 THEN 'train' WHEN {_BUCKET} < 90 THEN 'val' "
    "ELSE 'test' END AS split"
)


@dataclass
class CurationResult:
    kept: DataFrame
    manifest: DataFrame
    rows_in: int
    rows_kept: int


def curated_docs(docs: DataFrame) -> DataFrame:
    """exact dedup -> C4/Gopher quality gate -> deterministic split.

    Returns the kept docs as (doc_id, source, text, n_tok, split).
    The gate is q_text_quality_gate's, its repetition test included;
    the split is the same md5 hash gate as q_split_train_val_test.
    """
    return (
        D.exact_dedup(docs)
        .selectExpr("doc_id", "source", "text", _TOKENS)
        .where(_GATE)
        .selectExpr("doc_id", "source", "text", "size(__tk) AS n_tok", _SPLIT)
    )


def curation_manifest(curated: DataFrame) -> DataFrame:
    """Per-(split, source) doc and token counts over :func:`curated_docs`
    output -- the rollup q_training_data_pipeline oracle-checks.
    Unordered: the query sorts it, the facade sorts the collected rows."""
    return curated.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
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
    # One row per (split, source); sorted here, not by a range exchange.
    rows = sorted(
        (r.asDict() for r in manifest.collect()),
        key=lambda r: (r["split"], r["source"] is not None, r["source"] or ""),
    )
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
