"""Training-data hygiene queries: benchmark decontamination and
boilerplate chunk profiling over the documents table (llm/decontam.py).

The "benchmark" split is deterministic (doc_id % 97 == 0) so both
engines carve the identical eval set with no side-channel fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import decontam as DC
from ._util import cat, duck_tokens, duck_word_ngrams
from . import query

_TOKS = duck_tokens("text")


@query(
    "q_decontaminate_ngram_overlap",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
g AS (
  SELECT doc_id, list_distinct({duck_word_ngrams('toks', 4)}) AS grams FROM t
),
bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
),
tr AS (
  SELECT doc_id, grams FROM g WHERE doc_id % 97 != 0
),
e AS (
  SELECT doc_id, unnest(grams) AS gram FROM tr
),
m AS (
  SELECT e.doc_id,
    count(*) AS n_grams,
    sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
  FROM e LEFT JOIN bench b ON e.gram = b.gram
  GROUP BY e.doc_id
)
SELECT tr.doc_id,
  CAST(coalesce(m.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
  round(CASE WHEN coalesce(m.n_grams, 0) > 0
        THEN coalesce(m.n_matched, 0) / m.n_grams ELSE 0.0 END, 6)
    AS overlap_frac,
  coalesce(m.n_matched, 0) > 0 AS contaminated
FROM tr LEFT JOIN m ON tr.doc_id = m.doc_id
""",
    tags=("text", "dedup", "ring-c", "decontam"),
    description=(
        "Benchmark decontamination: 4-gram overlap of every train doc "
        "against the eval split's distinct n-gram set (broadcast join; "
        "llm/decontam.py ngram_overlap_stats)."
    ),
)
def q_decontaminate_ngram_overlap(spark, sf_dir):
    """broadcast_bench=False: the registered query's bench split is
    CARVED FROM THE CORPUS (doc_id % 97), so its gram set scales with
    SF and must not carry a broadcast hint (estimator/AQE still
    broadcasts it at test SFs).  A real deployment with a FIXED
    benchmark suite keeps the API default True."""
    docs = cat(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return DC.ngram_overlap_stats(train, bench, n=4, broadcast_bench=False)


@query(
    "q_boilerplate_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
c AS (
  SELECT doc_id,
    unnest(list_transform(
      generate_series(1, CAST(ceil(len(toks) / 4.0) AS INT)),
      i -> array_to_string(list_slice(toks, (i-1)*4 + 1, (i-1)*4 + 4), ' ')
    )) AS chunk
  FROM t
),
f AS (
  SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk
),
s AS (
  SELECT c.doc_id,
    count(*) AS n_chunks,
    sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS n_boiler
  FROM c JOIN f USING (chunk)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(s.n_chunks, 0) AS BIGINT) AS n_chunks,
  CAST(coalesce(s.n_boiler, 0) AS BIGINT) AS n_boilerplate,
  round(CASE WHEN coalesce(s.n_chunks, 0) > 0
        THEN coalesce(s.n_boiler, 0) / s.n_chunks ELSE 0.0 END, 6)
    AS boilerplate_frac
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
""",
    tags=("text", "dedup", "ring-c", "boilerplate"),
    description=(
        "CCNet-style boilerplate profile: fraction of each doc's 4-token "
        "chunks appearing in >=2 distinct docs corpus-wide "
        "(llm/decontam.py chunk_boilerplate_stats)."
    ),
)
def q_boilerplate_chunks(spark, sf_dir):
    docs = cat(spark, sf_dir).documents
    return DC.chunk_boilerplate_stats(docs, chunk_tokens=4, min_docs=2)


@query(
    "q_incremental_ingest_dedup",
    oracle="""
WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(
      list_filter(string_split_regex(lower(text), ' +'), t -> t != ''), ' '))
      AS fingerprint
  FROM documents
),
corpus AS (SELECT * FROM fp WHERE doc_id % 10 != 0),
incoming AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
seen AS (
  SELECT fingerprint, min(doc_id) AS first_doc_id
  FROM corpus GROUP BY fingerprint
)
SELECT i.doc_id,
  s.fingerprint IS NOT NULL AS is_duplicate,
  s.first_doc_id AS duplicate_of
FROM incoming i LEFT JOIN seen s ON i.fingerprint = s.fingerprint
""",
    tags=("dedup", "ring-c", "incremental", "ingest"),
    description=(
        "Incremental-ingest dedup: classify an incoming batch against "
        "the existing corpus by content fingerprint (llm/dedup.py "
        "normalization).  The corpus side reduces to one row per "
        "fingerprint BEFORE the join, so a daily 100 TB ingest joins "
        "against a fingerprint index, never the corpus text -- the "
        "incremental counterpart of q_dedup_exact_groups."
    ),
)
def q_incremental_ingest_dedup(spark, sf_dir):
    from ..functions.text import doc_fingerprint

    docs = cat(spark, sf_dir).documents
    fp = docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    corpus = fp.filter(F.col("doc_id") % 10 != 0)
    incoming = fp.filter(F.col("doc_id") % 10 == 0)
    seen = corpus.groupBy("fingerprint").agg(
        F.min("doc_id").alias("first_doc_id")
    )
    return (
        incoming.alias("i")
        .join(seen.alias("s"), "fingerprint", "left")
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("s.first_doc_id").isNotNull().alias("is_duplicate"),
            F.col("s.first_doc_id").alias("duplicate_of"),
        )
    )


@query(
    "q_training_data_pipeline",
    oracle=f"""
WITH d AS (
  SELECT * FROM documents
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(array_to_string({_TOKS}, ' ')))
),
t AS (
  SELECT doc_id, source, text, {_TOKS} AS toks FROM d
),
g AS (
  SELECT doc_id, source, text, toks,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(generate_series(1, len(toks) - 1),
        i -> array_to_string(list_slice(toks, i, i + 1), ' '))
    ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
),
m AS (
  SELECT doc_id, source, len(toks) AS n_tok,
    CASE WHEN length(text) > 0
      THEN length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / length(text)
      ELSE 0.0 END AS punct,
    CASE WHEN len(toks) > 0
      THEN len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) / len(toks)
      ELSE 0.0 END AS stop,
    CASE WHEN len(grams) > 0
      THEN 1.0 - len(list_distinct(grams)) / len(grams)
      ELSE 0.0 END AS dup
  FROM g
),
kept AS (
  SELECT doc_id, source, n_tok FROM m
  WHERE n_tok >= 20 AND punct <= 0.1 AND stop >= 0.02 AND dup <= 0.09
),
s AS (
  SELECT source, n_tok,
    CAST((CAST(concat('0x', substr(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483647) % 100 AS INTEGER)
      AS bucket
  FROM kept
)
SELECT
  CASE WHEN bucket < 80 THEN 'train'
       WHEN bucket < 90 THEN 'val'
       ELSE 'test' END AS split,
  source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM s
GROUP BY 1, 2
ORDER BY split, source
""",
    tags=("ring-c", "pipeline", "dedup", "quality", "mixture"),
    description=(
        "The training-data prep pipeline END-TO-END in one Spark plan: "
        "exact dedup (rows whose id is the min id of their md5 "
        "fingerprint, one window) -> C4/Gopher quality gate (same "
        "thresholds as q_text_quality_gate) -> deterministic "
        "train/val/test split (same hash gate as q_split_train_val_test) "
        "-> per-(split, source) doc and token counts.  One scan feeds "
        "every stage; the gate, repetition test included, is one in-row "
        "filter, so the dedup window's exchange is the only one before "
        "the rollup."
    ),
)
def q_training_data_pipeline(spark, sf_dir):
    """One shared implementation with the operational facade
    (llm/curate.py): this query reports curation_manifest(curated_docs)
    and run_curation_pipeline writes the same stages to sinks -- the
    oracle-checked rollup and the shipped corpus cannot drift.  Plan
    notes (one scan, one dedup exchange, in-row gate from SQL text)
    live on llm/curate.py."""
    from ..llm.curate import curated_docs, curation_manifest

    docs = cat(spark, sf_dir).documents
    return curation_manifest(curated_docs(docs)).orderBy("split", "source")



# --------------------------------------------------------------------------
# Batch twin of the streaming per-batch quality monitor
# --------------------------------------------------------------------------

@query(
    "q_quality_monitor_batch",
    oracle="""
WITH b AS (
  SELECT CAST(floor(floor(epoch(ts)) / 21600) AS BIGINT) AS batch_id,
    user_id, event_type, value
  FROM events
),
p AS (
  SELECT batch_id, count(*) AS total,
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
    CAST(sum(CASE WHEN event_type IS NULL OR event_type NOT IN
        ('click', 'view', 'purchase', 'signup') THEN 1 ELSE 0 END) AS BIGINT)
      AS v1,
    CAST(sum(CASE WHEN value IS NULL OR value < 0 OR value > 200
        THEN 1 ELSE 0 END) AS BIGINT) AS v2
  FROM b GROUP BY batch_id
)
SELECT batch_id, check_name, violations, CAST(total AS BIGINT) AS total,
  violations = 0 AS passed
FROM (
  SELECT batch_id, 'events.user_id.complete' AS check_name,
    v0 AS violations, total FROM p
  UNION ALL
  SELECT batch_id, 'events.event_type.in_set', v1, total FROM p
  UNION ALL
  SELECT batch_id, 'events.value.in_range_0_200', v2, total FROM p
)
ORDER BY batch_id, check_name
""",
    tags=("quality", "streaming-twin", "monitor", "report"),
    description=(
        "Batch twin of the streaming per-batch quality monitor "
        "(streaming/quality.quality_monitor_batch_fn): the SAME "
        "expectation suite -- completeness, set membership (the "
        "'error' type is deliberately outside the allowed set), value "
        "range (200 < max value, so it fails too) -- evaluated per "
        "6-hour micro-batch window of events, producing exactly the "
        "(batch_id, check, violations, total, passed) report table the "
        "foreachBatch monitor appends, but in one keyed aggregation "
        "pass.  This makes the monitor's report logic value-oracled; "
        "the streaming tests cover delivery/idempotence."
    ),
)
def q_quality_monitor_batch(spark, sf_dir):
    """One shuffle on the 6-hour batch key; all three predicate checks
    fold into the same keyed aggregate (map-side partials), then
    unpivot -- identical to what the foreachBatch path computes per
    micro-batch, proven by the monitor twin comparison in
    tests/test_graph_and_sinks.py (streamed per-batch report rows ==
    the grouped batch suite keyed by source file)."""
    from ..operators.quality import (
        completeness,
        in_range,
        in_set,
        predicate_report_grouped,
    )

    ev = cat(spark, sf_dir).events
    b = ev.select(
        F.floor(
            F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(21600)
        )
        .cast("bigint")
        .alias("batch_id"),
        "user_id",
        "event_type",
        "value",
    )
    checks = [
        completeness("events.user_id.complete", "user_id"),
        in_set(
            "events.event_type.in_set",
            "event_type",
            ["click", "view", "purchase", "signup"],
        ),
        in_range("events.value.in_range_0_200", "value", 0, 200),
    ]
    return (
        predicate_report_grouped(b, checks, ["batch_id"])
        .withColumnRenamed("check", "check_name")
        .orderBy("batch_id", "check_name")
    )
