"""Round-3 curation additions: chunk-level dedup with document
reconstruction, kNN label voting, robust (MAD) outlier gating, and
language-mix rebalancing.

These extend the LLM-training-data surface beyond analysis into the
*rewrite* stage a production pipeline needs (C4/RefinedWeb-style: the
cleaners do not just flag duplicated text, they remove it and emit the
rebuilt document), plus the eval-side kNN classifier and the robust
stats gate.  The reference repo has no analogue (its transform layer is
row-level cleaning only, ``/root/reference/etl/transform.py``); these
follow the same registry + DuckDB-oracle contract as the rest of Ring C.

Scale notes are on each query; the common theme: one shuffle per
logical stage, partial aggregation everywhere, broadcast for the small
side, and deterministic content hashes (never ``rand()``) so reruns and
repartitioning cannot change results.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import tokens
from ..llm.similarity import brute_force_top_k
from ..operators import ranks as RK
from ..operators.sampling import duck_hash_gate, hash_gate
from ._util import cat, duck_tokens, duck_word_ngrams
from . import query

CHUNK = 16  # tokens per dedup chunk (a "sentence" for the newline-free fixture)

_KNN_QUERY_IDS = list(range(20))
_KNN_QUERY_IDS_SQL = ", ".join(str(i) for i in _KNN_QUERY_IDS)

_COS = (
    "list_dot_product(qv, nv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))"
)


@query(
    "q_dedup_chunk_rewrite",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
c AS (
  SELECT doc_id, i.i AS chunk_idx,
    array_to_string(list_slice(toks, i.i * {CHUNK} + 1, i.i * {CHUNK} + {CHUNK}), ' ') AS chunk
  FROM t, LATERAL (
    SELECT unnest(generate_series(0,
      CAST(ceil(len(toks) / {CHUNK}.0) AS INTEGER) - 1)) AS i) i
),
o AS (
  SELECT doc_id, chunk_idx, chunk,
    (doc_id * 100000 + chunk_idx) = min(doc_id * 100000 + chunk_idx)
      OVER (PARTITION BY chunk) AS is_first
  FROM c
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
  coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE is_first), '')
    AS new_text
FROM o GROUP BY doc_id ORDER BY doc_id
""",
    tags=("dedup", "ring-c", "rewrite"),
    description="C4-style duplicate-chunk REMOVAL with document "
    "reconstruction: split every doc into 16-token chunks, keep only the "
    "globally-first occurrence of each chunk (first = smallest "
    "(doc_id, chunk_idx)), and reassemble the surviving chunks in order. "
    "Unlike q_repeated_spans (analysis) this emits the rewritten corpus.",
)
def q_dedup_chunk_rewrite(spark, sf_dir):
    """Scale shape: ONE wide shuffle, on the chunk text itself (the
    min-over-window per chunk).  Chunk occurrence lists are tiny (tokens
    / 16 per doc), the rebuild groupBy shuffles on doc_id -- both keys
    are near-uniform, no skew.  At 100 TB swap the raw chunk string for
    xxhash64(chunk) as the partition key and keep the text only in the
    payload; semantics identical, shuffle width /= ~10."""
    docs = cat(spark, sf_dir).documents
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(CHUNK)).cast("int")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * CHUNK + 1, CHUNK), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    first_w = Window.partitionBy("chunk")
    occ = chunks.withColumn(
        "occ_key", F.col("doc_id") * 100000 + F.col("chunk_idx")
    ).withColumn("is_first", F.col("occ_key") == F.min("occ_key").over(first_w))
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_first").cast("bigint")).alias("kept_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_first"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("new_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_knn_label_vote",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN ({_KNN_QUERY_IDS_SQL})
),
c AS (
  SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS nv
  FROM embeddings
),
s AS (
  SELECT query_id, neighbor_id, label, round({_COS}, 6) AS cosine
  FROM q CROSS JOIN c WHERE neighbor_id != query_id
),
r AS (
  SELECT query_id, label, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      AS rank
  FROM s
),
v AS (
  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
  FROM r WHERE rank <= 10 GROUP BY query_id, label
),
p AS (
  SELECT query_id, label, votes,
    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
  FROM v
)
SELECT p.query_id, CAST(p.label AS INTEGER) AS predicted_label, p.votes,
  CAST(e.label AS INTEGER) AS true_label,
  CAST(CASE WHEN p.label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM p JOIN embeddings e ON e.vec_id = p.query_id
WHERE vr = 1 ORDER BY query_id
""",
    tags=("similarity", "ring-c", "ann", "eval", "pandas-udf"),
    description="kNN majority-vote classification for 20 held-out "
    "queries: exact cosine top-10 neighbors, vote by neighbor label "
    "(ties -> smaller label), compare to the true label.  The standard "
    "embedding-quality eval over the retrieval stack.",
)
def q_knn_label_vote(spark, sf_dir):
    """Scale shape: reuses brute_force_top_k (broadcast query rows x
    streamed corpus, one narrow top-k shuffle on query_id).  The label
    map is the FULL corpus (vec_id -> label), so the label and truth
    joins carry no broadcast hint: the nn/picked side is the bounded
    one (k x |queries| rows), and at test SFs the estimator broadcasts
    whichever side is small.  Voting aggregates 200 rows --
    driver-trivial but expressed distributed so |queries| can grow to
    millions."""
    emb = cat(spark, sf_dir).embeddings
    nn = brute_force_top_k(emb, _KNN_QUERY_IDS, k=10)
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            labels.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    vr_w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), "label")
    picked = votes.withColumn("vr", F.row_number().over(vr_w)).filter("vr = 1")
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    return (
        picked.join(truth, "query_id")
        .select(
            "query_id",
            F.col("label").cast("int").alias("predicted_label"),
            "votes",
            F.col("true_label").cast("int"),
            (F.col("label") == F.col("true_label"))
            .cast("bigint")
            .alias("correct"),
        )
        .orderBy("query_id")
    )


@query(
    "q_events_value_outliers_mad",
    oracle="""
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
  CAST(count(*) AS BIGINT) AS n,
  any_value(d.med) AS med,
  any_value(m.mad) AS mad,
  CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers,
  round(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1.0 ELSE 0.0 END)
    / count(*), 6) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
""",
    tags=("quality", "robust-stats", "events"),
    description="Robust per-event-type outlier gate: median + MAD "
    "(exact), flag |value - med| > 3 sigma-equivalent (MAD * 1.4826). "
    "Median-based gating survives the heavy tails that break "
    "mean/stddev z-scores on payment-style value columns.",
)
def q_events_value_outliers_mad(spark, sf_dir):
    """Scale shape: two aggregations on event_type (bounded-cardinality
    key, partial-agg everywhere) + two BROADCAST joins of the tiny
    per-type stats back onto the stream.  Exact medians use Spark's
    percentile (sort-based within group); at 100 TB swap for
    approx_percentile(1e-4) -- the gate tolerates epsilon on the
    cutoff, and the swap is one function name."""
    events = cat(spark, sf_dir).events
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = F.col("adev") > 3 * 1.4826 * F.col("mad")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.sum(is_out.cast("bigint")).alias("n_outliers"),
            F.round(
                F.sum(is_out.cast("double")) / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


_BM25_TERMS = ("spark", "window", "merge")
_K1, _B = 1.2, 0.75


def _eq_term(term: str):
    # A one-arg lambda factory: a default-arg lambda (lambda x, t=term:)
    # would present arity 2 to F.filter, which then binds the ARRAY
    # INDEX to the second parameter.
    return lambda x: x == term


def _duck_tf(term: str) -> str:
    return f"len(list_filter(toks, t -> t = '{term}'))"


@query(
    "q_bm25_search",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
d AS (
  SELECT doc_id, len(toks) AS dl,
    {', '.join(f"{_duck_tf(term)} AS tf{i}" for i, term in enumerate(_BM25_TERMS))}
  FROM t
),
corpus AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
    {', '.join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
  FROM d
),
scored AS (
  SELECT doc_id, dl,
    {' + '.join(
        f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * ({_K1} + 1))"
        f" / (tf{i} + {_K1} * (1 - {_B} + {_B} * dl / avgdl))"
        for i in range(len(_BM25_TERMS))
    )} AS raw_score
  FROM d CROSS JOIN corpus
)
SELECT doc_id, CAST(dl AS BIGINT) AS doc_len,
  CAST(round(CAST(raw_score AS DECIMAL(18,8)), 6) AS DOUBLE) AS bm25
FROM scored
ORDER BY raw_score DESC, doc_id LIMIT 20
""",
    tags=("text", "search", "ring-c"),
    description="Okapi BM25 keyword retrieval (k1=1.2, b=0.75) for a "
    "fixed 3-term query: per-doc term frequencies stay in-row (no "
    "explode), corpus stats (N, avgdl, per-term df) ride in as a 1-row "
    "broadcast, top-20 via TakeOrdered -- the lexical twin of the "
    "embedding ANN queries.",
)
def q_bm25_search(spark, sf_dir):
    """Scale shape: ONE partial-aggregated pass for the corpus stats
    (4 + |terms| numbers), broadcast back, then a pure map pass + a
    global top-k (TakeOrderedAndProject, no full sort).  Zero wide
    shuffles; scoring is all codegen.  The final score routes through
    DECIMAL(18,8) before round(6) for the same cross-engine rounding
    reason as q_resample_hourly_lerp."""
    docs = cat(spark, sf_dir).documents
    toks = tokens(F.lower(F.col("text")))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq_term(term))).alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    corpus = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            1 + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        part = idf * (F.col(f"tf{i}") * (_K1 + 1)) / (
            F.col(f"tf{i}") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        d.join(F.broadcast(corpus))
        .select(
            "doc_id",
            F.col("dl").cast("bigint").alias("doc_len"),
            score.alias("raw_score"),
        )
        .orderBy(F.col("raw_score").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "doc_len",
            F.round(F.col("raw_score").cast("decimal(18,8)"), 6)
            .cast("double")
            .alias("bm25"),
        )
    )


@query(
    "q_zipf_slope",
    oracle=f"""
WITH t AS (
  SELECT unnest({duck_tokens('text')}) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS cnt FROM t GROUP BY token
),
ranked AS (
  SELECT token, cnt,
    row_number() OVER (ORDER BY cnt DESC, token) AS r
  FROM counts
),
terms AS (
  SELECT
    CAST(CAST(ln(r) AS DECIMAL(18,12)) AS DOUBLE) AS x,
    CAST(CAST(ln(cnt) AS DECIMAL(18,12)) AS DOUBLE) AS y
  FROM ranked
),
sums AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(28,14))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x * y AS DECIMAL(28,14))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(x * x AS DECIMAL(28,14))) AS DOUBLE) AS sxx
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_terms,
  CAST(round(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
    AS DECIMAL(18,8)), 6) AS DOUBLE) AS zipf_slope,
  CAST(round(CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
    AS DECIMAL(18,8)), 6) AS DOUBLE) AS intercept
FROM sums
""",
    tags=("text", "corpus-stats", "ring-c"),
    description="Zipf's-law fit over the corpus rank-frequency curve: "
    "OLS slope of ln(count) vs ln(rank).  Natural corpora sit near -1; "
    "a flat slope flags templated/boilerplate text, a cliff flags "
    "vocabulary collapse -- a one-row corpus health check for "
    "tokenizer/vocab design.",
)
def q_zipf_slope(spark, sf_dir):
    """Scale shape: one explode + token partial-agg shuffle (vocab-
    bounded), then a rank window and ONE-row regression sums.  All log
    terms and cross products route through DECIMAL before summation so
    the sum is order-independent and both engines accumulate the
    identical value (double summation order varies with partitioning;
    ulp-level libm-vs-JVM ln differences are absorbed by the 1e-12
    rounding)."""
    docs = cat(spark, sf_dir).documents
    counts = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "token")
    ranked = counts.withColumn("r", F.row_number().over(w))
    dec12 = lambda c: c.cast("decimal(18,12)").cast("double")  # noqa: E731
    terms = ranked.select(
        dec12(F.log("r")).alias("x"), dec12(F.log("cnt")).alias("y")
    )
    dsum = lambda c: F.sum(c.cast("decimal(28,14)")).cast("double")  # noqa: E731
    sums = terms.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    dec_round = lambda c: F.round(c.cast("decimal(18,8)"), 6).cast("double")  # noqa: E731
    return sums.select(
        F.col("n").cast("bigint").alias("n_terms"),
        dec_round(slope).alias("zipf_slope"),
        dec_round((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


@query(
    "q_lang_rebalance",
    oracle=f"""
WITH n AS (
  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
),
target AS (SELECT min(cnt) AS m FROM n),
ranked AS (
  SELECT doc_id, lang, source,
    row_number() OVER (PARTITION BY lang
      ORDER BY {duck_hash_gate('CAST(doc_id AS VARCHAR)', 'rebalance')}, doc_id)
      AS r
  FROM documents
),
kept AS (
  SELECT ranked.* FROM ranked, target WHERE r <= target.m
)
SELECT lang, source, CAST(count(*) AS BIGINT) AS kept_docs,
  CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) AS lang_total
FROM kept GROUP BY lang, source ORDER BY lang, source
""",
    tags=("datamix", "sampling", "ring-c"),
    description="Language-mix rebalancing: downsample every language to "
    "the size of the rarest one (uniform mix), choosing survivors by "
    "content hash rank so the subset is stable under reruns and "
    "repartitioning.  Reports the kept count per (lang, source).",
)
def q_lang_rebalance(spark, sf_dir):
    """Scale shape: per-lang counts partial-aggregate to ~5 rows; the
    min target is a 1-row broadcast; survivor selection is ONE window
    shuffle on lang.  Languages are few and large -- at 100 TB a
    rank-window per lang serializes each language through its
    partitions' sort, so the scale variant flips to the hash-gate RATE
    filter (rate = m / cnt, shuffle-free, approximate count) which
    operators.sampling.stratified_sample already provides; this exact-m
    form is the oracle-checkable contract."""
    docs = cat(spark, sf_dir).documents
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    target = counts.agg(F.min("cnt").alias("m"))
    rank_w = Window.partitionBy("lang").orderBy(
        hash_gate(F.col("doc_id").cast("string"), "rebalance"), "doc_id"
    )
    kept = (
        docs.select("doc_id", "lang", "source")
        .withColumn("r", F.row_number().over(rank_w))
        .join(F.broadcast(target), F.col("r") <= F.col("m"))
    )
    lang_w = Window.partitionBy("lang")
    return (
        kept.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("kept_docs"))
        .withColumn("lang_total", F.sum("kept_docs").over(lang_w))
        .orderBy("lang", "source")
    )


_CW_SIZE, _CW_STRIDE = 32, 16


@query(
    "q_chunk_sliding_windows",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks, len(toks) AS n,
    unnest(generate_series(1, greatest(len(toks), 1), {_CW_STRIDE})) AS s
  FROM tk WHERE len(toks) > 0
),
chunks AS (
  SELECT doc_id,
    CAST((s - 1) / {_CW_STRIDE} AS BIGINT) AS chunk_no,
    list_slice(toks, s, least(s + {_CW_SIZE} - 1, n)) AS ch
  FROM starts
  WHERE s = 1 OR s + {_CW_SIZE} - 1 <= n + {_CW_STRIDE} - 1
)
SELECT doc_id, chunk_no,
  CAST(len(ch) AS BIGINT) AS n_tok,
  md5(array_to_string(ch, ' ')) AS chunk_md5
FROM chunks
WHERE len(ch) > 0
ORDER BY doc_id, chunk_no
""",
    tags=("curation", "chunking", "rag", "ring-c"),
    description=(
        f"Overlapping sliding-window chunking (size {_CW_SIZE}, stride "
        f"{_CW_STRIDE}) -- the RAG/context-window shaper that "
        "complements the non-overlapping UDTF chunker "
        "(q_udtf_token_chunks): each document emits one chunk per "
        "stride offset, tail-padded by truncation, identified by "
        "(doc_id, chunk_no) with an md5 content fingerprint so the "
        "oracle compares chunk CONTENT, not just counts.  Pure "
        "built-in sequence/slice expressions -- no UDF, no shuffle "
        "except the output order."
    ),
)
def q_chunk_sliding_windows(spark, sf_dir):
    """Map-only: sequence(1, n, stride) explodes one row per chunk and
    slice() carves it -- all codegen; at 100 TB this is the shape that
    feeds the packing operator (q_pack_contexts) without ever
    shuffling raw text more than once."""
    docs = cat(spark, sf_dir).documents
    tk = docs.select("doc_id", tokens(F.lower("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    starts = tk.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(_CW_STRIDE))
        ).alias("s"),
    ).filter(
        (F.col("s") == 1)
        | (F.col("s") + _CW_SIZE - 1 <= F.col("n") + _CW_STRIDE - 1)
    )
    ch = F.slice(
        F.col("toks"),
        F.col("s"),
        F.least(F.lit(_CW_SIZE), F.col("n") - F.col("s") + 1),
    )
    return (
        starts.select(
            "doc_id",
            ((F.col("s") - 1) / _CW_STRIDE).cast("bigint").alias("chunk_no"),
            ch.alias("ch"),
        )
        .filter(F.size("ch") > 0)
        .select(
            "doc_id",
            "chunk_no",
            F.size("ch").cast("bigint").alias("n_tok"),
            F.md5(F.array_join("ch", " ").cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_no")
    )


# --------------------------------------------------------------------------
# Retrieval-quality eval: NDCG@10 with deterministic graded relevance
# --------------------------------------------------------------------------

import math as _math

_NDCG_K = 10
# 1/log2(rank+1) quantized ONCE in Python and embedded as the SAME
# integer literals in both engines' expressions -- no runtime libm at
# all, so rank weights cannot diverge by construction.
_NDCG_W = [int(1e9 / _math.log2(r + 1) + 0.5) for r in range(1, _NDCG_K + 1)]


def _overlap_ranked(docs):
    """The shared deterministic retrieval ranking both eval metrics
    score: query docs = every 101st doc_id, candidates ranked per
    query by distinct-token overlap (inverted-index join on the word
    key -- the sparse-TFIDF shape, bounded by shared-term postings),
    ties to the smaller doc id, cut at ``_NDCG_K``.

    Returns (tk, q, ranked): the tokenized corpus (doc_id, source,
    lang, toks), the query set (q_id, q_src, q_lang, q_toks), and the
    top-k ranking (q_id, doc_id, overlap, rnk).  Both
    q_retrieval_ndcg_eval and q_retrieval_mrr_eval consume THIS
    ranking, so 'companion metric over the same ranking' is a property
    of the code, not of two copies staying in sync.
    q_retrieval_rrf_fusion shares the same candidate generation via
    ``_overlap_candidates``."""
    tk, q, ov = _overlap_candidates(docs)
    ranked = ov.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("overlap"), "doc_id")
        ),
    ).filter(F.col("rnk") <= _NDCG_K)
    return tk, q, ranked


def _overlap_candidates(docs, with_size: bool = False):
    """Candidate generation shared by the eval metrics and the RRF
    fusion: tokenized corpus, query set (every 101st doc), and the
    UN-CUT per-(query, candidate) distinct-token overlap counts.

    ``with_size=True`` rides each candidate's distinct-token count
    (``n_toks``) through the explode and the overlap rollup (the
    ``_exploded_shingles with_size`` idiom): the RRF consumer needs it
    and would otherwise re-tokenize the corpus for one size join.
    Grouping on the functionally-dependent ``n_toks`` is value-
    identical and keeps the rollup hash-aggregated.  The default False
    keeps the exploded posting rows 8 bytes narrower for the two
    consumers that never read sizes (guide §2.3, shuffle fewer
    bytes)."""
    from ..operators.layout import spread_input

    # Spread (r10): the corpus-side tokenize+explode feeding the
    # posting join ran single-threaded on the one-partition bench
    # corpus.  No-op on well-partitioned inputs.
    docs = spread_input(docs, "doc_id")
    tk = docs.select(
        "doc_id",
        "source",
        "lang",
        F.array_distinct(tokens(F.lower("text"))).alias("toks"),
    )
    q = tk.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("q_id"),
        F.col("source").alias("q_src"),
        F.col("lang").alias("q_lang"),
        F.col("toks").alias("q_toks"),
    )
    size_cols = [F.size("toks").alias("n_toks")] if with_size else []
    ex = tk.select("doc_id", *size_cols, F.explode("toks").alias("w"))
    qx = q.select("q_id", F.explode("q_toks").alias("w"))
    group_cols = ["q_id", "doc_id"] + (["n_toks"] if with_size else [])
    ov = (
        qx.join(ex, (ex["w"] == qx["w"]) & (ex["doc_id"] != qx["q_id"]))
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return tk, q, ov



@query(
    "q_retrieval_ndcg_eval",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, source, lang,
    list_distinct({duck_tokens('text')}) AS toks
  FROM documents
),
q AS (
  SELECT doc_id AS q_id, source AS q_src, lang AS q_lang, toks AS q_toks
  FROM tk WHERE doc_id % 101 = 0
),
ex AS (SELECT doc_id, unnest(toks) AS w FROM tk),
qx AS (SELECT q_id, unnest(q_toks) AS w FROM q),
ov AS (
  SELECT qx.q_id, ex.doc_id, count(*) AS overlap
  FROM qx JOIN ex ON ex.w = qx.w AND ex.doc_id != qx.q_id
  GROUP BY qx.q_id, ex.doc_id
),
ranked AS (
  SELECT o.q_id, o.doc_id, o.overlap,
    row_number() OVER (PARTITION BY o.q_id
                       ORDER BY o.overlap DESC, o.doc_id) AS rnk
  FROM ov o
),
hits AS (
  SELECT r.q_id, r.rnk,
    (CASE WHEN d.source = q.q_src THEN 2 ELSE 0 END
     + CASE WHEN d.lang = q.q_lang THEN 1 ELSE 0 END) AS rel
  FROM ranked r
  JOIN tk d ON d.doc_id = r.doc_id
  JOIN q ON q.q_id = r.q_id
  WHERE r.rnk <= {_NDCG_K}
),
w(rnk, wq) AS (VALUES {', '.join(f'({r + 1}, {w})' for r, w in enumerate(_NDCG_W))}),
dcg AS (
  SELECT q_id,
    CAST(sum(CAST((1 << rel) - 1 AS BIGINT) * wq) AS BIGINT) AS dcg_q,
    count(*) AS n_results
  FROM hits JOIN w USING (rnk) GROUP BY q_id
),
ideal AS (
  SELECT q_id,
    CAST(sum(CAST((1 << rel) - 1 AS BIGINT) * wq) AS BIGINT) AS idcg_q
  FROM (
    SELECT q_id, rel,
      row_number() OVER (PARTITION BY q_id ORDER BY rel DESC) AS irnk
    FROM hits
  ) JOIN w ON w.rnk = irnk
  WHERE irnk <= {_NDCG_K}
  GROUP BY q_id
)
SELECT dcg.q_id AS query_doc, CAST(n_results AS BIGINT) AS n_results,
  CASE WHEN idcg_q = 0 THEN 0.0
       ELSE floor(CAST(dcg_q AS DOUBLE) / idcg_q * 1000000.0 + 0.5)
            / 1000000.0 END AS ndcg
FROM dcg JOIN ideal USING (q_id)
ORDER BY query_doc
""",
    tags=("retrieval", "eval", "ndcg", "ring-c"),
    description=(
        "Retrieval-quality evaluation: NDCG@10 per query document "
        "(every 101st doc) over a deterministic integer ranking "
        "(distinct-token overlap via the inverted index, ties to the "
        "smaller doc id) with graded relevance from metadata (same "
        "source = +2, same lang = +1).  Rank discounts 1/log2(r+1) "
        "are quantized once in PYTHON and embedded as identical "
        "integer literals in both engines, so DCG/IDCG are exact "
        "integer sums -- the eval harness every retrieval stack "
        "(BM25, TF-IDF, ANN) plugs its rankings into."
    ),
)
def q_retrieval_ndcg_eval(spark, sf_dir):
    """Shared ranking (see :func:`_overlap_ranked`), one rank window
    per query, then two integer reductions.  The weight table is a
    10-row broadcast literal."""
    from pyspark.sql import Window

    docs = cat(spark, sf_dir).documents
    tk, q, ranked = _overlap_ranked(docs)
    # Checkpointed: hits is bounded (<= queries x NDCG_K rows) but is
    # consumed TWICE (dcg + ideal), and without the cut each consumer
    # re-runs the whole posting-join pipeline.  Folding both sums into
    # one pass over uncut hits measured 10% slower at sf0.1: that pass
    # shares a stage with the pipeline, so the final ORDER BY's range
    # sampling job runs the pipeline again.  The cut is lazy: the first
    # job that reads hits fills it, which measured faster than an
    # eager cut's extra build job.
    hits = (
        ranked.join(tk.select("doc_id", "source", "lang"), "doc_id")
        .join(q.select("q_id", "q_src", "q_lang"), "q_id")
        .select(
            "q_id",
            "rnk",
            (
                F.when(F.col("source") == F.col("q_src"), 2).otherwise(0)
                + F.when(F.col("lang") == F.col("q_lang"), 1).otherwise(0)
            ).alias("rel"),
        )
        .localCheckpoint(eager=False)
    )
    wdf = docs.sparkSession.createDataFrame(
        [(r + 1, w) for r, w in enumerate(_NDCG_W)], "rnk int, wq bigint"
    )
    gain = (F.expr("shiftleft(1, rel)") - 1).cast("bigint")
    dcg = (
        hits.join(F.broadcast(wdf), "rnk")
        .groupBy("q_id")
        .agg(
            F.sum(gain * F.col("wq")).cast("bigint").alias("dcg_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_results"),
        )
    )
    ideal = (
        hits.withColumn(
            "irnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("rel"))
            ),
        )
        .filter(F.col("irnk") <= _NDCG_K)
        .join(F.broadcast(wdf.withColumnRenamed("rnk", "irnk")), "irnk")
        .groupBy("q_id")
        .agg(F.sum(gain * F.col("wq")).cast("bigint").alias("idcg_q"))
    )
    return (
        dcg.join(ideal, "q_id")
        .select(
            F.col("q_id").alias("query_doc"),
            "n_results",
            F.when(F.col("idcg_q") == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    F.col("dcg_q").cast("double")
                    / F.col("idcg_q")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            )
            .alias("ndcg"),
        )
        .orderBy("query_doc")
    )


@query(
    "q_retrieval_mrr_eval",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, source, lang,
    list_distinct({duck_tokens('text')}) AS toks
  FROM documents
),
q AS (
  SELECT doc_id AS q_id, source AS q_src, toks AS q_toks
  FROM tk WHERE doc_id % 101 = 0
),
ex AS (SELECT doc_id, unnest(toks) AS w FROM tk),
qx AS (SELECT q_id, unnest(q_toks) AS w FROM q),
ov AS (
  SELECT qx.q_id, ex.doc_id, count(*) AS overlap
  FROM qx JOIN ex ON ex.w = qx.w AND ex.doc_id != qx.q_id
  GROUP BY qx.q_id, ex.doc_id
),
ranked AS (
  SELECT o.q_id, o.doc_id,
    row_number() OVER (PARTITION BY o.q_id
                       ORDER BY o.overlap DESC, o.doc_id) AS rnk
  FROM ov o
),
firsthit AS (
  SELECT r.q_id, min(r.rnk) AS first_rel_rank
  FROM ranked r
  JOIN tk d ON d.doc_id = r.doc_id
  JOIN q ON q.q_id = r.q_id
  WHERE r.rnk <= {_NDCG_K} AND d.source = q.q_src
  GROUP BY r.q_id
)
SELECT q.q_id AS query_doc,
  CAST(coalesce(f.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
  CASE WHEN f.first_rel_rank IS NULL THEN 0.0
       ELSE floor(1000000.0 / f.first_rel_rank + 0.5) / 1000000.0
  END AS reciprocal_rank
FROM q LEFT JOIN firsthit f USING (q_id)
ORDER BY query_doc
""",
    tags=("retrieval", "eval", "mrr", "ring-c"),
    description=(
        "MRR@10 companion to q_retrieval_ndcg_eval: the SAME "
        "deterministic token-overlap ranking, binary relevance (same "
        "source), reciprocal rank of the first relevant hit per query "
        "(0 when none in the top 10).  1/rank over ranks 1..10 is "
        "quantized by the identical floor expression in both engines "
        "-- only 10 possible values, all exact."
    ),
)
def q_retrieval_mrr_eval(spark, sf_dir):
    """THE SAME ranking as the NDCG eval (one shared
    :func:`_overlap_ranked` pipeline), then a per-query min -- the
    cheaper of the two metrics."""
    docs = cat(spark, sf_dir).documents
    tk, q, ranked = _overlap_ranked(docs)
    firsthit = (
        ranked.join(tk.select("doc_id", "source"), "doc_id")
        .join(q.select("q_id", "q_src"), "q_id")
        .filter(F.col("source") == F.col("q_src"))
        .groupBy("q_id")
        .agg(F.min("rnk").alias("first_rel_rank"))
    )
    return (
        q.select("q_id")
        .join(firsthit, "q_id", "left")
        .select(
            F.col("q_id").alias("query_doc"),
            F.coalesce("first_rel_rank", F.lit(0))
            .cast("bigint")
            .alias("first_rel_rank"),
            F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
            .otherwise(
                F.floor(F.lit(1e6) / F.col("first_rel_rank") + F.lit(0.5))
                / F.lit(1e6)
            )
            .alias("reciprocal_rank"),
        )
        .orderBy("query_doc")
    )


_CURR_STAGES, _CURR_SHARDS = 4, 8
_CURR_GATE = duck_hash_gate("CAST(doc_id AS VARCHAR)", "curriculum")


@query(
    "q_curriculum_shards",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
    CAST(len({duck_tokens('text')}) AS BIGINT) AS score,
    CAST({_CURR_GATE} % {_CURR_SHARDS} AS INTEGER) AS shard
  FROM documents
),
st AS (
  SELECT doc_id, score, shard,
    ntile({_CURR_STAGES}) OVER (ORDER BY score, doc_id) AS stage
  FROM s
)
SELECT CAST(stage AS INTEGER) AS stage, shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(score) AS BIGINT) AS total_tokens,
  CAST(min(score) AS BIGINT) AS min_score,
  CAST(max(score) AS BIGINT) AS max_score
FROM st GROUP BY stage, shard
ORDER BY stage, shard
""",
    tags=("curation", "ring-c", "curriculum", "split"),
    description=(
        f"Curriculum construction for training: rank every doc by an "
        "integer difficulty proxy (token count), cut the ranking into "
        f"{_CURR_STAGES} equal-depth stages (ntile over the total "
        "order (score, doc_id) -- both engines use the standard "
        "first-buckets-get-the-remainder ntile, so stages are "
        f"identical), and hash-shard each stage {_CURR_SHARDS} ways "
        "for parallel loaders.  Output = the per-(stage, shard) "
        "manifest a curriculum schedule reads."
    ),
)
def q_curriculum_shards(spark, sf_dir):
    """The global ntile runs through operators/ranks.
    blocked_global_ntile, blocked on the score itself (the leading
    sort key): ranking happens within equal-score groups in parallel
    and the only global window is over the bounded per-score count
    aggregate -- exact ntile semantics, no single-partition corpus
    sort (r9 global-window sweep; the prior shape's 'only two ints
    per doc' defense still put every doc in ONE task)."""
    docs = cat(spark, sf_dir).documents
    s = docs.select(
        "doc_id",
        F.size(tokens(F.lower("text"))).cast("bigint").alias("score"),
        (hash_gate(F.col("doc_id").cast("string"), "curriculum") % _CURR_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    st = RK.blocked_global_ntile(
        s, F.col("score"), ["doc_id"], _CURR_STAGES, out_col="stage",
        # The block key is the per-doc token COUNT, so its cardinality
        # is bounded by the longest document, not the corpus (measured
        # 88-91 distinct scores across sf0.001-0.1); 2^20 is a generous
        # cap that still broadcasts in ~MBs, and the operator raises
        # loudly if a future fixture ever exceeds it.
        max_blocks=1 << 20,
    )
    return (
        st.groupBy(F.col("stage").cast("int").alias("stage"), "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("score").cast("bigint").alias("total_tokens"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
        )
        .orderBy("stage", "shard")
    )


_RRF_K = 60  # the standard RRF damping constant


@query(
    "q_retrieval_rrf_fusion",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, list_distinct({duck_tokens('text')}) AS toks
  FROM documents
),
q AS (
  SELECT doc_id AS q_id, toks AS q_toks FROM tk WHERE doc_id % 101 = 0
),
ex AS (SELECT doc_id, unnest(toks) AS w FROM tk),
qx AS (SELECT q_id, unnest(q_toks) AS w FROM q),
ov AS (
  SELECT qx.q_id, ex.doc_id, count(*) AS overlap
  FROM qx JOIN ex ON ex.w = qx.w AND ex.doc_id != qx.q_id
  GROUP BY qx.q_id, ex.doc_id
),
sc AS (
  SELECT o.q_id, o.doc_id, o.overlap,
    (o.overlap * 1000000) // len(t.toks) AS dens
  FROM ov o JOIN tk t ON t.doc_id = o.doc_id
),
rks AS (
  SELECT q_id, doc_id,
    row_number() OVER (PARTITION BY q_id
                       ORDER BY overlap DESC, doc_id) AS rank_a,
    row_number() OVER (PARTITION BY q_id
                       ORDER BY dens DESC, doc_id) AS rank_b
  FROM sc
),
fused AS (
  SELECT q_id, doc_id,
    CAST(1000000000 // ({_RRF_K} + rank_a)
       + 1000000000 // ({_RRF_K} + rank_b) AS BIGINT) AS rrf_score
  FROM rks
)
SELECT q_id AS query_doc, doc_id, rrf_score,
  CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM fused
QUALIFY rank <= {_NDCG_K}
ORDER BY query_doc, rank
""",
    tags=("retrieval", "eval", "fusion", "ring-c"),
    description=(
        "Reciprocal-rank fusion of two retrieval systems over the "
        "shared candidate pool: raw distinct-token overlap vs length-"
        "normalized overlap density (integer floor-div, so both "
        "rankings are exact), fused as sum of floor(1e9/(60+rank)) -- "
        "the standard RRF with k=60 in overflow-free integers.  The "
        "combiner every multi-retriever stack (BM25 + dense + ...) "
        "needs, value-checkable because ranks and contributions are "
        "all integers."
    ),
)
def q_retrieval_rrf_fusion(spark, sf_dir):
    """Same inverted-index candidate join as the NDCG/MRR evals (one
    shared _overlap_candidates pipeline), two rank windows per query
    over the candidate set, one fusion window -- no extra shuffles
    beyond the eval family's."""
    docs = cat(spark, sf_dir).documents
    # with_size: n_toks rides the posting explode (r10) -- the size
    # join this replaces re-ran the whole corpus tokenization.
    tk, q, ov = _overlap_candidates(docs, with_size=True)
    sc = ov.select(
        "q_id",
        "doc_id",
        "overlap",
        F.expr("(overlap * 1000000) div n_toks").alias("dens"),
    )
    wa = Window.partitionBy("q_id").orderBy(F.desc("overlap"), "doc_id")
    wb = Window.partitionBy("q_id").orderBy(F.desc("dens"), "doc_id")
    rks = sc.select(
        "q_id",
        "doc_id",
        F.row_number().over(wa).alias("rank_a"),
        F.row_number().over(wb).alias("rank_b"),
    )
    fused = rks.select(
        "q_id",
        "doc_id",
        (
            F.expr(f"1000000000 div ({_RRF_K} + rank_a)")
            + F.expr(f"1000000000 div ({_RRF_K} + rank_b)")
        )
        .cast("bigint")
        .alias("rrf_score"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= _NDCG_K)
        .select(
            F.col("q_id").alias("query_doc"), "doc_id", "rrf_score", "rank"
        )
        .orderBy("query_doc", "rank")
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, public paper:
# "Data Selection for Language Models via Importance Resampling")
# --------------------------------------------------------------------------

_DSIR_B = 10_000        # hashed n-gram buckets (the paper's scalability trick)
_DSIR_K = 100           # documents to select from the raw pool
_DSIR_TARGET = "src0"   # the "curated domain sample" source
_DSIR_P = 1_000_000.0   # fixed-point grid for the quantized log terms

_DSIR_BUCKET_DUCK = (
    "(CAST(concat('0x', substr(md5('dsir' || '|' || ng), 1, 15)) "
    f"AS BIGINT) % {(1 << 31) - 1}) % {_DSIR_B}"
)

_DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source, {duck_tokens('text')} AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, lang, source,
    unnest(list_concat(toks, {duck_word_ngrams('toks', 2)})) AS ng
  FROM t
),
fb AS (
  SELECT doc_id, lang, source, {_DSIR_BUCKET_DUCK} AS b FROM feats
),
model AS (
  SELECT b,
    sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS c_t,
    sum(CASE WHEN source <> '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS c_q
  FROM fb GROUP BY b
),
totals AS (
  SELECT sum(c_t) AS tt, sum(c_q) AS qq FROM model
),
lr AS (
  -- add-1-smoothed quantized log-ratio per bucket; each ln is
  -- floor-quantized ONCE to the 1e-6 grid (the libm convention), so
  -- per-document sums are exact integers.
  SELECT m.b,
    CAST(floor(ln(CAST(m.c_t + 1 AS DOUBLE)
        / CAST(t.tt + {_DSIR_B} AS DOUBLE)) * {_DSIR_P} + 0.5) AS BIGINT)
    - CAST(floor(ln(CAST(m.c_q + 1 AS DOUBLE)
        / CAST(t.qq + {_DSIR_B} AS DOUBLE)) * {_DSIR_P} + 0.5) AS BIGINT)
      AS lr_q
  FROM model m CROSS JOIN totals t
),
docw AS (
  SELECT fb.doc_id, any_value(fb.lang) AS lang,
    sum(lr.lr_q) AS logw_q
  FROM fb JOIN lr ON fb.b = lr.b
  WHERE fb.source <> '{_DSIR_TARGET}'
  GROUP BY fb.doc_id
),
keyed AS (
  -- deterministic Gumbel top-k: g = -ln(-ln(u)) with u the md5
  -- 16-bit slice mapped to the open unit interval; quantized once.
  SELECT doc_id, lang, logw_q,
    logw_q + CAST(floor(-ln(-ln(
      (CAST(concat('0x', substr(md5('dsirg' || '|' || CAST(doc_id AS VARCHAR)), 1, 4))
        AS BIGINT) + 0.5) / 65536.0)) * {_DSIR_P} + 0.5) AS BIGINT)
      AS skey
  FROM docw
),
sel AS (
  SELECT doc_id, lang, logw_q FROM (
    SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id) AS rn
    FROM keyed
  ) WHERE rn <= {_DSIR_K}
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_selected,
  floor(CAST(sum(logw_q) AS DOUBLE) / count(*) + 0.5) / {_DSIR_P}
    AS avg_logw
FROM sel GROUP BY lang ORDER BY lang
"""


@query(
    "q_dsir_importance_resampling",
    oracle=_DSIR_ORACLE,
    tags=("llm", "curation", "sampling", "dsir", "ring-c"),
    description=(
        "DSIR-style data selection (hashed n-gram importance "
        "resampling, Xie et al. 2023): fit add-1-smoothed bag-of-"
        f"hashed-ngram models ({_DSIR_B} md5 buckets, unigrams + "
        f"bigrams) for the target domain ('{_DSIR_TARGET}') and the "
        "raw pool, weight every raw document by its exact-integer sum "
        "of quantized per-bucket log-ratios, add deterministic Gumbel "
        "noise from the md5 16-bit slice (no rand(); rerun- and "
        f"repartition-stable), and keep the top {_DSIR_K}.  Output = "
        "language mix of the selected set with average log-importance "
        "-- the domain-adaptation sampler for pretraining data."
    ),
)
def q_dsir_importance_resampling(spark, sf_dir):
    """Scale shape: the n-gram explode aggregates map-side into at
    most {B} bucket groups per pool -- the model shuffle is O(B), not
    O(corpus) -- and the scoring join broadcasts the B-row log-ratio
    table against the doc-bucket stream, reducing per doc_id.  The
    Gumbel top-k is a TakeOrdered over one row per raw doc.  Nothing
    data-sized shuffles except the per-doc weight rollup, the same
    single shuffle every per-doc rollup in the suite pays."""
    from ..operators.layout import spread_input

    # Spread the compact input before the tokenize+hash explode (r10):
    # the n-gram pipeline below runs THREE times (model, totals via
    # model, per-doc weights) and a one-partition scan made each pass
    # single-threaded.  No-op on well-partitioned inputs.
    docs = spread_input(cat(spark, sf_dir).documents, "doc_id")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        tokens(F.lower("text")).alias("toks"),
    )
    from ..functions.text import word_ngrams_from_tokens

    feats = t.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.concat(F.col("toks"), word_ngrams_from_tokens(F.col("toks"), 2))
        ).alias("ng"),
    )
    fb = feats.select(
        "doc_id",
        "lang",
        "source",
        (hash_gate(F.col("ng"), "dsir") % _DSIR_B).alias("b"),
    )
    # Checkpointed: model is bounded (<= {B} bucket rows) but is
    # consumed twice (totals + the log-ratio projection), and without
    # the cut the SECOND consumer re-runs the whole corpus explode
    # (the uncut plan carries three Generate+scan subtrees).
    model = (
        fb.groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)
            ).alias("c_t"),
            F.sum(
                F.when(F.col("source") != _DSIR_TARGET, 1).otherwise(0)
            ).alias("c_q"),
        )
        .localCheckpoint()
    )
    totals = model.agg(
        F.sum("c_t").alias("tt"), F.sum("c_q").alias("qq")
    )

    def qln(col):
        return F.floor(F.log(col) * F.lit(_DSIR_P) + F.lit(0.5)).cast("bigint")

    lr = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            qln(
                (F.col("c_t") + 1).cast("double")
                / (F.col("tt") + F.lit(_DSIR_B)).cast("double")
            )
            - qln(
                (F.col("c_q") + 1).cast("double")
                / (F.col("qq") + F.lit(_DSIR_B)).cast("double")
            )
        ).alias("lr_q"),
    )
    # groupBy (doc_id, lang), NEVER groupBy(doc_id) + first(lang): a
    # First/Last/min/max aggregate over a STRING has a variable-width
    # aggregation buffer, which disqualifies HashAggregate and lowers
    # the whole rollup to SortAggregate -- whose PARTIAL stage sorts
    # the full exploded n-gram stream within every partition (map-side,
    # so no shuffle-width conf can split it).  The r10 sf100 probe
    # measured that sort at 12.9 GB of spill / exponent 1.06 at BOTH
    # shuffle widths; lang is functionally dependent on doc_id, so
    # promoting it to a grouping key is value-identical (the oracle's
    # any_value) and restores the hash-aggregated zero-sort shape.
    docw = (
        fb.filter(F.col("source") != _DSIR_TARGET)
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum("lr_q").alias("logw_q"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("dsirg"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(65536.0)
    keyed = docw.select(
        "doc_id",
        "lang",
        "logw_q",
        (
            F.col("logw_q")
            + F.floor(-F.log(-F.log(u)) * F.lit(_DSIR_P) + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("skey"),
    )
    # TakeOrdered, not a global row_number window: the top-k never
    # materializes a single-partition sort at any pool size.
    sel = keyed.orderBy(F.desc("skey"), "doc_id").limit(_DSIR_K)
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            (
                F.floor(
                    F.sum("logw_q").cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / F.lit(_DSIR_P)
            ).alias("avg_logw"),
        )
        .orderBy("lang")
    )
