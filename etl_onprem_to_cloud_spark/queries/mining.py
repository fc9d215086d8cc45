"""Round-3 batch 2: declared data-quality expectations, fixed-point
PageRank (TextRank), grouped OLS regression, seasonal profiles, CUSUM
changepoint scan, BPE merge candidates, equi-depth histograms, and a
pandas GROUPED_AGG weighted median.

Rationale: the reference defends against dirty data with ad-hoc
re-guards (``/root/reference/etl/transform.py:139-144,199-200``) and
delegates every analytic beyond its clean step to Athena/QuickSight;
a native engine needs (a) *declared* quality expectations a pipeline
can gate on, and (b) the statistics/mining layer a training-data
curation run actually calls (keyword extraction, drift/changepoint
scans, tokenizer-construction counts).  All queries follow the
registry contract: exact-decimal or pure-integer arithmetic wherever a
value crosses engines, identical expression structure in the Spark and
DuckDB texts, total output order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.storagelevel import StorageLevel

from ..functions.numeric import dec, portable_round
from ..operators import ranks as RK
from ..operators.fixpoint import iterate
from ..operators.layout import ckpt_partitioned, spread_input
from ..operators.sampling import duck_hash_gate, hash_gate
from ..pinned import pin
from ..functions.text import tokens
from ..operators.graph import (
    copurchase_edges,
    duck_pagerank_sql,
    pagerank_fixed_point,
)
from ..operators.quality import (
    completeness,
    in_range,
    in_set,
    predicate_report,
    referential_report,
    uniqueness_report,
)
from ._util import cat, duck_pround, duck_shingles, duck_tokens, duck_word_ngrams
# Shared minhash/LSH SQL fragments (textops is imported before mining
# in queries/__init__, so this module-level import is safe).
from .textops import _band_keys_sql, _minhash_sig_sql
from . import query


# --------------------------------------------------------------------------
# Data-quality expectation suite
# --------------------------------------------------------------------------

@query(
    "q_data_quality_orders",
    oracle="""
WITH p AS (
  SELECT count(*) AS total,
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
    sum(CASE WHEN o_orderstatus IS NULL
             OR o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS v1,
    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
             OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS v2,
    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
             OR o_totalprice > 100000 THEN 1 ELSE 0 END) AS v3
  FROM orders
),
u AS (
  SELECT coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS viol, sum(n) AS total
  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
),
r AS (
  SELECT (SELECT count(*) FROM lineitem) AS total,
    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS viol
)
SELECT check_name, CAST(violations AS BIGINT) AS violations,
  CAST(total AS BIGINT) AS total, violations = 0 AS passed
FROM (
  SELECT 'orders.custkey.complete' AS check_name, v0 AS violations, total FROM p
  UNION ALL
  SELECT 'orders.status.in_set', v1, total FROM p
  UNION ALL
  SELECT 'orders.totalprice.in_range', v2, total FROM p
  UNION ALL
  SELECT 'orders.totalprice.le_100k', v3, total FROM p
  UNION ALL
  SELECT 'orders.orderkey.unique', viol, total FROM u
  UNION ALL
  SELECT 'lineitem.orderkey.referential', viol, total FROM r
)
ORDER BY check_name
""",
    tags=("quality", "hygiene", "report"),
    description=(
        "Deequ-style declared data-quality expectations: completeness, "
        "set membership, range, uniqueness and referential integrity, "
        "reported as one row per check (the le_100k check is designed "
        "to fail so the report exercises both outcomes)."
    ),
)
def q_data_quality_orders(spark, sf_dir):
    """All row-predicate checks fold into ONE aggregation pass
    (map-side partials, 1-row exchange, unpivot); uniqueness adds a
    groupBy on the key and referential integrity an anti-join on the
    parent KEY SET -- which is the full o_orderkey set, i.e. corpus-
    scaled, so ``broadcast_parent=False``: the estimator/AQE still
    broadcasts it at test SFs, and at 100x the plan degrades to a
    shuffled anti-join instead of broadcasting billions of keys."""
    c = cat(spark, sf_dir)
    orders, lineitem = c.orders, c.lineitem
    preds = predicate_report(
        orders,
        [
            completeness("orders.custkey.complete", "o_custkey"),
            in_set("orders.status.in_set", "o_orderstatus", ["O", "F", "P"]),
            in_range("orders.totalprice.in_range", "o_totalprice", 0, 1_000_000),
            in_range("orders.totalprice.le_100k", "o_totalprice", 0, 100_000),
        ],
    )
    uniq = uniqueness_report(orders, "orders.orderkey.unique", ["o_orderkey"])
    ref = referential_report(
        lineitem,
        "lineitem.orderkey.referential",
        "l_orderkey",
        orders,
        "o_orderkey",
        broadcast_parent=False,
    )
    return (
        preds.unionByName(uniq)
        .unionByName(ref)
        .withColumnRenamed("check", "check_name")
        .orderBy("check_name")
    )


# --------------------------------------------------------------------------
# TextRank: fixed-point PageRank over the token co-occurrence graph
# --------------------------------------------------------------------------

_EDGES_CTE = f"""
SELECT src, dst FROM (
  SELECT a AS src, b AS dst FROM (
    SELECT toks[i.i] AS a, toks[i.i + 1] AS b
    FROM (SELECT {duck_tokens('text')} AS toks FROM documents) t,
    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
  ) WHERE a != b
  UNION
  SELECT b, a FROM (
    SELECT toks[i.i] AS a, toks[i.i + 1] AS b
    FROM (SELECT {duck_tokens('text')} AS toks FROM documents) t,
    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
  ) WHERE a != b
)
"""


@query(
    "q_textrank_tokens",
    oracle=duck_pagerank_sql(_EDGES_CTE, iterations=8)
    + "\nORDER BY rank DESC, node LIMIT 20",
    tags=("graph", "pagerank", "ring-c", "iterative"),
    description=(
        "TextRank keyword extraction: undirected adjacent-token "
        "co-occurrence graph over the corpus, 8 supersteps of "
        "fixed-point (scaled-BIGINT) PageRank -- integer arithmetic "
        "makes an iterative graph algorithm value-comparable across "
        "engines; oracle is the generated unrolled-CTE twin."
    ),
)
def q_textrank_tokens(spark, sf_dir):
    """Scale shape: edge construction is explode + distinct (one
    shuffle on the pair); each superstep is rank-join-agg on keys that
    stay hash-partitioned round to round, lineage cut every 4 rounds.
    Vocabulary nodes are the unit of work -- a real corpus has ~1e7
    nodes and ~1e9 edges, well inside this plan's shape (same pattern
    as connected components in llm/dedup.py)."""
    docs = spread_input(cat(spark, sf_dir).documents, "doc_id")
    toks = docs.select(tokens(F.lower(F.col("text"))).alias("toks"))
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("a"),
                    F.element_at(F.col("toks"), i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    ranks = pagerank_fixed_point(edges, iterations=8)
    return ranks.orderBy(F.desc("rank"), "node").limit(20)


# --------------------------------------------------------------------------
# Grouped OLS regression from exact decimal sums
# --------------------------------------------------------------------------

@query(
    "q_regression_price_on_qty",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
    CAST(count(*) AS DOUBLE) AS nd,
    count(*) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,3))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,3))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,3))
           * CAST(l_quantity AS DECIMAL(12,3))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_quantity AS DECIMAL(12,3))
           * CAST(l_extendedprice AS DECIMAL(12,3))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,3))
           * CAST(l_extendedprice AS DECIMAL(12,3))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
  floor(((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * 1000000.0 + 0.5)
    / 1000000.0 AS slope,
  floor(((sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx) / nd)
    * 1000000.0 + 0.5) / 1000000.0 AS intercept,
  floor((((nd * sxy - sx * sy) * (nd * sxy - sx * sy))
    / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))) * 1000000.0 + 0.5)
    / 1000000.0 AS r2
FROM s ORDER BY l_returnflag
""",
    tags=("stats", "regression", "analytics"),
    description=(
        "Per-returnflag OLS of extendedprice on quantity (slope, "
        "intercept, R^2): the five sufficient-statistic sums are exact "
        "DECIMAL (order-independent), the closed-form solution is then "
        "identical IEEE double math in both engines."
    ),
)
def q_regression_price_on_qty(spark, sf_dir):
    """One partial-aggregated groupBy; sufficient statistics are the
    canonical distributable form of OLS (the same shape MLlib's
    summarizer uses), so the plan is a single shuffle regardless of
    data volume."""
    li = cat(spark, sf_dir).lineitem
    qd, pd_ = dec("l_quantity", 12, 3), dec("l_extendedprice", 12, 3)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
    )
    nd, sx, sy = F.col("nd"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    r2 = ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / (
        (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        portable_round(slope, 6).alias("slope"),
        portable_round((sy - slope * sx) / nd, 6).alias("intercept"),
        portable_round(r2, 6).alias("r2"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Seasonal hour-of-day profile
# --------------------------------------------------------------------------

@query(
    "q_seasonal_hourly_profile",
    oracle="""
WITH h AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
    count(*) AS n_events,
    count(value) AS n_vals,
    sum(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, hod, n_events, n_vals, sv,
    sum(n_vals) OVER (PARTITION BY event_type) AS nt,
    sum(sv) OVER (PARTITION BY event_type) AS st
  FROM h
)
SELECT event_type, hod, CAST(n_events AS BIGINT) AS n_events,
  {avg_expr} AS avg_value,
  {lift_expr} AS lift
FROM t ORDER BY event_type, hod
""".format(
        avg_expr=duck_pround("CAST(sv AS DOUBLE) / n_vals", 4),
        lift_expr=duck_pround(
            "(CAST(sv AS DOUBLE) / n_vals) / (CAST(st AS DOUBLE) / nt)", 6
        ),
    ),
    tags=("events", "timeseries", "seasonal"),
    description=(
        "Hour-of-day seasonal profile per event type: mean value per "
        "(type, hour) and its lift against the type's overall mean -- "
        "the additive-baseline step of a seasonal decomposition."
    ),
)
def q_seasonal_hourly_profile(spark, sf_dir):
    """One groupBy to 24*n_types rows, then the per-type totals come
    from a window over that tiny aggregate (not a second scan)."""
    ev = cat(spark, sf_dir).events
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_vals"),
        F.sum(dec("value")).alias("sv"),
    )
    w = Window.partitionBy("event_type")
    t = h.withColumn("nt", F.sum("n_vals").over(w)).withColumn(
        "st", F.sum("sv").over(w)
    )
    avg_h = F.col("sv").cast("double") / F.col("n_vals")
    avg_t = F.col("st").cast("double") / F.col("nt")
    return t.select(
        "event_type",
        "hod",
        F.col("n_events").cast("bigint").alias("n_events"),
        portable_round(avg_h, 4).alias("avg_value"),
        portable_round(avg_h / avg_t, 6).alias("lift"),
    ).orderBy("event_type", "hod")


# --------------------------------------------------------------------------
# CUSUM changepoint scan (pure integer arithmetic)
# --------------------------------------------------------------------------

@query(
    "q_cusum_changepoints",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY 1, 2
),
c0 AS (
  SELECT event_type, hour_ts, n,
    count(*) OVER (PARTITION BY event_type) AS t_hours,
    sum(n) OVER (PARTITION BY event_type) AS total
  FROM h
),
c AS (
  SELECT event_type, hour_ts, n, t_hours,
    sum(n * t_hours - total)
      OVER (PARTITION BY event_type ORDER BY hour_ts
            ROWS UNBOUNDED PRECEDING) AS cusum
  FROM c0
),
r AS (
  SELECT event_type, hour_ts, cusum, t_hours,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY abs(cusum) DESC, hour_ts) AS rn
  FROM c
)
SELECT event_type,
  strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS change_hour,
  CAST(cusum AS BIGINT) AS peak_cusum,
  CAST(t_hours AS BIGINT) AS n_hours
FROM r WHERE rn = 1 ORDER BY event_type
""",
    tags=("events", "timeseries", "changepoint", "stats"),
    description=(
        "CUSUM changepoint scan on hourly event counts: cumulative sum "
        "of scaled deviations (n*T - total, all-integer so exactly "
        "portable), reporting the hour of peak |CUSUM| per event type."
    ),
)
def q_cusum_changepoints(spark, sf_dir):
    """GroupBy to hourly counts, then per-type windows over the small
    aggregate.  The deviation is scaled by T (hours) instead of
    subtracting a fractional mean, keeping every intermediate a BIGINT
    -- reproducible on any engine, any partitioning."""
    ev = cat(spark, sf_dir).events
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("event_type")
    wc = wp.orderBy("hour_ts").rowsBetween(Window.unboundedPreceding, 0)
    c = (
        h.withColumn("t_hours", F.count(F.lit(1)).over(wp))
        .withColumn("total", F.sum("n").over(wp))
        .withColumn(
            "cusum", F.sum(F.col("n") * F.col("t_hours") - F.col("total")).over(wc)
        )
    )
    rn = F.row_number().over(wp.orderBy(F.abs(F.col("cusum")).desc(), "hour_ts"))
    return (
        c.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("change_hour"),
            F.col("cusum").cast("bigint").alias("peak_cusum"),
            F.col("t_hours").cast("bigint").alias("n_hours"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# BPE merge candidates (first merge iteration of byte-pair encoding)
# --------------------------------------------------------------------------

@query(
    "q_bpe_pair_merges",
    oracle=f"""
WITH tf AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest({duck_tokens('text')}) AS tok FROM documents)
  GROUP BY tok
),
p AS (
  SELECT substr(tok, i.i, 2) AS pair, c
  FROM tf, LATERAL (
    SELECT unnest(generate_series(1, length(tok) - 1)) AS i) i
  WHERE length(tok) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30
""",
    tags=("text", "tokenizer", "ring-c"),
    description=(
        "BPE tokenizer construction, first merge iteration: corpus-"
        "weighted adjacent character-pair frequencies (count token "
        "types first, then expand pairs weighted by frequency -- the "
        "classic BPE training optimization)."
    ),
)
def q_bpe_pair_merges(spark, sf_dir):
    """Counting token TYPES first collapses the corpus to its
    vocabulary before the character-level explode -- at 100 TB the
    pair expansion runs over ~1e7 vocab rows instead of ~1e12 token
    occurrences.  Two shuffles (token count, pair count), both
    map-side combined."""
    docs = cat(spark, sf_dir).documents
    tf = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("tok") >= 2)
    )
    # substr with a Column start position: expression form (F.substring
    # takes literal positions only).
    pairs = tf.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))")
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Equi-depth histogram via partitioned ntile
# --------------------------------------------------------------------------

@query(
    "q_equidepth_price_buckets",
    oracle="""
WITH b AS (
  SELECT o_orderpriority, o_totalprice,
    ntile(4) OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT o_orderpriority, bucket,
  CAST(count(*) AS BIGINT) AS n,
  min(o_totalprice) AS lo,
  max(o_totalprice) AS hi,
  {avg_expr} AS avg_price
FROM b GROUP BY o_orderpriority, bucket
ORDER BY o_orderpriority, bucket
""".format(
        avg_expr=duck_pround(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 4
        )
    ),
    tags=("stats", "histogram", "analytics"),
    description=(
        "Equi-depth (quantile-bucketed) price histogram per order "
        "priority: ntile(4) over a tie-broken total order, then "
        "per-bucket count/min/max/mean."
    ),
)
def q_equidepth_price_buckets(spark, sf_dir):
    """ntile is partitioned by priority so each sort is per-key, not
    global.  For a truly global equi-depth histogram at 100 TB use
    percentile cutpoints (cf. q_winsorized_price_stats) instead of a
    single-partition window -- this query demonstrates the exact
    windowed form on keyed data."""
    orders = cat(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    b = orders.withColumn("bucket", F.ntile(4).over(w))
    return (
        b.groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            portable_round(
                F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_price"),
        )
        .orderBy("o_orderpriority", "bucket")
    )


# --------------------------------------------------------------------------
# Weighted median via pandas GROUPED_AGG UDAF
# --------------------------------------------------------------------------

def _weighted_median_udaf():
    """Lower weighted median: smallest price whose cumulative weight
    reaches half the total.  Weights here are small exact-in-double
    integers, so cumsum and the half-total comparison are exact.
    (Built lazily: pandas_udf type parsing needs an active session.)"""

    @pandas_udf("double")
    def _weighted_median(price: pd.Series, weight: pd.Series) -> float:
        d = pd.DataFrame({"p": price, "w": weight}).sort_values(
            "p", kind="mergesort"
        )
        cw = d["w"].cumsum()
        half = d["w"].sum() / 2.0
        return float(d["p"][cw >= half].iloc[0])

    return _weighted_median


@query(
    "q_weighted_median_price",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_extendedprice AS p,
    sum(l_quantity) OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice
                          ROWS UNBOUNDED PRECEDING) AS cw,
    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag, min(p) AS wmedian_price
FROM c WHERE cw >= tot / 2.0
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("stats", "udaf", "pandas-udf"),
    description=(
        "Quantity-weighted median of extendedprice per returnflag via a "
        "pandas GROUPED_AGG UDAF (Arrow-batched), oracle = the "
        "cumulative-weight window formulation.  Both implement the "
        "lower weighted median, so the result is an exact data value."
    ),
)
def q_weighted_median_price(spark, sf_dir):
    """UDAF-surface evidence (the one declared Ring B surface with no
    driver row until now).  Exact per-group medians require the whole
    group -- fine for few large groups with Arrow transfer; at true
    100 TB group sizes switch to approx_percentile or a distributed
    selection.  The docstring IS the scale contract; the UDAF is the
    exact-path twin."""
    li = cat(spark, sf_dir).lineitem
    wm = _weighted_median_udaf()
    return (
        li.groupBy("l_returnflag")
        .agg(wm("l_extendedprice", "l_quantity").alias("wmedian_price"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# N-gram novelty: how much NEW text each document adds to the corpus
# --------------------------------------------------------------------------

@query(
    "q_ngram_novelty",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
g AS (
  SELECT doc_id, unnest(list_distinct({duck_word_ngrams('toks', 4)})) AS gram
  FROM t
),
first_seen AS (
  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
),
m AS (
  SELECT g.doc_id,
    count(*) AS n_grams,
    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN first_seen f ON g.gram = f.gram
  GROUP BY g.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_novel AS BIGINT) AS n_novel,
  {{novelty}} AS novelty
FROM m ORDER BY doc_id
""".format(novelty=duck_pround("CAST(n_novel AS DOUBLE) / n_grams", 6)),
    tags=("text", "dedup", "ring-c", "curation"),
    description=(
        "Corpus novelty score: fraction of each document's distinct "
        "4-gram shingles whose FIRST occurrence (min doc_id = crawl "
        "order) is this document -- the 'how much new text does each "
        "snapshot add' statistic behind incremental crawl curation."
    ),
)
def q_ngram_novelty(spark, sf_dir):
    """One shuffle on the gram (min-aggregate), one join back keyed the
    same way, one doc_id rollup.  At 100 TB the gram key becomes
    xxhash64(gram) and first-seen is maintained incrementally (same
    contract as q_incremental_ingest_dedup)."""
    from ..functions.text import word_ngrams_from_tokens

    docs = cat(spark, sf_dir).documents
    # Two-step materialize-tokens + explode_outer, NOT an inline
    # explode: the inline form lets CollapseProject inline the
    # tokenizer into every element_at of the n-gram lambda and
    # InferFiltersFromGenerate re-inline it once more under the
    # Generate -- measured 27.9s -> 0.5s at sf0.1 (same trap documented
    # at llm/dedup._exploded_shingles).
    tk = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("__tk"))
    gr = tk.select(
        "doc_id",
        F.array_distinct(word_ngrams_from_tokens(F.col("__tk"), 4)).alias("__g"),
    )
    g = gr.select("doc_id", F.explode_outer("__g").alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    # min-over-window, not agg+join-back: ONE gram construction pass,
    # one shuffle on gram, and no corpus-sized broadcast (the join-back
    # form built the explode subtree twice and broadcast 210k first-seen
    # rows -- neither survives 100 TB).
    first_doc = F.min("doc_id").over(Window.partitionBy("gram"))
    m = (
        g.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias(
                "n_novel"
            ),
        )
    )
    return m.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_novel").cast("bigint").alias("n_novel"),
        portable_round(F.col("n_novel").cast("double") / F.col("n_grams"), 6).alias(
            "novelty"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine retrieval via inverted-index join, fixed-point
# --------------------------------------------------------------------------

_TFIDF_W = (
    "CAST(floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000.0 + 0.5)"
    " AS BIGINT)"
)


@query(
    "q_sparse_tfidf_topk",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM documents
),
tfc AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2
),
dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM tk),
w AS (
  SELECT doc_id, tfc.term AS term, {_TFIDF_W} AS w
  FROM tfc JOIN dfc ON tfc.term = dfc.term, n
),
norms AS (SELECT doc_id, sum(w * w) AS nn FROM w GROUP BY doc_id),
qp AS (SELECT * FROM w WHERE doc_id % 199 = 0),
dots AS (
  SELECT qp.doc_id AS q_doc, c.doc_id AS c_doc, sum(qp.w * c.w) AS dot
  FROM qp JOIN w c ON qp.term = c.term AND qp.doc_id != c.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT q_doc, c_doc,
    {{cos}} AS cosine
  FROM dots
  JOIN norms nq ON nq.doc_id = q_doc
  JOIN norms nc ON nc.doc_id = c_doc
)
SELECT q_doc, c_doc, cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT q_doc, c_doc, cosine,
    row_number() OVER (PARTITION BY q_doc
                       ORDER BY cosine DESC, c_doc) AS rnk
  FROM scored
) WHERE rnk <= 5 ORDER BY q_doc, rnk
""".format(
        cos=duck_pround(
            "CAST(dot AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE))"
            " * sqrt(CAST(nc.nn AS DOUBLE)))",
            6,
        )
    ),
    tags=("text", "similarity", "ring-c", "tfidf"),
    description=(
        "Sparse lexical similarity search: TF-IDF weights quantized to "
        "fixed-point BIGINT so the inverted-index dot products are "
        "exact integer sums (order-independent across engines and "
        "partitionings); cosine from the integer dots/norms, top-5 "
        "neighbors per sampled query doc."
    ),
)
def q_sparse_tfidf_topk(spark, sf_dir):
    """The classic sparse-similarity join: postings shuffled once on
    term, the query side is a tiny filtered subset of the same
    postings, candidate volume is bounded by shared-term postings (a
    df-cutoff bounds it further on power-law vocabularies).  The
    fixed-point trick is the same determinism contract as the
    PageRank operator: floats only at the final cosine."""
    from pyspark.sql import Window

    docs = cat(spark, sf_dir).documents
    tk = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    tfc = (
        tk.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tk.agg(F.count(F.lit(1)).alias("n_docs"))
    # Persist the weighted postings: four downstream branches (norms,
    # query side, corpus side of the dot join) would otherwise each
    # recompute the tokenize+count+join subtree from the raw scan (24
    # scans, zero ReusedExchange).  One materialization, read four
    # times -- the same sanctioned pattern as the SRP bucket relation.
    w = (
        tfc.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr(_TFIDF_W).alias("w"),
        )
        .transform(pin)
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nn"))
    qp = w.filter(F.col("doc_id") % 199 == 0).select(
        F.col("doc_id").alias("q_doc"), "term", F.col("w").alias("qw")
    )
    dots = (
        qp.join(w, "term")
        .filter(F.col("q_doc") != F.col("doc_id"))
        .groupBy("q_doc", F.col("doc_id").alias("c_doc"))
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    scored = (
        dots.join(
            norms.select(F.col("doc_id").alias("q_doc"), F.col("nn").alias("qnn")),
            "q_doc",
        )
        .join(
            norms.select(F.col("doc_id").alias("c_doc"), F.col("nn").alias("cnn")),
            "c_doc",
        )
        .select(
            "q_doc",
            "c_doc",
            portable_round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qnn").cast("double"))
                    * F.sqrt(F.col("cnn").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("q_doc").orderBy(F.desc("cosine"), "c_doc")
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 5)
        .select("q_doc", "c_doc", "cosine", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("q_doc", "rnk")
    )


# --------------------------------------------------------------------------
# Triangle counting + local clustering coefficient
# --------------------------------------------------------------------------

_UND_CTE = f"""
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y FROM (
    SELECT toks[i.i] AS a, toks[i.i + 1] AS b
    FROM (SELECT {duck_tokens('text')} AS toks FROM documents) t,
    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
  ) WHERE a != b
"""


@query(
    "q_triangle_clustering",
    oracle=f"""
WITH und AS ({_UND_CTE}),
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM und e1
  JOIN und e2 ON e2.x = e1.y
  JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y
),
pernode AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT x AS node FROM und UNION ALL SELECT y FROM und
  ) GROUP BY node
)
SELECT d.node AS node, CAST(d.degree AS BIGINT) AS degree,
  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
  {{cc}} AS clustering
FROM deg d LEFT JOIN pernode p ON d.node = p.node
WHERE d.degree >= 2
ORDER BY triangles DESC, d.node LIMIT 20
""".format(
        cc=duck_pround(
            "2.0 * coalesce(p.triangles, 0)"
            " / (CAST(d.degree AS DOUBLE) * (d.degree - 1))",
            6,
        )
    ),
    tags=("graph", "ring-c", "stats"),
    description=(
        "Triangle counting with local clustering coefficient over the "
        "token co-occurrence graph: canonical a<b edges joined twice "
        "(each triangle materializes exactly once as a<b<c), "
        "per-node participation, cc = 2T/(deg*(deg-1))."
    ),
)
def q_triangle_clustering(spark, sf_dir):
    """The two self-joins shuffle on single node keys; at real graph
    scale the standard refinement is degree-ordering the orientation
    (x = lower-degree endpoint) so high-degree hubs never fan out --
    same output, bounded skew.  Kept lexicographic here to stay
    bit-identical with the SQL twin; the degree-oriented variant is a
    one-line change to the canonicalization."""
    docs = cat(spark, sf_dir).documents
    toks = docs.select(tokens(F.lower(F.col("text"))).alias("toks"))
    raw = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("a"),
                    F.element_at(F.col("toks"), i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(F.col("a") != F.col("b"))
    und = raw.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).distinct()
    e1 = und.select(F.col("x").alias("a"), F.col("y").alias("b"))
    e2 = und.select(F.col("x").alias("b"), F.col("y").alias("c"))
    e3 = und.select(F.col("x").alias("a"), F.col("y").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        und.select(F.col("x").alias("node"))
        .unionAll(und.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    j = deg.join(pernode, "node", "left").filter(F.col("degree") >= 2)
    t = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        j.select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            t.cast("bigint").alias("triangles"),
            portable_round(
                F.lit(2.0) * t
                / (F.col("degree").cast("double") * (F.col("degree") - 1)),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.desc("triangles"), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# --------------------------------------------------------------------------

_KCORE_K, _KCORE_ROUNDS = 65, 6

# Co-purchase graph: parts appearing in the same order.  (The token
# co-occurrence graph above is near-complete on this fixture, which
# makes its k-core all-or-nothing; the basket graph has real degree
# spread, so the peeling genuinely cascades -- 198 -> 188 nodes over
# three rounds at sf0.001.)
_COPURCHASE_CTE = """
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
    greatest(a.l_partkey, b.l_partkey) AS y
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _duck_kcore_sql(k: int, rounds: int) -> str:
    """Generated unrolled twin of the peeling loop (the PageRank /
    k-center / Lloyd generator pattern).  AS MATERIALIZED: each e_i is
    referenced twice by round i+1 (degree + both-endpoint filter), so
    plain CTE inlining would double the plan per round."""
    parts = [f"e0 AS MATERIALIZED ({_COPURCHASE_CTE})"]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM ("
            f"SELECT x AS node FROM e{i - 1}"
            f" UNION ALL SELECT y FROM e{i - 1}) GROUP BY node)"
        )
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT e.x, e.y FROM e{i - 1} e"
            f" JOIN k{i} ka ON ka.node = e.x"
            f" JOIN k{i} kb ON kb.node = e.y)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
  SELECT x AS node FROM e{rounds} UNION ALL SELECT y FROM e{rounds}
) GROUP BY node
HAVING count(*) >= {k}
ORDER BY core_degree DESC, node"""
    )


@query(
    "q_kcore_copurchase",
    oracle=_duck_kcore_sql(_KCORE_K, _KCORE_ROUNDS),
    tags=("graph", "ring-c", "iterative", "kcore"),
    description=(
        f"k-core decomposition (k={_KCORE_K}) of the part co-purchase "
        "graph (parts sharing an order) by iterative peeling: each "
        "round drops every node of degree < k and the edges touching "
        f"it, {_KCORE_ROUNDS} unrolled rounds (a fixpoint is "
        "idempotent, so extra rounds are no-ops and the fixed "
        "unrolling stays deterministic; the cascade genuinely runs -- "
        "198 -> 188 nodes over three rounds at sf0.001).  Output: "
        "surviving nodes with their in-core degree -- the dense-"
        "subgraph extractor used for community seeds and spam-cluster "
        "mining."
    ),
)
def q_kcore_copurchase(spark, sf_dir):
    """Edge build: lineitem self-join on the order key (one shuffle,
    spread across the parallelism when the scan is under-partitioned).
    Each peeling round is one shuffle on the node key (degree count)
    plus two SHUFFLE-HASH semi-join filters of the edge list (see the
    inline comment).  :func:`operators.fixpoint.iterate` cuts lineage
    every round -- edges is consumed twice next round (degree rollup +
    semi-join chain) -- and the edge count is the fingerprint: peeling
    only removes edges, so an unchanged count is an unchanged edge set
    and the remaining rounds are the identity (value-identical to the
    oracle's full unrolling).  Round 0 is cut on DISK (the
    unthresholded pair list is corpus-scaled under densification, the
    BFS DISK_ONLY rationale); later rounds hold the k-shrunk list and
    keep the memory default.  At 100 TB the peeling loop runs the same
    per-round plan until that fixpoint."""
    li = spread_input(
        cat(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("x"), F.col("pb").alias("y"))
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )

    def step(edges: DataFrame, _: int) -> DataFrame:
        deg = (
            edges.select(F.col("x").alias("node"))
            .unionAll(edges.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        # shuffle_hash kept on the three-scale A/B (PROBES_r11.json,
        # OPTIMIZATION_r11.md; ``scripts/ab.py --leg base --leg nohint``
        # re-runs it): AQE's own choice read 0.6-0.8 s faster at sf0.1
        # and a wash at sf10, but cost +17% at sf100 (161.0 vs 137.3 s).
        # keep derives from a corpus-scaled rollup, so it may never be
        # FORCED to broadcast; the hint bounds the SHJ build by the node
        # set.
        return (
            edges.join(
                keep.withColumnRenamed("node", "x").hint("shuffle_hash"),
                "x",
                "left_semi",
            )
            .join(
                keep.withColumnRenamed("node", "y").hint("shuffle_hash"),
                "y",
                "left_semi",
            )
            .select("x", "y")
        )

    edges, _ = iterate(
        edges, step, _KCORE_ROUNDS, fingerprint=F.count(F.lit(1))
    )
    return (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .filter(F.col("core_degree") >= _KCORE_K)
        .orderBy(F.desc("core_degree"), "node")
    )


# --------------------------------------------------------------------------
# Benford first-digit test on order prices
# --------------------------------------------------------------------------

def _first_digit_sql(div_op: str) -> str:
    """First decimal digit of integer cents via a fixed CASE chain of
    integer divisions (no log10/string formatting -- both engines run
    the identical integer ops).  ``div_op``: '//' (DuckDB) or 'div'
    (Spark SQL)."""
    branches = [
        f"WHEN cents >= {10**k} THEN cents {div_op} {10**k}"
        for k in range(10, 0, -1)
    ]
    return "CASE " + " ".join(branches) + " ELSE cents END"


# log10(1 + 1/d): one shared literal per digit, embedded in BOTH query
# texts so each engine parses the identical decimal string.
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124",
    3: "0.12493873660829992", 4: "0.09691001300805642",
    5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def _benford_p_case() -> str:
    whens = " ".join(
        f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
    )
    return f"CASE digit {whens} END"


@query(
    "q_benford_price_digits",
    oracle=f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
),
d AS (
  SELECT {_first_digit_sql('//')} AS digit FROM c
),
o AS (
  SELECT digit, count(*) AS observed FROM d GROUP BY digit
),
t AS (
  SELECT digit, observed, sum(observed) OVER () AS n FROM o
)
SELECT CAST(digit AS INT) AS digit, CAST(observed AS BIGINT) AS observed,
  {{exp}} AS expected,
  {{contrib}} AS chi2_term
FROM (
  SELECT digit, observed, n,
    CAST(n AS DOUBLE) * ({_benford_p_case()}) AS e
  FROM t
)
ORDER BY digit
""".format(
        exp=duck_pround("e", 4),
        contrib=duck_pround("(observed - e) * (observed - e) / e", 6),
    ),
    tags=("quality", "stats", "benford"),
    description=(
        "Benford's-law first-digit audit of order prices: digit "
        "extracted by a fixed integer-division CASE chain (no "
        "log/string formatting), observed vs expected counts and the "
        "per-digit chi-square contribution."
    ),
)
def q_benford_price_digits(spark, sf_dir):
    """One conditional projection + a 9-group aggregate + a window over
    9 rows: effectively a single-shuffle audit any fact table can
    afford at any scale."""
    orders = cat(spark, sf_dir).orders
    c = orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents")
    )
    d = c.select(F.expr(_first_digit_sql("div")).alias("digit"))
    o = d.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    t = o.withColumn("n", F.sum("observed").over(Window.partitionBy()))
    e = F.col("n").cast("double") * F.expr(_benford_p_case())
    return (
        t.withColumn("e", e)
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.col("observed").cast("bigint").alias("observed"),
            portable_round(F.col("e"), 4).alias("expected"),
            portable_round(
                (F.col("observed") - F.col("e"))
                * (F.col("observed") - F.col("e"))
                / F.col("e"),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Welch's t-test from one-pass conditional decimal sums
# --------------------------------------------------------------------------

@query(
    "q_ttest_purchase_view",
    oracle="""
WITH s AS (
  SELECT
    count(CASE WHEN event_type = 'purchase' THEN value END) AS n1,
    CAST(sum(CASE WHEN event_type = 'purchase'
        THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS s1,
    CAST(sum(CASE WHEN event_type = 'purchase'
        THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
        END) AS DOUBLE) AS q1,
    count(CASE WHEN event_type = 'view' THEN value END) AS n2,
    CAST(sum(CASE WHEN event_type = 'view'
        THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS s2,
    CAST(sum(CASE WHEN event_type = 'view'
        THEN CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
        END) AS DOUBLE) AS q2
  FROM events
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  {m1} AS mean_purchase,
  {m2} AS mean_view,
  {t} AS t_stat
FROM s
""".format(
        m1=duck_pround("s1 / n1", 4),
        m2=duck_pround("s2 / n2", 4),
        t=duck_pround(
            "(s1 / n1 - s2 / n2) / sqrt("
            "((q1 - s1 * s1 / n1) / (n1 - 1)) / n1"
            " + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2)",
            6,
        ),
    ),
    tags=("stats", "hypothesis-test", "analytics"),
    description=(
        "Welch's two-sample t-test (purchase vs view event values) "
        "from a single conditional-aggregation pass: exact decimal "
        "sufficient statistics, then a fixed-structure double "
        "expression both engines evaluate identically."
    ),
)
def q_ttest_purchase_view(spark, sf_dir):
    """One scan, one 1-row aggregate -- the canonical distributable
    hypothesis test (sufficient statistics merge associatively, so the
    same query runs as a streaming snapshot test too)."""
    ev = cat(spark, sf_dir).events
    v = dec("value")
    pur = F.col("event_type") == "purchase"
    vie = F.col("event_type") == "view"
    s = ev.agg(
        F.count(F.when(pur, F.col("value"))).alias("n1"),
        F.sum(F.when(pur, v)).cast("double").alias("s1"),
        F.sum(F.when(pur, v * v)).cast("double").alias("q1"),
        F.count(F.when(vie, F.col("value"))).alias("n2"),
        F.sum(F.when(vie, v)).cast("double").alias("s2"),
        F.sum(F.when(vie, v * v)).cast("double").alias("q2"),
    )
    n1, s1, q1 = F.col("n1"), F.col("s1"), F.col("q1")
    n2, s2, q2 = F.col("n2"), F.col("s2"), F.col("q2")
    m1, m2 = s1 / n1, s2 / n2
    var1 = (q1 - s1 * s1 / n1) / (n1 - 1)
    var2 = (q2 - s2 * s2 / n2) / (n2 - 1)
    return s.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        portable_round(m1, 4).alias("mean_purchase"),
        portable_round(m2, 4).alias("mean_view"),
        portable_round((m1 - m2) / F.sqrt(var1 / n1 + var2 / n2), 6).alias(
            "t_stat"
        ),
    )


# --------------------------------------------------------------------------
# k-center greedy coreset (diversity sampling over embeddings)
# --------------------------------------------------------------------------

from ..operators.coreset import duck_k_center_sql, k_center_greedy  # noqa: E402


@query(
    "q_kcenter_coreset",
    oracle=duck_k_center_sql(k=8),
    tags=("similarity", "ring-c", "coreset", "iterative"),
    description=(
        "k-center greedy (farthest-point) coreset of 8 exemplars over "
        "the embedding table: min-id seed, then repeatedly the vector "
        "farthest (squared L2) from the selected set.  Same fixed-"
        "structure dot products as the ANN stack, so the unrolled SQL "
        "twin reproduces the greedy selection exactly."
    ),
)
def q_kcenter_coreset(spark, sf_dir):
    """Each step: one scan computing least(d_prev, dist2-to-new-center)
    + TakeOrdered(1); only the single selected row reaches the driver
    (the Bloom-build bounded-collect pattern).  See operators/coreset.py
    for the k>>8 sampled variant note."""
    emb = cat(spark, sf_dir).embeddings
    out = k_center_greedy(emb, k=8)
    return out.select(
        "step", "id", portable_round(F.col("dist"), 6).alias("dist")
    ).orderBy("step")


@query(
    "q_kcenter_coreset_sampled",
    oracle=duck_k_center_sql(k=8, sample_rate=0.25),
    tags=("similarity", "ring-c", "coreset", "iterative", "sampling"),
    description=(
        "Sampled k-center greedy (the scale path for k in the "
        "thousands): each step's argmax considers only a deterministic "
        "per-step md5 hash-gate subsample (rate 0.25) of the remaining "
        "candidates, with full-set fallback when a subsample is empty; "
        "distances stay exact over all points.  Same per-step plan as "
        "the exact variant -- scan + TakeOrdered(1) -- with the "
        "candidate side cut by the rate.  rate=1.0 reproduces the "
        "exact variant bit-for-bit (differential test)."
    ),
)
def q_kcenter_coreset_sampled(spark, sf_dir):
    """Per-step subsample membership is CONTENT-hashed (md5 of id with
    a per-step salt), so selection is repartition-stable and the
    unrolled SQL twin mirrors it with the identical gate expression in
    its ORDER BY."""
    emb = cat(spark, sf_dir).embeddings
    out = k_center_greedy(emb, k=8, sample_rate=0.25)
    return out.select(
        "step", "id", portable_round(F.col("dist"), 6).alias("dist")
    ).orderBy("step")


# --------------------------------------------------------------------------
# Entity resolution: fuzzy blocking + pairwise scoring + transitive closure
# --------------------------------------------------------------------------

@query(
    "q_entity_resolution_parts",
    oracle="""
WITH RECURSIVE norm AS (
  SELECT p_partkey, array_to_string(list_filter(
    string_split_regex(lower(p_name), ' +'), t -> t != ''), ' ') AS s
  FROM part
),
grams AS (
  SELECT p_partkey, substr(s, 1, 1) AS blk,
    len(list_distinct(CASE WHEN length(s) >= 3 THEN
      list_transform(generate_series(1, length(s) - 2), i -> substr(s, i, 3))
      ELSE [s] END)) AS n_g,
    unnest(list_distinct(CASE WHEN length(s) >= 3 THEN
      list_transform(generate_series(1, length(s) - 2), i -> substr(s, i, 3))
      ELSE [s] END)) AS gram
  FROM norm WHERE length(s) > 0
),
pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.n_g AS n_a, b.n_g AS n_b,
    count(*) AS n_common
  FROM grams a JOIN grams b
    ON a.gram = b.gram AND a.blk = b.blk AND a.p_partkey < b.p_partkey
  GROUP BY 1, 2, 3, 4
),
edges0 AS (
  SELECT id_a, id_b FROM pairs
  WHERE round(n_common / (n_a + n_b - n_common), 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION
  SELECT id_b AS src, id_a AS dst FROM edges0
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk(node, root) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (
  SELECT node AS p_partkey, min(root) AS entity_id
  FROM walk GROUP BY node
)
SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
  min(n.s) AS canonical_name
FROM comp JOIN norm n USING (p_partkey)
GROUP BY entity_id
HAVING count(*) >= 2
ORDER BY n_records DESC, entity_id
""",
    tags=("entity-resolution", "ring-c", "graph", "fuzzy"),
    description=(
        "End-to-end entity resolution over part names: char-3-gram "
        "Jaccard >= 0.5 with first-character blocking (the "
        "q_fuzzy_part_name_pairs matcher), transitive closure via "
        "min-label connected components, then an entity rollup "
        "(size + lexicographically-min canonical name)."
    ),
)
def q_entity_resolution_parts(spark, sf_dir):
    """Exact-first ER -- THE load-bearing optimization: collapse exact
    duplicates to one representative per distinct normalized string
    BEFORE any fuzzy comparison (here 20k parts -> 64 strings at
    sf0.1), run the gram join and the CC closure on representatives
    only, then expand counts back.  The record-level form (run the
    q_fuzzy_part_name_pairs matcher on raw rows) is semantically
    identical -- Jaccard depends only on the normalized string -- but
    materializes ~25M candidate pairs at sf0.1 (63s vs ~2s); on dirty
    real-world data exact-dup groups are exactly what explode.  The
    representative node id is each group's min partkey, so the CC
    min-label IS the min partkey of the whole entity and the rollup
    hash-matches the naive record-level oracle."""
    from ..functions import text as T
    from ..llm.dedup import connected_components

    norm = (
        cat(spark, sf_dir)
        .part.select(
            F.col("p_partkey"),
            F.concat_ws(" ", T.tokens(F.lower(F.col("p_name")))).alias("s"),
        )
        .filter(F.length("s") > 0)
    )
    reps = norm.groupBy("s").agg(
        F.min("p_partkey").alias("rep_id"), F.count(F.lit(1)).alias("cnt")
    )
    grams3 = reps.select(
        "rep_id", F.substring("s", 1, 1).alias("blk"), T.char_ngrams(F.col("s"), 3).alias("g")
    )
    # explode_outer: see llm/dedup._exploded_shingles (generate-filter trap).
    ex = grams3.select(
        "rep_id", "blk", F.size("g").alias("n_g"), F.explode_outer("g").alias("gram")
    ).filter(F.col("gram").isNotNull())
    a, b = ex.alias("a"), ex.alias("b")
    jacc = F.round(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
    )
    edges = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.rep_id") < F.col("b.rep_id")),
        )
        .groupBy(
            F.col("a.rep_id").alias("id_a"),
            F.col("b.rep_id").alias("id_b"),
            F.col("a.n_g").alias("n_a"),
            F.col("b.n_g").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(jacc >= 0.5)
        .select("id_a", "id_b")
    )
    comp = connected_components(edges)
    labeled = reps.join(
        comp.select(F.col("node").alias("rep_id"), F.col("component")),
        "rep_id",
        "left",
    ).select(
        "s",
        "cnt",
        F.coalesce(F.col("component"), F.col("rep_id")).alias("entity_id"),
    )
    return (
        labeled.groupBy("entity_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_records"),
            F.min("s").alias("canonical_name"),
        )
        .filter(F.col("n_records") >= 2)
        .orderBy(F.desc("n_records"), "entity_id")
    )


# --------------------------------------------------------------------------
# Join-key overlap profile (pre-join diagnostic)
# --------------------------------------------------------------------------

@query(
    "q_join_key_overlap",
    oracle="""
WITH l AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
p AS (SELECT DISTINCT p_partkey AS k FROM part),
j AS (
  SELECT
    count(*) FILTER (WHERE l.k IS NOT NULL) AS n_left,
    count(*) FILTER (WHERE p.k IS NOT NULL) AS n_right,
    count(*) FILTER (WHERE l.k IS NOT NULL AND p.k IS NOT NULL) AS n_both
  FROM l FULL OUTER JOIN p ON l.k = p.k
)
SELECT CAST(n_left AS BIGINT) AS left_keys,
  CAST(n_right AS BIGINT) AS right_keys,
  CAST(n_both AS BIGINT) AS shared_keys,
  CAST(n_left - n_both AS BIGINT) AS left_only,
  CAST(n_right - n_both AS BIGINT) AS right_only,
  {jac} AS key_jaccard
FROM j
""".format(
        jac="floor((CAST(n_both AS DOUBLE) / (n_left + n_right - n_both))"
        " * 1000000.0 + 0.5) / 1000000.0"
    ),
    tags=("quality", "join", "diagnostic"),
    description=(
        "Pre-join key-overlap profile (lineitem.l_partkey vs "
        "part.p_partkey): distinct keys per side, intersection, "
        "orphans each way, key-set Jaccard -- the diagnostic that "
        "predicts join fan-out and orphan rates before the expensive "
        "join runs."
    ),
)
def q_join_key_overlap(spark, sf_dir):
    """Two distincts + one full-outer join on the key -- all partial-
    aggregated, no data columns carried.  At 100 TB this is the cheap
    sanity pass before a fact-fact join (and the exact twin of what a
    Bloom/HLL-based estimate approximates)."""
    c = cat(spark, sf_dir)
    lk = c.lineitem.select(F.col("l_partkey").alias("k")).distinct()
    pk = c.part.select(F.col("p_partkey").alias("k")).distinct()
    j = lk.withColumn("__l", F.lit(1)).join(
        pk.withColumn("__r", F.lit(1)), "k", "full_outer"
    )
    agg = j.agg(
        F.count("__l").alias("n_left"),
        F.count("__r").alias("n_right"),
        F.count(F.when(F.col("__l").isNotNull() & F.col("__r").isNotNull(), 1)).alias(
            "n_both"
        ),
    )
    nl, nr, nb = F.col("n_left"), F.col("n_right"), F.col("n_both")
    return agg.select(
        nl.cast("bigint").alias("left_keys"),
        nr.cast("bigint").alias("right_keys"),
        nb.cast("bigint").alias("shared_keys"),
        (nl - nb).cast("bigint").alias("left_only"),
        (nr - nb).cast("bigint").alias("right_only"),
        portable_round(nb.cast("double") / (nl + nr - nb), 6).alias("key_jaccard"),
    )


# --------------------------------------------------------------------------
# Top session paths (first-k event-type sequences)
# --------------------------------------------------------------------------

@query(
    "q_top_session_paths",
    oracle="""
WITH o AS (
  -- Mirror Spark's unix_timestamp() SECOND TRUNCATION exactly (the
  -- q_twap_daily_values convention): floor both epochs before
  -- differencing, so a gap whose floored-second diff is exactly 1800
  -- but whose true duration exceeds 30 min sessionizes identically.
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN floor(epoch(ts))
           - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)))
           > 1800
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_start
  FROM events
),
s AS (
  SELECT user_id, ts, event_id, event_type,
    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o
),
r AS (
  SELECT user_id, session_no, event_type,
    row_number() OVER (PARTITION BY user_id, session_no
                       ORDER BY ts, event_id) AS rn
  FROM s
),
paths AS (
  SELECT user_id, session_no,
    string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY user_id, session_no
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 10
""",
    tags=("events", "sessionization", "paths", "analytics"),
    description=(
        "Top first-3-event paths per 30-minute session: gaps-and-"
        "islands sessionization, per-session ordered path string, "
        "global top-10 path frequencies -- the entry-path analysis "
        "behind onboarding funnels."
    ),
)
def q_top_session_paths(spark, sf_dir):
    """All windows share the (user_id) partitioning (one shuffle);
    the path rollup shuffles on (user, session) and the final count on
    the tiny path key.  Ties are broken by event_id everywhere so the
    sequence -- and therefore the path string -- is total-ordered."""
    ev = cat(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    is_start = (
        lag_ts.isNull()
        | (
            F.unix_timestamp(F.col("ts").cast("timestamp"))
            - F.unix_timestamp(lag_ts.cast("timestamp"))
            > 1800
        )
    ).cast("int")
    s = ev.withColumn("is_start", is_start).withColumn(
        "session_no",
        F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    r = s.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rn") <= 3)
    paths = r.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Global equi-depth histogram via percentile cutpoints (scale-safe form)
# --------------------------------------------------------------------------

_OCTILES = [i / 8.0 for i in range(1, 8)]


@query(
    "q_equidepth_global_prices",
    oracle=f"""
WITH c AS (
  SELECT quantile_cont(o_totalprice, {_OCTILES}) AS cuts FROM orders
),
b AS (
  SELECT 1 + len(list_filter(c.cuts, x -> o.o_totalprice > x)) AS bucket,
    o.o_totalprice AS p
  FROM orders o, c
)
SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n,
  min(p) AS lo, max(p) AS hi
FROM b GROUP BY bucket ORDER BY bucket
""",
    tags=("stats", "histogram", "analytics", "scale"),
    description=(
        "GLOBAL equi-depth histogram without a global sort: octile "
        "cutpoints from one percentile aggregate (Spark percentile is "
        "bit-identical to DuckDB quantile_cont, proven by "
        "q_winsorized_price_stats), bucket = 1 + #cutpoints below the "
        "value, then a keyed count -- the 100 TB-safe twin of the "
        "windowed ntile form (q_equidepth_price_buckets)."
    ),
)
def q_equidepth_global_prices(spark, sf_dir):
    """One percentile aggregate (partial-merged, no sort of the data),
    the 7 cutpoints ride back as a 1-row broadcast, then a
    9-partition groupBy.  ntile needs a total sort + single partition
    per key; this shape needs neither."""
    orders = cat(spark, sf_dir).orders
    cuts = orders.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in _OCTILES])).alias(
            "cuts"
        )
    )
    b = orders.crossJoin(F.broadcast(cuts)).select(
        (
            F.lit(1)
            + F.size(F.filter("cuts", lambda x: F.col("o_totalprice") > x))
        ).cast("int").alias("bucket"),
        F.col("o_totalprice").alias("p"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("p").alias("lo"),
            F.max("p").alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (T5/mT5 alpha sampling)
# --------------------------------------------------------------------------

_ALPHA = 0.3


@query(
    "q_temperature_mixture",
    oracle=f"""
WITH s AS (
  SELECT source, count(*) AS n,
    CAST(floor(pow(count(*), {_ALPHA}) * 1000000000.0 + 0.5) AS BIGINT) AS vq
  FROM documents GROUP BY source
),
d AS (
  SELECT CAST(sum(vq) AS BIGINT) AS denom, CAST(sum(n) AS DOUBLE) AS total
  FROM s
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
  {{w}} AS weight,
  {{eff}} AS effective_docs
FROM s, d ORDER BY source
""".format(
        w=duck_pround("CAST(vq AS DOUBLE) / CAST(denom AS DOUBLE)", 6),
        eff=duck_pround(
            "(CAST(vq AS DOUBLE) / CAST(denom AS DOUBLE)) * total", 2
        ),
    ),
    tags=("datamix", "ring-c", "sampling"),
    description=(
        "Temperature-scaled mixture weights (T5-style alpha=0.3): "
        "per-source sampling weight proportional to n^alpha, "
        "flattening the source distribution toward uniform.  n^alpha "
        "is quantized to fixed-point (1e-9 grid) BEFORE normalizing -- "
        "pow is not correctly-rounded across libm implementations, so "
        "quantizing once makes every downstream sum/ratio start from "
        "identical integers in both engines (the sparse-TFIDF trick); "
        "the integer normalizer is also summation-order-independent, "
        "replacing the pinned-order fold this query previously needed."
    ),
)
def q_temperature_mixture(spark, sf_dir):
    """Per-source counts (one shuffle on the low-cardinality source
    key); weights derive from fixed-point-quantized n^alpha so the
    cross-engine contract is exact-integer until the final division
    (see oracle description; ADVICE r3 pow-ulp item)."""
    docs = cat(spark, sf_dir).documents
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "vq",
        F.floor(F.pow(F.col("n"), F.lit(_ALPHA)) * F.lit(1e9) + F.lit(0.5))
        .cast("bigint"),
    )
    d = s.agg(
        F.sum("vq").cast("bigint").alias("denom"),
        F.sum("n").cast("double").alias("total"),
    )
    j = s.crossJoin(F.broadcast(d))
    w = F.col("vq").cast("double") / F.col("denom").cast("double")
    return j.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        portable_round(w, 6).alias("weight"),
        portable_round(w * F.col("total"), 2).alias("effective_docs"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# ABC / Pareto analysis (cumulative-share classification)
# --------------------------------------------------------------------------

@query(
    "q_abc_pareto_parts",
    oracle="""
WITH r AS (
  SELECT l_partkey,
    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM lineitem GROUP BY l_partkey
),
w AS (
  SELECT l_partkey, rev,
    sum(rev) OVER (ORDER BY rev DESC, l_partkey
                   ROWS UNBOUNDED PRECEDING) AS cum,
    sum(rev) OVER () AS total
  FROM r
),
c AS (
  SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class,
    rev
  FROM w
)
SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
  CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
  {share} AS revenue_share
FROM c GROUP BY abc_class ORDER BY abc_class
""".format(
        share="floor((CAST(sum(rev) AS DOUBLE)"
        " / (SELECT CAST(sum(rev) AS DOUBLE) FROM r)) * 1000000.0 + 0.5)"
        " / 1000000.0"
    ),
    tags=("analytics", "pareto", "report"),
    description=(
        "ABC (Pareto) classification of parts by revenue: cumulative "
        "revenue share over the exact-decimal ranked rollup, class A = "
        "first 80%, B = next 15%, C = tail -- the 80/20 inventory "
        "report.  Cumulative sums stay DECIMAL (exact at any "
        "accumulation order); doubles appear only at the share ratio."
    ),
)
def q_abc_pareto_parts(spark, sf_dir):
    """One keyed rollup, then the cumulative revenue over the
    PART-level aggregate.  That aggregate is NOT small -- parts scale
    with SF (20M at sf100, measured 10x per decade by the r10 suspect
    check) -- so the r9 shape's global cumulative window was a single
    task holding every part.  Now: range_block on revenue (bounded
    4096 blocks by construction) + operators/ranks.blocked_running --
    in-block running sums in parallel, one global window over the
    <=4096-row carry only; the corpus total rides in as a 1-row
    broadcast instead of a global window."""
    li = cat(spark, sf_dir).lineitem
    r = li.groupBy("l_partkey").agg(F.sum(dec("l_extendedprice")).alias("rev"))
    rb = RK.range_block(r, F.col("rev"), n_blocks=4096, descending=True)
    w = RK.blocked_running(
        rb,
        "__blk",
        [F.desc("rev"), "l_partkey"],
        running_sums={"cum": "rev"},
        max_blocks=4096,
    ).crossJoin(F.broadcast(r.agg(F.sum("rev").alias("total"))))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    c = w.withColumn(
        "abc_class",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C"),
    )
    tot = c.agg(F.sum("rev").cast("double").alias("t"))
    return (
        c.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.sum("rev").cast("double").alias("__rev_d"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "n_parts",
            "revenue",
            portable_round(F.col("__rev_d") / F.col("t"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# Top-k with an OTHERS rollup (reporting shape)
# --------------------------------------------------------------------------

@query(
    "q_topk_nations_with_others",
    oracle="""
WITH r AS (
  SELECT n.n_name AS nation,
    sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev,
    count(*) AS n_orders
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
),
k AS (
  SELECT nation, rev, n_orders,
    row_number() OVER (ORDER BY rev DESC, nation) AS rnk
  FROM r
)
SELECT label, revenue, n_orders FROM (
  SELECT nation AS label,
    CAST(round(rev, 2) AS DOUBLE) AS revenue,
    CAST(n_orders AS BIGINT) AS n_orders,
    rnk AS ord
  FROM k WHERE rnk <= 5
  UNION ALL
  SELECT 'OTHERS',
    CAST(round(sum(rev), 2) AS DOUBLE),
    CAST(sum(n_orders) AS BIGINT),
    1000000
  FROM k WHERE rnk > 5
) ORDER BY ord
""",
    tags=("analytics", "report", "topk"),
    description=(
        "Top-5 nations by order revenue plus one OTHERS rollup row -- "
        "the standard dashboard shape that keeps totals reconcilable "
        "while bounding the series count.  Exact-decimal revenue, "
        "broadcast dimension joins."
    ),
)
def q_topk_nations_with_others(spark, sf_dir):
    """Dims broadcast onto the fact scan, one keyed rollup, then the
    rank/split runs over the 25-nation aggregate."""
    c = cat(spark, sf_dir)
    r = (
        # customer scales with the corpus: no broadcast hint (see
        # relational.py q05 -- the r8 never-broadcast sweep).
        c.orders.join(c.customer, c.orders.o_custkey == c.customer.c_custkey)
        .join(F.broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec("o_totalprice")).alias("rev"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    k = r.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("rev"), "nation"))
    )
    top = k.filter(F.col("rnk") <= 5).select(
        F.col("nation").alias("label"),
        F.round("rev", 2).cast("double").alias("revenue"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("rnk").alias("ord"),
    )
    rest = (
        k.filter(F.col("rnk") > 5)
        .agg(
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
            F.sum("n_orders").cast("bigint").alias("n_orders"),
        )
        .select(
            F.lit("OTHERS").alias("label"),
            "revenue",
            "n_orders",
            F.lit(1000000).alias("ord"),
        )
    )
    return top.unionByName(rest).orderBy("ord").select("label", "revenue", "n_orders")


# --------------------------------------------------------------------------
# LSH blocking-quality evaluation (pair completeness + reduction ratio)
# --------------------------------------------------------------------------

@query(
    "q_lsh_blocking_quality",
    oracle="""
WITH toks AS (
  SELECT doc_id, {tk} AS tk FROM documents
),
sh AS (
  SELECT doc_id, {shingles} AS sh FROM toks
),
sig AS (
  SELECT doc_id, sh, {sig} AS sig FROM sh WHERE len(sh) > 0
),
bands AS (
  SELECT doc_id, unnest({bandkeys}) AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh WHERE len(sh) > 0
),
truth AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
      count(*) AS n_common
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  ) WHERE round(n_common / (n_a + n_b - n_common), 6) >= 0.5
),
m AS (
  SELECT
    (SELECT count(*) FROM cand) AS n_cand,
    (SELECT count(*) FROM truth) AS n_truth,
    (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b)) AS n_hit,
    (SELECT count(*) FROM sig) AS n_docs
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_cand AS BIGINT) AS n_candidates,
  CAST(n_truth AS BIGINT) AS n_true_pairs,
  CAST(n_hit AS BIGINT) AS n_found,
  {pc} AS pair_completeness,
  {rr} AS reduction_ratio
FROM m
""".format(
        tk=duck_tokens("text"),
        shingles=duck_shingles("tk"),
        sig=_minhash_sig_sql(),
        bandkeys=_band_keys_sql(),
        pc=duck_pround("CAST(n_hit AS DOUBLE) / n_truth", 6),
        rr=duck_pround(
            "1.0 - CAST(n_cand AS DOUBLE)"
            " / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2.0)",
            6,
        ),
    ),
    tags=("dedup", "ring-c", "lsh", "evaluation"),
    description=(
        "Blocking-quality evaluation of the MinHash(9)/LSH(3-band) "
        "candidate generator against exact ground truth: pair "
        "completeness (recall of true Jaccard>=0.5 pairs) and "
        "reduction ratio (candidate volume vs all N*(N-1)/2 pairs) -- "
        "the two numbers that justify an LSH configuration before a "
        "100 TB dedup run."
    ),
)
def q_lsh_blocking_quality(spark, sf_dir):
    """Candidates come from the production LSH path; ground truth from
    the prefix-filtered exact join (result-identical to the naive
    all-pairs form, which only the oracle runs).  At 100 TB the truth
    side is computed on a hash-gated sample -- the metric generalizes,
    the full-corpus exact join does not."""
    from ..llm.dedup import minhash_lsh_candidate_pairs, ngram_jaccard_pairs_prefix

    docs = cat(spark, sf_dir).documents
    cand = minhash_lsh_candidate_pairs(docs, jaccard_threshold=None)
    truth = ngram_jaccard_pairs_prefix(docs, threshold=0.5).select("id_a", "id_b")
    counts = (
        cand.agg(F.count(F.lit(1)).alias("n_cand"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(
            cand.join(truth, ["id_a", "id_b"]).agg(
                F.count(F.lit(1)).alias("n_hit")
            )
        )
        .crossJoin(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    )
    nd = F.col("n_docs").cast("double")
    return counts.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_cand").cast("bigint").alias("n_candidates"),
        F.col("n_truth").cast("bigint").alias("n_true_pairs"),
        F.col("n_hit").cast("bigint").alias("n_found"),
        portable_round(
            F.col("n_hit").cast("double") / F.col("n_truth"), 6
        ).alias("pair_completeness"),
        portable_round(
            F.lit(1.0) - F.col("n_cand").cast("double") / (nd * (nd - 1) / 2.0),
            6,
        ).alias("reduction_ratio"),
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP) per event type and day
# --------------------------------------------------------------------------

@query(
    "q_twap_daily_values",
    oracle="""
WITH o AS (
  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value,
    lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY ts, event_id) AS nxt
  FROM events
),
w AS (
  -- floor() each endpoint BEFORE subtracting: epoch() keeps
  -- fractional seconds, while Spark's unix_timestamp truncates per
  -- timestamp -- subtracting first would round the fraction away
  -- differently on ~half the intervals.
  SELECT event_type, day,
    CAST(value AS DECIMAL(18,6))
      * CAST(floor(epoch(nxt)) - floor(epoch(ts)) AS BIGINT) AS vdt,
    CAST(floor(epoch(nxt)) - floor(epoch(ts)) AS BIGINT) AS dt
  FROM o WHERE nxt IS NOT NULL
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
  CAST(count(*) AS BIGINT) AS n_intervals,
  CAST(sum(dt) AS BIGINT) AS covered_sec,
  {twap} AS twap
FROM w GROUP BY event_type, day
ORDER BY event_type, day
""".format(
        twap=duck_pround("CAST(sum(vdt) AS DOUBLE) / sum(dt)", 6)
    ),
    tags=("events", "timeseries", "twap"),
    description=(
        "Time-weighted average value (TWAP) per event type and day: "
        "each observation weighted by its holding interval (seconds "
        "until the next observation in the group).  value*dt products "
        "are DECIMAL x integer -- exact at any accumulation order."
    ),
)
def q_twap_daily_values(spark, sf_dir):
    """One window (lead) and one aggregate, both keyed on
    (event_type, day) -- a single shuffle shared by both stages.  The
    arithmetic-mean twin would weight a burst of ticks equally; TWAP
    is what pricing/metering pipelines actually need."""
    ev = cat(spark, sf_dir).events
    w = Window.partitionBy(
        "event_type", F.col("ts").cast("date")
    ).orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "value",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt = (
        F.unix_timestamp(F.col("nxt").cast("timestamp"))
        - F.unix_timestamp(F.col("ts").cast("timestamp"))
    ).cast("bigint")
    wdf = o.select(
        "event_type",
        "day",
        (dec("value") * dt).alias("vdt"),
        dt.alias("dt"),
    )
    return (
        wdf.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("covered_sec"),
            portable_round(
                F.sum("vdt").cast("double") / F.sum("dt"), 6
            ).alias("twap"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_intervals",
            "covered_sec",
            "twap",
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# OHLC bars (open-high-low-close) per event type and hour
# --------------------------------------------------------------------------

@query(
    "q_ohlc_hourly_values",
    oracle="""
WITH o AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, value,
    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type,
  strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
  CAST(count(*) AS BIGINT) AS n,
  min(CASE WHEN rn_a = 1 THEN value END) AS open,
  max(value) AS high,
  min(value) AS low,
  min(CASE WHEN rn_d = 1 THEN value END) AS close
FROM o GROUP BY event_type, hour_ts
ORDER BY event_type, hour_ts
""",
    tags=("events", "timeseries", "ohlc"),
    description=(
        "OHLC candle bars per (event type, hour): open/close picked by "
        "a total-ordered row_number (ties broken by event_id, so the "
        "bar is deterministic even with simultaneous events), high/low "
        "as plain min/max -- no value ever crosses a float sum."
    ),
)
def q_ohlc_hourly_values(spark, sf_dir):
    """Both row_number windows and the final aggregate share the
    (event_type, hour) keying -- one shuffle.  All outputs are data
    values (never sums), so cross-engine equality is automatic."""
    ev = cat(spark, sf_dir).events
    hour = F.date_trunc("hour", "ts")
    wa = Window.partitionBy("event_type", hour).orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", hour).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    o = ev.select(
        "event_type",
        hour.alias("hour_ts"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        o.groupBy("event_type", "hour_ts")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        )
        .select(
            "event_type",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "n",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("event_type", "hour_ts")
    )


# --------------------------------------------------------------------------
# Dedup method comparison (precision/recall of each family vs exact truth)
# --------------------------------------------------------------------------

from .textops import _simhash_sql  # noqa: E402  (fragment, see blocking eval)


@query(
    "q_dedup_method_comparison",
    oracle="""
WITH {simhash_ctes},
tks AS (
  SELECT doc_id, {tk} AS tk FROM documents
),
shg AS (
  SELECT doc_id, {shingles} AS sh FROM tks
),
exg AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle
  FROM shg WHERE len(sh) > 0
),
gpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
    count(*) AS n_common
  FROM exg a JOIN exg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
truth AS (
  SELECT id_a, id_b FROM gpairs
  WHERE round(n_common / (n_a + n_b - n_common), 6) >= 0.5
),
sigt AS (
  SELECT doc_id, sh, {sig} AS sig FROM shg WHERE len(sh) > 0
),
bandst AS (
  SELECT doc_id, unnest({bandkeys}) AS band_key FROM sigt
),
candm AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandst a JOIN bandst b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pmin AS (
  SELECT id_a, id_b FROM candm
  JOIN shg sa ON sa.doc_id = id_a
  JOIN shg sb ON sb.doc_id = id_b
  WHERE round(len(list_intersect(sa.sh, sb.sh)) /
        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) >= 0.5
),
psim AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
),
pcon AS (
  SELECT id_a, id_b FROM gpairs
  WHERE round(n_common / n_a, 6) >= 0.8 OR round(n_common / n_b, 6) >= 0.8
),
nt AS (SELECT count(*) AS n_truth FROM truth)
SELECT method, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(n_true AS BIGINT) AS n_true_overlap,
  CAST((SELECT n_truth FROM nt) AS BIGINT) AS n_truth,
  {prec} AS precision,
  {rec} AS recall
FROM (
  SELECT 'containment_0.8' AS method,
    (SELECT count(*) FROM pcon) AS n_pairs,
    (SELECT count(*) FROM pcon JOIN truth USING (id_a, id_b)) AS n_true
  UNION ALL
  SELECT 'minhash_lsh_0.5',
    (SELECT count(*) FROM pmin),
    (SELECT count(*) FROM pmin JOIN truth USING (id_a, id_b))
  UNION ALL
  SELECT 'simhash_16bit',
    (SELECT count(*) FROM psim),
    (SELECT count(*) FROM psim JOIN truth USING (id_a, id_b))
)
ORDER BY method
""".format(
        simhash_ctes=_simhash_sql(16),
        tk=duck_tokens("text"),
        shingles=duck_shingles("tk"),
        sig=_minhash_sig_sql(),
        bandkeys=_band_keys_sql(),
        prec=duck_pround("CAST(n_true AS DOUBLE) / n_pairs", 6),
        rec=duck_pround(
            "CAST(n_true AS DOUBLE) / (SELECT n_truth FROM nt)", 6
        ),
    ),
    tags=("dedup", "ring-c", "evaluation"),
    description=(
        "Side-by-side evaluation of the three text-dedup families "
        "against exact Jaccard>=0.5 ground truth: verified MinHash-LSH "
        "(should be ~exact), 16-bit SimHash buckets (near-identical "
        "bias), and undirected containment>=0.8 (asymmetric dups "
        "Jaccard misses -- its 'false positives' are the quote/subset "
        "pairs).  One row per method: pair count, overlap, precision, "
        "recall."
    ),
)
def q_dedup_method_comparison(spark, sf_dir):
    """Every pair set comes from its production (blocked/prefix-
    filtered) implementation; the naive quadratic forms exist only in
    the oracle text.  Counts are 1-row aggregates cross-joined as
    broadcast scalars."""
    from ..llm.dedup import (
        containment_pairs_prefix,
        minhash_lsh_candidate_pairs,
        ngram_jaccard_pairs_prefix,
        simhash_table,
    )

    docs = cat(spark, sf_dir).documents
    # Each pair set is consumed twice (count + truth-join) and the
    # truth set four times -- persist the four bounded relations so no
    # shingle/signature pipeline runs more than once (2.3x at sf0.1).
    truth = (
        ngram_jaccard_pairs_prefix(docs, threshold=0.5)
        .select("id_a", "id_b")
        .transform(pin)
    )
    p_min = (
        minhash_lsh_candidate_pairs(docs, jaccard_threshold=0.5)
        .select("id_a", "id_b")
        .transform(pin)
    )
    h = simhash_table(docs)
    ha = h.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("s1"))
    hb = h.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("s2"))
    p_sim = ha.join(
        hb, (F.col("s1") == F.col("s2")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b").transform(pin)
    con = containment_pairs_prefix(docs, threshold=0.8)
    p_con = con.select(
        F.least("contained_id", "container_id").alias("id_a"),
        F.greatest("contained_id", "container_id").alias("id_b"),
    ).distinct().transform(pin)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))

    def metrics(name, p):
        return (
            p.agg(F.count(F.lit(1)).alias("n_pairs"))
            .crossJoin(
                p.join(truth, ["id_a", "id_b"]).agg(
                    F.count(F.lit(1)).alias("n_true")
                )
            )
            .select(F.lit(name).alias("method"), "n_pairs", "n_true")
        )

    rows = (
        metrics("containment_0.8", p_con)
        .unionByName(metrics("minhash_lsh_0.5", p_min))
        .unionByName(metrics("simhash_16bit", p_sim))
    )
    return (
        rows.crossJoin(F.broadcast(n_truth))
        .select(
            "method",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_true").cast("bigint").alias("n_true_overlap"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            portable_round(
                F.col("n_true").cast("double") / F.col("n_pairs"), 6
            ).alias("precision"),
            portable_round(
                F.col("n_true").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
        .orderBy("method")
    )


# --------------------------------------------------------------------------
# Shipping-latency SLA percentiles per order month
# --------------------------------------------------------------------------

@query(
    "q_ship_latency_percentiles",
    oracle="""
WITH l AS (
  SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS order_month,
    CAST(datediff('day', o.o_orderdate, li.l_shipdate) AS BIGINT) AS lat_days
  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
)
SELECT order_month,
  CAST(count(*) AS BIGINT) AS n_lines,
  quantile_cont(lat_days, 0.5) AS p50_days,
  quantile_cont(lat_days, 0.9) AS p90_days,
  quantile_cont(lat_days, 0.99) AS p99_days,
  max(lat_days) AS max_days
FROM l GROUP BY order_month ORDER BY order_month
""",
    tags=("analytics", "sla", "percentiles"),
    description=(
        "Order-to-ship latency SLA report: p50/p90/p99/max days from "
        "order date to line-item ship date per order month.  Spark "
        "percentile() is bit-identical to DuckDB quantile_cont "
        "(established by q_winsorized_price_stats), and latencies are "
        "exact integer day counts."
    ),
)
def q_ship_latency_percentiles(spark, sf_dir):
    """Fact-fact join shuffled on the order key (AQE-coalesced), then
    one partial-merged percentile aggregate per month -- the exact
    form; at extreme cardinality swap percentile for approx_percentile
    with the same call shape."""
    c = cat(spark, sf_dir)
    lat = (
        c.orders.join(
            c.lineitem, c.lineitem.l_orderkey == c.orders.o_orderkey
        )
        .select(
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM"
            ).alias("order_month"),
            F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias(
                "lat_days"
            ),
        )
    )
    return (
        lat.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.percentile("lat_days", F.lit(0.5)).alias("p50_days"),
            F.percentile("lat_days", F.lit(0.9)).alias("p90_days"),
            F.percentile("lat_days", F.lit(0.99)).alias("p99_days"),
            F.max("lat_days").alias("max_days"),
        )
        .orderBy("order_month")
    )


# --------------------------------------------------------------------------
# Activity heatmap: day-of-week x hour-of-day event grid
# --------------------------------------------------------------------------

@query(
    "q_activity_heatmap",
    oracle="""
WITH g AS (
  SELECT CAST(isodow(ts) AS INTEGER) AS dow,
    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
    count(*) AS n,
    count(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
),
t AS (SELECT sum(n) AS total FROM g)
SELECT dow, hod, CAST(n AS BIGINT) AS n_events,
  CAST(n_users AS BIGINT) AS n_users,
  {share} AS traffic_share
FROM g, t ORDER BY dow, hod
""".format(
        share="floor((CAST(n AS DOUBLE) / total) * 1000000.0 + 0.5) / 1000000.0"
    ),
    tags=("events", "analytics", "heatmap"),
    description=(
        "Day-of-week x hour-of-day activity heatmap (ISO dow 1=Mon): "
        "event count, distinct users, and share of total traffic per "
        "cell -- the load-profile grid behind capacity planning."
    ),
)
def q_activity_heatmap(spark, sf_dir):
    """One groupBy to a 7x24 grid; the total rides back as a 1-row
    broadcast.  count_distinct per cell is exact here; at extreme
    cardinality the HLL twin (q_hll_sketch_rollup) is the swap-in."""
    ev = cat(spark, sf_dir).events
    g = ev.groupBy(
        F.dayofweek("ts").alias("__dow_sun1"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )
    # Spark dayofweek: 1=Sunday; ISO dow: 1=Monday ... 7=Sunday.
    iso = F.when(F.col("__dow_sun1") == 1, 7).otherwise(F.col("__dow_sun1") - 1)
    t = g.agg(F.sum("n").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            iso.cast("int").alias("dow"),
            "hod",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("n_users").cast("bigint").alias("n_users"),
            portable_round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "traffic_share"
            ),
        )
        .orderBy("dow", "hod")
    )


# --------------------------------------------------------------------------
# Gini coefficient of revenue concentration across parts
# --------------------------------------------------------------------------

@query(
    "q_revenue_gini_parts",
    oracle="""
WITH r AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM lineitem GROUP BY l_partkey
),
k AS (
  SELECT rev, row_number() OVER (ORDER BY rev, l_partkey) AS i,
    count(*) OVER () AS n
  FROM r
),
s AS (
  SELECT max(n) AS n,
    sum(CAST(i AS DECIMAL(18,0)) * rev) AS irev,
    sum(rev) AS tot
  FROM k
)
SELECT CAST(n AS BIGINT) AS n_parts,
  CAST(round(tot, 2) AS DOUBLE) AS total_revenue,
  {gini} AS gini
FROM s
""".format(
        gini="floor(((2.0 * CAST(irev AS DOUBLE))"
        " / (n * CAST(tot AS DOUBLE)) - (n + 1.0) / n) * 1000000.0 + 0.5)"
        " / 1000000.0"
    ),
    tags=("analytics", "stats", "concentration"),
    description=(
        "Gini coefficient of revenue concentration across parts "
        "(0 = perfectly equal, 1 = one part takes all): computed from "
        "the rank-weighted sum formula G = 2*sum(i*x_i)/(n*sum(x)) - "
        "(n+1)/n over revenues sorted ascending with a tie-broken "
        "total order.  rank x revenue products stay DECIMAL x integer "
        "-- exact at any accumulation order."
    ),
)
def q_revenue_gini_parts(spark, sf_dir):
    """The rank runs over the PART-level aggregate -- which SCALES
    with SF (the r10 suspect check measured 10x per decade), so the
    r9 global row_number window was a single task holding every part.
    Now: range_block on revenue + operators/ranks.blocked_running for
    the exact global rank (in-block row_number in parallel, global
    window over the bounded carry only); the part count rides in as a
    1-row broadcast."""
    li = cat(spark, sf_dir).lineitem
    r = li.groupBy("l_partkey").agg(F.sum(dec("l_extendedprice")).alias("rev"))
    rb = RK.range_block(r, F.col("rev"), n_blocks=4096)
    k = RK.blocked_running(
        rb,
        "__blk",
        ["rev", "l_partkey"],
        row_number_col="i",
        max_blocks=4096,
    ).crossJoin(F.broadcast(r.agg(F.count(F.lit(1)).alias("n"))))
    s = k.agg(
        F.max("n").alias("n"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("rev")).alias("irev"),
        F.sum("rev").alias("tot"),
    )
    n = F.col("n")
    gini = (F.lit(2.0) * F.col("irev").cast("double")) / (
        n * F.col("tot").cast("double")
    ) - (n + F.lit(1.0)) / n
    return s.select(
        n.cast("bigint").alias("n_parts"),
        F.round("tot", 2).cast("double").alias("total_revenue"),
        portable_round(gini, 6).alias("gini"),
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test -- the nonparametric sibling of the t-test
# --------------------------------------------------------------------------

@query(
    "q_mannwhitney_purchase_view",
    oracle="""
WITH v AS (
  SELECT value,
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS c1,
    count(CASE WHEN event_type = 'view' THEN 1 END) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
  GROUP BY value
),
r AS (
  SELECT c1, c2, c1 + c2 AS c,
    CAST(coalesce(sum(c1 + c2) OVER (ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS less
  FROM v
),
s AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
    CAST(sum(c1 * (2 * less + c + 1)) AS BIGINT) AS r1x2,
    CAST(sum(c * c * c - c) AS BIGINT) AS tie_t
  FROM r
)
SELECT n1, n2,
  CAST((r1x2 - n1 * (n1 + 1)) AS DOUBLE) / 2.0 AS u1,
  {z} AS z_stat
FROM s
""".format(
        z=duck_pround(
            "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))"
            " / (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)"
            " * ((n1 + n2 + 1) - CAST(tie_t AS DOUBLE)"
            " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))",
            6,
        )
    ),
    tags=("stats", "hypothesis-test", "nonparametric", "analytics"),
    description=(
        "Mann-Whitney U (Wilcoxon rank-sum) test of purchase vs view "
        "event values with the normal approximation and tie "
        "correction: average ranks are computed per DISTINCT value as "
        "the all-integer 2*rank_avg = 2*count_less + count_eq + 1, so "
        "every input to the final z expression is a BIGINT and the "
        "doubles are engine-identical by construction -- the "
        "nonparametric companion to q_ttest_purchase_view."
    ),
)
def q_mannwhitney_purchase_view(spark, sf_dir):
    """One shuffle compresses events to per-distinct-value counts; the
    rank cumsum runs through range_block + blocked_running (the "2
    decimals = bounded domain" assumption was REFUTED by the r10
    suspect measurement: distinct values grew 4x per decade), then a
    1-row reduce."""
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "view")
        # NULL values would rank NULLS FIRST in Spark windows but
        # NULLS LAST in the DuckDB oracle's ORDER BY; a rank-sum test
        # has no meaningful rank for NULL anyway, so drop them in both
        # engines.
        & F.col("value").isNotNull()
    )
    v = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
    )
    # The distinct-value domain GROWS with the corpus (the r10 suspect
    # check measured 4x per decade -- 2-decimal values keep minting new
    # distinct points), so the rank cumsum cannot be a global window:
    # range_block on value + blocked_running keep the only global
    # window on the bounded block carry.  ``less`` is the EXCLUSIVE
    # prefix = inclusive running sum minus the current row's count.
    rb = RK.range_block(v, F.col("value"), n_blocks=4096)
    r = RK.blocked_running(
        rb,
        "__blk",
        ["value"],
        running_sums={"inc": F.col("c1") + F.col("c2")},
        max_blocks=4096,
    ).select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        (F.col("inc") - (F.col("c1") + F.col("c2")))
        .cast("bigint")
        .alias("less"),
    )
    s = r.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("less") + F.col("c") + 1))
        .cast("bigint")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tie_t"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    two_u1 = (F.col("r1x2") - n1 * (n1 + 1)).cast("double")
    var = (n1.cast("double") * n2 / F.lit(12.0)) * (
        (n1 + n2 + 1)
        - F.col("tie_t").cast("double")
        / ((n1 + n2).cast("double") * (n1 + n2 - 1))
    )
    return s.select(
        "n1",
        "n2",
        (two_u1 / F.lit(2.0)).alias("u1"),
        portable_round(
            (two_u1 - (n1 * n2).cast("double")) / (F.lit(2.0) * F.sqrt(var)),
            6,
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Jensen-Shannon divergence between per-source token distributions
# --------------------------------------------------------------------------

@query(
    "q_js_divergence_sources",
    oracle=f"""
WITH tk AS (
  SELECT source, unnest({duck_tokens('text')}) AS w FROM documents
),
cnt AS (
  SELECT source, w, count(*) AS c FROM tk GROUP BY source, w
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
    coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb,
    a.n AS na, b.n AS nb, v.w
  FROM tot a
  JOIN tot b ON a.source < b.source
  JOIN (SELECT DISTINCT w FROM cnt) v ON true
  LEFT JOIN cnt ca ON ca.source = a.source AND ca.w = v.w
  LEFT JOIN cnt cb ON cb.source = b.source AND cb.w = v.w
  WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0
),
terms AS (
  SELECT src_a, src_b,
    CAST(floor(CASE WHEN ca > 0 THEN
      (CAST(ca AS DOUBLE) / na)
      * ln(2.0 * (CAST(ca AS DOUBLE) / na)
           / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
      ELSE 0.0 END * 1000000000.0 + 0.5) AS BIGINT) AS tp,
    CAST(floor(CASE WHEN cb > 0 THEN
      (CAST(cb AS DOUBLE) / nb)
      * ln(2.0 * (CAST(cb AS DOUBLE) / nb)
           / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
      ELSE 0.0 END * 1000000000.0 + 0.5) AS BIGINT) AS tq
  FROM pairs
)
SELECT src_a, src_b,
  floor(CAST(sum(tp) + sum(tq) AS DOUBLE) / 2000000000.0 * 1000000.0 + 0.5)
    / 1000000.0 AS jsd
FROM terms GROUP BY src_a, src_b
ORDER BY jsd DESC, src_a, src_b
LIMIT 20
""",
    tags=("datamix", "stats", "divergence", "ring-c"),
    description=(
        "Pairwise Jensen-Shannon divergence between per-source unigram "
        "distributions (the data-mix drift/similarity measure): "
        "JSD = 0.5*KL(P||M) + 0.5*KL(Q||M) over the shared vocabulary, "
        "top-20 most-divergent source pairs.  Every p*ln(...) term is "
        "quantized ONCE to the 1e-9 grid (the libm convention) and "
        "accumulated as exact integers, so pair scores are "
        "order-independent cross-engine."
    ),
)
def q_js_divergence_sources(spark, sf_dir):
    """Token counts shuffle on (source, w); the pair expansion joins
    the per-source sparse vectors through the word key with the small
    per-source totals broadcast -- at real vocabulary sizes the sparse
    formulation (only words present in either side) is the point, and
    the source-pair count, not the corpus, bounds the output."""
    docs = cat(spark, sf_dir).documents
    tk = docs.select("source", tokens(F.lower("text")).alias("toks"))
    cnt = (
        tk.select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = cnt.select("w").distinct()
    a = tot.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    b = tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    grid = (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .join(vocab)
    )
    ca = cnt.select(
        F.col("source").alias("src_a"), "w", F.col("c").alias("ca")
    )
    cb = cnt.select(
        F.col("source").alias("src_b"), "w", F.col("c").alias("cb")
    )
    pairs = (
        grid.join(ca, ["src_a", "w"], "left")
        .join(cb, ["src_b", "w"], "left")
        .select(
            "src_a",
            "src_b",
            "na",
            "nb",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")

    def qterm(num, cond_col):
        return (
            F.floor(
                F.when(
                    F.col(cond_col) > 0,
                    num * F.log(F.lit(2.0) * num / (p + q)),
                ).otherwise(F.lit(0.0))
                * F.lit(1e9)
                + F.lit(0.5)
            )
        ).cast("bigint")

    terms = pairs.select(
        "src_a",
        "src_b",
        qterm(p, "ca").alias("tp"),
        qterm(q, "cb").alias("tq"),
    )
    return (
        terms.groupBy("src_a", "src_b")
        .agg(
            (
                F.floor(
                    (F.sum("tp") + F.sum("tq")).cast("double")
                    / F.lit(2e9)
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("jsd")
        )
        .orderBy(F.desc("jsd"), "src_a", "src_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample drift test (exact integer ECDFs)
# --------------------------------------------------------------------------

@query(
    "q_ks_drift_purchase_view",
    oracle="""
WITH v AS (
  SELECT value,
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS c1,
    count(CASE WHEN event_type = 'view' THEN 1 END) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
  GROUP BY value
),
c AS (
  SELECT
    CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
    CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
  FROM v
),
n AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM v
),
d AS (
  SELECT CAST(max(abs(cum1 * n.n2 - cum2 * n.n1)) AS BIGINT) AS d_num
  FROM c, n
)
SELECT n.n1, n.n2, d.d_num,
  floor(CAST(d.d_num AS DOUBLE) / (n.n1 * n.n2) * 1000000.0 + 0.5)
    / 1000000.0 AS ks_d
FROM n, d
""",
    tags=("stats", "drift", "hypothesis-test", "nonparametric"),
    description=(
        "Two-sample Kolmogorov-Smirnov statistic between the purchase "
        "and view value distributions: D = max |ECDF1 - ECDF2|, "
        "computed EXACTLY as max |cum1*n2 - cum2*n1| over the distinct "
        "value domain (one integer per step -- no float ECDFs to "
        "diverge), divided once at the end.  The distribution-drift "
        "companion to q_psi_price_drift (binned) and "
        "q_mannwhitney_purchase_view (rank-sum): same single shuffle "
        "on the bounded distinct-value domain, NULLs dropped in both "
        "engines for the same reason as the rank-sum test."
    ),
)
def q_ks_drift_purchase_view(spark, sf_dir):
    """One shuffle compresses events to per-distinct-value counts; the
    ECDF cumsums run through range_block + blocked_running (the
    distinct-value domain measured 4x growth per decade -- see
    q_mannwhitney_purchase_view), then a 1-row max."""
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    v = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
    )
    # Same scale fix as q_mannwhitney_purchase_view: the distinct-value
    # domain grows ~4x per decade (r10 suspect check), so both ECDF
    # cumsums run through range_block + blocked_running -- parallel
    # in-block sums, global window over the bounded carry only.
    rb = RK.range_block(v, F.col("value"), n_blocks=4096)
    c = RK.blocked_running(
        rb,
        "__blk",
        ["value"],
        running_sums={"rc1": "c1", "rc2": "c2"},
        max_blocks=4096,
    ).select(
        F.col("rc1").cast("bigint").alias("cum1"),
        F.col("rc2").cast("bigint").alias("cum2"),
    )
    n = v.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = c.crossJoin(F.broadcast(n)).agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
        .cast("bigint")
        .alias("d_num")
    )
    return (
        n.crossJoin(F.broadcast(d))
        .select(
            "n1",
            "n2",
            "d_num",
            (
                F.floor(
                    F.col("d_num").cast("double")
                    / (F.col("n1") * F.col("n2"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("ks_d"),
        )
    )


# --------------------------------------------------------------------------
# Chi-squared independence test (event type x day-of-week)
# --------------------------------------------------------------------------

@query(
    "q_chi2_type_by_dow",
    oracle="""
WITH o0 AS (
  SELECT event_type AS t, CAST(dayofweek(ts) AS BIGINT) AS d,
    CAST(count(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT tt.t, dd.d, CAST(COALESCE(o0.obs, 0) AS BIGINT) AS obs
  FROM (SELECT DISTINCT t FROM o0) tt
  CROSS JOIN (SELECT DISTINCT d FROM o0) dd
  LEFT JOIN o0 ON o0.t = tt.t AND o0.d = dd.d
),
m AS (
  SELECT t, d, obs,
    CAST(sum(obs) OVER (PARTITION BY t) AS BIGINT) AS row_tot,
    CAST(sum(obs) OVER (PARTITION BY d) AS BIGINT) AS col_tot,
    CAST(sum(obs) OVER () AS BIGINT) AS n
  FROM o
),
terms AS (
  SELECT n,
    CAST(floor(
      (CAST(obs * n - row_tot * col_tot AS DOUBLE)
       * CAST(obs * n - row_tot * col_tot AS DOUBLE))
      / ((CAST(n AS DOUBLE) * row_tot) * col_tot)
      * 1000000.0 + 0.5) AS BIGINT) AS tq,
    row_tot, col_tot
  FROM m
)
SELECT
  (SELECT CAST(count(DISTINCT t) AS BIGINT) FROM o) AS n_types,
  (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM o) AS n_days,
  max(n) AS n_events,
  CAST(sum(tq) AS DOUBLE) / 1000000.0 AS chi2
FROM terms
""",
    tags=("stats", "hypothesis-test", "analytics"),
    description=(
        "Chi-squared test of independence between event type and "
        "day-of-week: chi2 = sum (obs*N - row*col)^2 / (N*row*col) "
        "per cell -- every input an exact BIGINT, the numerator "
        "difference exact in double (< 2^53), the denominator "
        "multiplied in the same (N*row)*col order in both engines, "
        "each cell term floor-quantized to 1e-6 and summed as "
        "integers.  The contingency table is DENSIFIED (type-domain x "
        "dow-domain cross join, absent cells obs=0) so a type that "
        "never occurs on some weekday still contributes its full "
        "(0-E)^2/E = E term -- omitting empty cells understates chi2 "
        "exactly when the mix shift is most extreme.  Completes the "
        "classical trio with the t-test and the rank-sum test: is the "
        "traffic mix stable across the week, or does the pipeline "
        "need day-stratified sampling?"
    ),
)
def q_chi2_type_by_dow(spark, sf_dir):
    """One shuffle to the (type, dow) contingency table -- a few dozen
    cells at any corpus size -- densified against the tiny broadcast
    type x dow domain grid, then window marginals and a 1-row reduce
    over the cells."""
    from pyspark.sql import Window

    ev = cat(spark, sf_dir).events
    o0 = ev.groupBy(
        F.col("event_type").alias("t"),
        F.dayofweek("ts").cast("bigint").alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    grid = o0.select("t").distinct().crossJoin(o0.select("d").distinct())
    o = (
        grid.join(F.broadcast(o0), ["t", "d"], "left")
        .select("t", "d", F.coalesce("obs", F.lit(0)).cast("bigint").alias("obs"))
    )
    m = o.select(
        "t",
        "d",
        "obs",
        F.sum("obs").over(Window.partitionBy("t")).cast("bigint").alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("d")).cast("bigint").alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    diff = (F.col("obs") * F.col("n") - F.col("row_tot") * F.col("col_tot")).cast(
        "double"
    )
    tq = F.floor(
        diff
        * diff
        / (
            (F.col("n").cast("double") * F.col("row_tot"))
            * F.col("col_tot")
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    dims = o.agg(
        F.count_distinct("t").cast("bigint").alias("n_types"),
        F.count_distinct("d").cast("bigint").alias("n_days"),
    )
    return (
        m.select(tq.alias("tq"), "n")
        .agg(
            F.max("n").alias("n_events"),
            (F.sum("tq").cast("double") / F.lit(1e6)).alias("chi2"),
        )
        .crossJoin(F.broadcast(dims))
        .select("n_types", "n_days", "n_events", "chi2")
    )


# --------------------------------------------------------------------------
# Modularity of the brand partition over the co-purchase graph
# --------------------------------------------------------------------------

@query(
    "q_modularity_brand_copurchase",
    oracle=f"""
WITH e AS (
{_COPURCHASE_CTE}
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT x AS node FROM e UNION ALL SELECT y FROM e
  ) GROUP BY node
),
b AS (SELECT p_partkey, p_brand FROM part),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
intra AS (
  SELECT CAST(count(*) AS BIGINT) AS l_intra
  FROM e
  JOIN b bx ON bx.p_partkey = e.x
  JOIN b by_ ON by_.p_partkey = e.y
  WHERE bx.p_brand = by_.p_brand
),
dsum AS (
  SELECT CAST(sum(bd * bd) AS BIGINT) AS sum_d2 FROM (
    SELECT CAST(sum(deg.d) AS BIGINT) AS bd
    FROM deg JOIN b ON b.p_partkey = deg.node
    GROUP BY b.p_brand
  )
)
SELECT m.m AS n_edges, intra.l_intra,
  (SELECT CAST(count(DISTINCT p_brand) AS BIGINT) FROM b) AS n_brands,
  floor((4.0 * m.m * intra.l_intra - CAST(dsum.sum_d2 AS DOUBLE))
        / (4.0 * m.m * m.m) * 1000000.0 + 0.5) / 1000000.0 AS modularity
FROM m, intra, dsum
""",
    tags=("graph", "analytics", "modularity"),
    description=(
        "Newman modularity of the BRAND partition over the part "
        "co-purchase graph: Q = (4m*L_intra - sum_c d_c^2) / (4m^2) "
        "-- the algebraically collapsed form with every count an "
        "exact BIGINT and ONE double expression at the end (identical "
        "op order in both engines; exact while 4m^2 < 2^53, i.e. up "
        "to ~50M edges -- past that both engines round identically "
        "anyway since they run the same expression).  Answers 'do "
        "customers co-buy within brands?' and grades any community "
        "assignment against the graph."
    ),
)
def q_modularity_brand_copurchase(spark, sf_dir):
    """Edge build = the k-core query's self-join (exchange-reused
    across the degree and intra-edge branches); the brand lookup is a
    CORPUS-SCALED part projection, so its joins carry no broadcast
    hint (estimator/AQE broadcasts at test SFs, falls back to shuffle
    at 100x); the rest is three scalar aggregates."""
    c = cat(spark, sf_dir)
    # r11: the one co-purchase edge build that still ran its pair
    # emission in the single scan task (k-core/BFS/copurchase_edges
    # gained the spread in r10; this inline build was missed).  Same
    # no-op-at-scale auto-detect (layout.spread_input).
    li = spread_input(
        c.lineitem.select("l_orderkey", "l_partkey"), "l_orderkey"
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    bb = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(bb, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("x"), F.col("pb").alias("y"))
        .distinct()
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    brand = c.part.select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("brand")
    )
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        edges.join(
            brand.withColumnRenamed("node", "x").withColumnRenamed("brand", "brand_x"),
            "x",
        )
        .join(
            brand.withColumnRenamed("node", "y").withColumnRenamed("brand", "brand_y"),
            "y",
        )
        .filter(F.col("brand_x") == F.col("brand_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("l_intra"))
    )
    dsum = (
        deg.join(brand, "node")
        .groupBy("brand")
        .agg(F.sum("d").cast("bigint").alias("bd"))
        .agg(F.sum(F.col("bd") * F.col("bd")).cast("bigint").alias("sum_d2"))
    )
    n_brands = brand.agg(
        F.count_distinct("brand").cast("bigint").alias("n_brands")
    )
    return (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(n_brands))
        .select(
            F.col("m").alias("n_edges"),
            "l_intra",
            "n_brands",
            (
                F.floor(
                    (
                        F.lit(4.0) * F.col("m") * F.col("l_intra")
                        - F.col("sum_d2").cast("double")
                    )
                    / (F.lit(4.0) * F.col("m") * F.col("m"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# Sequential pattern mining (PrefixSpan-style subsequence support)
# --------------------------------------------------------------------------

@query(
    "q_seq_patterns_support",
    oracle="""
WITH pos AS (
  SELECT user_id, event_type AS t,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
summ AS (
  SELECT user_id, t, min(rn) AS first_rn, max(rn) AS last_rn
  FROM pos GROUP BY user_id, t
),
nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
p2 AS (
  SELECT a.t AS t1, b.t AS t2, count(*) AS supp
  FROM summ a JOIN summ b
    ON a.user_id = b.user_id AND a.first_rn < b.last_rn
  GROUP BY a.t, b.t
),
mid AS (
  SELECT a.user_id, a.t AS t1, p.t AS t2, min(p.rn) AS earliest_mid
  FROM summ a JOIN pos p
    ON a.user_id = p.user_id AND p.rn > a.first_rn
  GROUP BY a.user_id, a.t, p.t
),
p3 AS (
  SELECT m.t1, m.t2, c.t AS t3, count(*) AS supp
  FROM mid m JOIN summ c
    ON m.user_id = c.user_id AND m.earliest_mid < c.last_rn
  GROUP BY m.t1, m.t2, c.t
),
pats AS (
  SELECT t1 || '>' || t2 AS pattern, 2 AS len, supp FROM p2
  UNION ALL
  SELECT t1 || '>' || t2 || '>' || t3 AS pattern, 3 AS len, supp FROM p3
)
SELECT pattern, CAST(len AS INT) AS len, CAST(supp AS BIGINT) AS support,
  floor(CAST(supp AS DOUBLE) / nu.n_users * 1000000.0 + 0.5) / 1000000.0
    AS support_ratio
FROM pats CROSS JOIN nu
ORDER BY support DESC, pattern
LIMIT 15
""",
    tags=("mining", "sequence", "prefixspan", "ring-c"),
    description=(
        "Sequential-pattern support (the PrefixSpan/GSP family): for "
        "every ordered event-type pattern <a,b> and <a,b,c>, the "
        "number of users whose event sequence contains it as a "
        "(not-necessarily-contiguous) subsequence, top-15 by support. "
        "Containment is decided from per-(user,type) first/last "
        "positions -- <a,b> holds iff first(a) < last(b); <a,b,c> "
        "holds iff the earliest b strictly after the first a precedes "
        "the last c -- so no per-user sequence is ever enumerated."
    ),
)
def q_seq_patterns_support(spark, sf_dir):
    """Spark-first shape: one shuffle builds per-user positions; the
    (user,type) summary is |users| x |types| rows, so the pattern
    joins (summ x summ, pos x summ) fan out by at most the type
    cardinality -- linear in events, never per-user quadratic.  At
    100 TB every downstream join is partitioned by user_id (one
    co-partitioned exchange reused across all three joins) and the
    final rollup shuffles only (type-pair, count) pairs.

    Subsequence semantics (exists i<j with t_i=a, t_j=b) follow
    MLlib's PrefixSpan support counting restricted to single-item
    itemsets; reference has no sequence miner (ring-C extension)."""
    ev = cat(spark, sf_dir).events
    pos = ev.select(
        "user_id",
        F.col("event_type").alias("t"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    summ = pos.groupBy("user_id", "t").agg(
        F.min("rn").alias("first_rn"), F.max("rn").alias("last_rn")
    )
    n_users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    a = summ.select(
        "user_id", F.col("t").alias("t1"), F.col("first_rn").alias("fa")
    )
    b = summ.select(
        "user_id", F.col("t").alias("t2"), F.col("last_rn").alias("lb")
    )
    p2 = (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("lb"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    mid = (
        a.join(pos.select("user_id", F.col("t").alias("t2"), "rn"), "user_id")
        .filter(F.col("rn") > F.col("fa"))
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("rn").alias("earliest_mid"))
    )
    c3 = summ.select(
        "user_id", F.col("t").alias("t3"), F.col("last_rn").alias("lc")
    )
    p3 = (
        mid.join(c3, "user_id")
        .filter(F.col("earliest_mid") < F.col("lc"))
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    pats = p2.select(
        F.concat_ws(">", "t1", "t2").alias("pattern"),
        F.lit(2).alias("len"),
        "supp",
    ).unionAll(
        p3.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("pattern"),
            F.lit(3).alias("len"),
            "supp",
        )
    )
    return (
        pats.crossJoin(F.broadcast(n_users))
        .select(
            "pattern",
            F.col("len").cast("int").alias("len"),
            F.col("supp").cast("bigint").alias("support"),
            (
                F.floor(
                    F.col("supp").cast("double") / F.col("n_users") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("support_ratio"),
        )
        .orderBy(F.desc("support"), "pattern")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Label propagation communities (synchronous, deterministic tiebreak)
# --------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _duck_lpa_sql(rounds: int) -> str:
    """Generated unrolled twin of the synchronous label-propagation
    loop (the k-core/PageRank generator pattern).  Each round: every
    node adopts the most frequent label among its neighbours, ties to
    the SMALLEST label -- fully deterministic, no rand() ordering."""
    parts = [
        # min-support-2 edges: a single shared order makes the TPC-H
        # co-purchase graph near-complete (LPA then collapses to one
        # community); pairs co-bought in >= 2 orders leave the sparse
        # repeat-signal graph where community structure is real.
        "e0 AS MATERIALIZED ("
        "SELECT least(a.l_partkey, b.l_partkey) AS x,"
        " greatest(a.l_partkey, b.l_partkey) AS y"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2 HAVING count(*) >= 2)",
        "und AS MATERIALIZED (SELECT x AS node, y AS nb FROM e0"
        " UNION ALL SELECT y, x FROM e0)",
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM und)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node, nlbl AS lbl FROM ("
            f"SELECT u.node, l.lbl AS nlbl, row_number() OVER ("
            f"PARTITION BY u.node ORDER BY count(*) DESC, l.lbl) AS rn "
            f"FROM und u JOIN l{i - 1} l ON l.node = u.nb "
            f"GROUP BY u.node, l.lbl) WHERE rn = 1)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM l{rounds} GROUP BY lbl
ORDER BY n_nodes DESC, community LIMIT 20"""
    )


@query(
    "q_lpa_communities",
    oracle=_duck_lpa_sql(_LPA_ROUNDS),
    tags=("graph", "ring-c", "iterative", "community"),
    description=(
        "Community detection by synchronous label propagation on the "
        f"part co-purchase graph, {_LPA_ROUNDS} unrolled rounds: every "
        "node starts as its own label and repeatedly adopts the most "
        "frequent label among its neighbours (ties to the smallest "
        "label, so the run is deterministic without any rand() "
        "ordering).  Output: the 20 largest communities with sizes -- "
        "the near-linear community miner that complements the brand-"
        "partition modularity score."
    ),
)
def q_lpa_communities(spark, sf_dir):
    """Each round is ONE shuffle on the node key: the (node, label)
    vote count and the argmax window share the same partitioning, and
    the neighbour join keys on the node side of the undirected edge
    list.  :func:`operators.fixpoint.iterate` cuts lineage every other
    round so the unrolled loop cannot stack exponential plan growth.
    At 100 TB LPA is THE community algorithm that survives -- no global
    modular optimization, just per-node majority votes."""
    edges = copurchase_edges(cat(spark, sf_dir).lineitem).select("x", "y")
    und = edges.select(
        F.col("x").alias("node"), F.col("y").alias("nb")
    ).unionAll(edges.select(F.col("y").alias("node"), F.col("x").alias("nb")))
    # Static und list stored hash-partitioned by nb (ckpt_partitioned;
    # PROBES_r11.json, OPTIMIZATION_r11.md): each round's votes join
    # streams it with no exchange, only the label side shuffles.
    und = ckpt_partitioned(und, "nb")
    labels = und.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        # shuffle_hash on the node-sized label side (OPTIMIZATION_r10.md
        # §6): sort-merge re-sorted the edge-sized und stream every
        # round; the label side can never broadcast (corpus-scaled
        # subtree) but builds a bounded per-partition hash map.
        votes = (
            und.join(
                labels.select(
                    F.col("node").alias("nb"), F.col("lbl").alias("nlbl")
                ).hint("shuffle_hash"),
                "nb",
            )
            .groupBy("node", "nlbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (c DESC, nlbl ASC) as min(struct(-c, nlbl)): struct
        # ordering is lexicographic, so this is value-identical to a
        # row_number window, but it aggregates map-side to <= one row
        # per node per partition and never sorts.
        return (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        F.negate(F.col("c")).alias("negc"),
                        F.col("nlbl").alias("nlbl"),
                    )
                ).alias("__m")
            )
            .select("node", F.col("__m.nlbl").alias("lbl"))
        )

    labels, _ = iterate(labels, step, _LPA_ROUNDS, every=2)
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Population stability index (production-ML drift monitor)
# --------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_SPLIT = 15  # reference = first 15 days, current = the rest


@query(
    "q_psi_value_drift",
    oracle=f"""
WITH v AS (
  SELECT value,
    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d
  FROM events WHERE value IS NOT NULL
),
split AS (
  SELECT min(d) + {_PSI_SPLIT} AS cut, min(value) AS mn, max(value) AS mx
  FROM v
),
binned AS (
  SELECT least(CAST(floor((v.value - s.mn)
      / ((s.mx - s.mn) / {_PSI_BINS})) AS BIGINT),
      {_PSI_BINS - 1}) AS bin,
    CASE WHEN v.d < s.cut THEN 1 ELSE 0 END AS is_ref
  FROM v CROSS JOIN split s
),
cnt AS (
  SELECT bin,
    CAST(sum(is_ref) AS BIGINT) AS n_ref,
    CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc
  FROM cnt
),
terms AS (
  -- add-1 smoothed shares; each (p-q)*ln(p/q) contribution quantized
  -- ONCE to the 1e-9 grid (the libm convention) before integer sums.
  SELECT c.bin, c.n_ref, c.n_cur,
    CAST(floor((CAST(c.n_ref + 1 AS DOUBLE) / (t.tr + {_PSI_BINS})
        - CAST(c.n_cur + 1 AS DOUBLE) / (t.tc + {_PSI_BINS}))
      * ln((CAST(c.n_ref + 1 AS DOUBLE) / (t.tr + {_PSI_BINS}))
        / (CAST(c.n_cur + 1 AS DOUBLE) / (t.tc + {_PSI_BINS})))
      * 1000000000.0 + 0.5) AS BIGINT) AS contrib_q
  FROM cnt c CROSS JOIN tot t
),
g AS (SELECT CAST(sum(contrib_q) AS BIGINT) AS psi_q FROM terms)
SELECT t.bin, t.n_ref, t.n_cur,
  floor(CAST(t.contrib_q AS DOUBLE) / 1000.0 + 0.5) / 1000000.0
    AS psi_contrib,
  floor(CAST(g.psi_q AS DOUBLE) / 1000.0 + 0.5) / 1000000.0 AS psi
FROM terms t CROSS JOIN g
ORDER BY t.bin
""",
    tags=("stats", "drift", "monitoring", "ring-c"),
    description=(
        "Population stability index between the first "
        f"{_PSI_SPLIT} days (reference) and the rest (current) of the "
        f"event value stream: {_PSI_BINS} fixed-width bins over the "
        "DATA-DERIVED global range, add-1-smoothed shares, and the "
        "summed PSI = sum (p-q)*ln(p/q) with every bin contribution "
        "quantized once to the 1e-9 grid then integer-summed.  "
        "Companion of q_psi_price_drift (analytics.py), which bins on "
        "FIXED dollar edges and reports per-bin contributions only -- "
        "this variant derives its edges from the data and emits the "
        "single retrain-gate number (PSI > 0.25 = retrain) exactly."
    ),
)
def q_psi_value_drift(spark, sf_dir):
    """Scale shape: ONE data-sized shuffle (the bin rollup, map-side
    combined into at most {bins} x 2 partials per task); the min/max/"
    cut scalars broadcast back.  No sort, no window, no quantile pass
    -- fixed-width binning is what makes PSI the monitor that runs on
    every batch at 100 TB."""
    ev = cat(spark, sf_dir).events
    v = ev.filter(F.col("value").isNotNull()).select(
        "value",
        F.floor(
            F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400))
        )
        .cast("bigint")
        .alias("d"),
    )
    split = v.agg(
        (F.min("d") + F.lit(_PSI_SPLIT)).alias("cut"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    binned = v.crossJoin(F.broadcast(split)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / F.lit(_PSI_BINS))
            ).cast("bigint"),
            F.lit(_PSI_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.when(F.col("d") < F.col("cut"), 1).otherwise(0).alias("is_ref"),
    )
    cnt = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("bigint").alias("n_cur"),
    )
    tot = cnt.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    p = (F.col("n_ref") + 1).cast("double") / (F.col("tr") + F.lit(_PSI_BINS))
    q = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + F.lit(_PSI_BINS))
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.floor((p - q) * F.log(p / q) * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("contrib_q"),
    )
    g = terms.agg(F.sum("contrib_q").cast("bigint").alias("psi_q"))

    def m3(c):
        return F.floor(c.cast("double") / F.lit(1e3) + F.lit(0.5)) / F.lit(1e6)

    return (
        terms.crossJoin(F.broadcast(g))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            m3(F.col("contrib_q")).alias("psi_contrib"),
            m3(F.col("psi_q")).alias("psi"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Multi-source BFS hop distance (reachability rings)
# --------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_SEEDS = 5  # the top-degree hub nodes


def _duck_bfs_sql(rounds: int, seeds: int) -> str:
    """Generated unrolled BFS twin (the k-core/LPA generator pattern):
    frontier expansion as min-hop relaxation, seeds = the top-degree
    hubs (count desc, node asc -- total order, no rand())."""
    parts = [
        f"e0 AS MATERIALIZED ({_COPURCHASE_CTE})",
        "und AS MATERIALIZED (SELECT x AS node, y AS nb FROM e0"
        " UNION ALL SELECT y, x FROM e0)",
        "deg AS (SELECT node, count(*) AS d FROM und GROUP BY node)",
        f"seeds AS (SELECT node FROM (SELECT node, row_number() OVER ("
        f"ORDER BY d DESC, node) AS rn FROM deg) WHERE rn <= {seeds})",
        "h0 AS MATERIALIZED (SELECT node, 0 AS hop FROM seeds)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"h{i} AS MATERIALIZED ("
            f"SELECT node, min(hop) AS hop FROM ("
            f"SELECT node, hop FROM h{i - 1}"
            f" UNION ALL "
            f"SELECT u.nb AS node, h.hop + 1 AS hop"
            f" FROM h{i - 1} h JOIN und u ON u.node = h.node"
            f") GROUP BY node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
FROM h{rounds} GROUP BY hop
UNION ALL
SELECT -1 AS hop,
  (SELECT CAST(count(*) AS BIGINT) FROM deg)
  - (SELECT CAST(count(*) AS BIGINT) FROM h{rounds})
ORDER BY hop"""
    )


@query(
    "q_bfs_hops_from_hubs",
    oracle=_duck_bfs_sql(_BFS_ROUNDS, _BFS_SEEDS),
    tags=("graph", "ring-c", "iterative", "bfs"),
    description=(
        f"Multi-source BFS from the {_BFS_SEEDS} highest-degree hub "
        f"nodes of the part co-purchase graph, {_BFS_ROUNDS} unrolled "
        "rounds of min-hop frontier relaxation: output = nodes per "
        "hop ring (hop -1 = still unreached) -- the reachability "
        "profile that sizes how much of the graph the hubs cover, "
        "next to the k-core and label-propagation miners on the same "
        "edge list."
    ),
)
def q_bfs_hops_from_hubs(spark, sf_dir):
    """Each round is one node-keyed shuffle (the min-hop rollup); the
    frontier join keys on the same node column, so AQE reuses the
    partitioning round to round.  Relaxation carries ALL labelled
    nodes forward (hop set only ever grows), so rounds are idempotent
    past the diameter -- the fixed unrolling stays deterministic.
    :func:`operators.fixpoint.iterate` cuts every round: hops is read
    twice next round (frontier + carry) and, uncut, re-runs its rollup
    (4.8 s vs 5.4 s every other round at sf0.1, OPTIMIZATION_r10.md).
    No fingerprint: its cut costs a job more than an eager one."""
    li = spread_input(
        cat(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("x"), F.col("pb").alias("y"))
        .distinct()
    )
    # Checkpoint EDGES (the dedup output), then derive und as two
    # projections of the checkpointed relation -- never checkpoint
    # the union itself.  Two r10 sf100 catches live here:
    # (1) DISK_ONLY, not the default MEMORY_AND_DISK: the
    #     unthresholded co-purchase edge list is corpus-scaled under
    #     densification (fixed part catalog, fact-scaled orders), and
    #     the first r10 leg OOM'd a 48 g heap materializing it into
    #     heap-priced block storage.  BFS needs the full graph every
    #     round, so its blocks belong on disk (k-core cuts its
    #     unpeeled pair list on DISK for the same reason).
    # (2) checkpointing und = union(proj(edges), proj(edges)) ran the
    #     corpus-wide dedup TWICE: ReusedExchange dedupes the shuffle,
    #     but each union branch re-executes its own post-shuffle
    #     HashAggregate over the full 1.2B-row shuffle read (measured:
    #     edge build 96 s at sf100, query 253 s).  Checkpointing the
    #     dedup output makes both und branches map-only reads of the
    #     stored blocks.  Bounded checkpoints (the node-keyed hops
    #     below) keep the memory default.
    edges = edges.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    und = edges.select(
        F.col("x").alias("node"), F.col("y").alias("nb")
    ).unionAll(edges.select(F.col("y").alias("node"), F.col("x").alias("nb")))
    # und stored hash-partitioned by node (ckpt_partitioned;
    # PROBES_r11.json, OPTIMIZATION_r11.md): the frontier join and the
    # degree rollup key on node.  It derives from the checkpointed dedup
    # output (map-only union branches, so catch (2) cannot come back)
    # and stays on DISK like the edge list it doubles.
    und = ckpt_partitioned(und, "node", storage_level=StorageLevel.DISK_ONLY)
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    seeds = (
        deg.orderBy(F.desc("d"), "node")
        .limit(_BFS_SEEDS)
        .select("node")
    )
    hops = seeds.select("node", F.lit(0).alias("hop"))

    def step(hops: DataFrame, i: int) -> DataFrame:
        # Frontier-only expansion: only nodes labelled LAST round can
        # improve a neighbour (an interior node's neighbours already
        # hold hop <= interior+1), so expanding just the i-ring reaches
        # the identical min-hop fixpoint as the oracle's full
        # relaxation at a fraction of the join volume -- the first
        # join is 5 seed rows, not the whole labelled set.
        frontier = hops.filter(F.col("hop") == i).select("node")
        # shuffle_hash on the node-sized frontier (OPTIMIZATION_r10.md
        # §6): sort-merge re-sorted the full und stream every round.
        expanded = hops.unionAll(
            frontier.hint("shuffle_hash").join(und, "node").select(
                F.col("nb").alias("node"), F.lit(i + 1).alias("hop")
            )
        )
        return expanded.groupBy("node").agg(F.min("hop").alias("hop"))

    hops, _ = iterate(hops, step, _BFS_ROUNDS)
    rings = hops.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    n_all = deg.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    n_hit = hops.agg(F.count(F.lit(1)).cast("bigint").alias("nh"))
    unreached = (
        n_all.crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(-1).cast("int").alias("hop"),
            (F.col("na") - F.col("nh")).alias("n_nodes"),
        )
    )
    return rings.select(
        F.col("hop").cast("int").alias("hop"), "n_nodes"
    ).unionAll(unreached).orderBy("hop")


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (who will be co-purchased next)
# --------------------------------------------------------------------------

# Top-K strongest ties retained per node (by co-purchase count desc,
# neighbour asc).  A fact-scaled graph over a FIXED catalog densifies
# toward complete as volume grows (measured on the derived sf1: avg
# support-2 degree 120 over the 20k-part catalog, 148M wedges, 24 GB
# of hash-agg spill); retaining each node's K strongest ties bounds
# every wedge fan-out at K regardless of volume -- the standard
# kNN-graph sparsification for link prediction.  At sf0.1 max degree
# is 10 < K, so retention changes nothing there.
_AA_TOP_K = 32

_AA_ORACLE = f"""
WITH e0 AS MATERIALIZED (
  SELECT least(a.l_partkey, b.l_partkey) AS x,
    greatest(a.l_partkey, b.l_partkey) AS y,
    CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
und AS MATERIALIZED (
  SELECT x AS node, y AS nb, cnt FROM e0
  UNION ALL SELECT y, x, cnt FROM e0
),
undk AS MATERIALIZED (
  SELECT node, nb FROM (
    SELECT node, nb, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, nb) AS rk
    FROM und
  ) WHERE rk <= {_AA_TOP_K}
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM undk GROUP BY node),
term AS (
  -- 1/ln(deg) quantized ONCE per node to the 1e-9 grid (the libm
  -- convention: ln is not correctly rounded, so quantize before any
  -- accumulation), then integer-summed.
  SELECT node,
    CAST(floor(1000000000.0 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)
      AS aa_q
  FROM deg WHERE d >= 2
),
wedge AS (
  SELECT u1.nb AS x, u2.nb AS z, t.aa_q
  FROM undk u1
  JOIN undk u2 ON u2.node = u1.node AND u1.nb < u2.nb
  JOIN term t ON t.node = u1.node
),
cand AS (
  SELECT x, z, CAST(count(*) AS BIGINT) AS n_common,
    CAST(sum(aa_q) AS BIGINT) AS score_q
  FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.x = w.x AND e0.y = w.z)
  GROUP BY x, z
)
SELECT x AS part_a, z AS part_b, n_common,
  score_q / 1000000000.0 AS aa_score
FROM cand
ORDER BY score_q DESC, part_a, part_b LIMIT 20
"""


@query(
    "q_adamic_adar_linkpred",
    oracle=_AA_ORACLE,
    tags=("graph", "link-prediction", "ring-c"),
    description=(
        "Adamic-Adar link prediction on the kNN-sparsified co-purchase "
        "graph: support-2 edges, each node keeping its "
        f"{_AA_TOP_K} strongest ties (count desc, neighbour asc -- "
        "deterministic); for every 2-hop pair not already linked, "
        "score = sum over common neighbours of 1/ln(retained degree), "
        "top-20 predicted links.  Per-neighbour terms are quantized "
        "once to the 1e-9 grid and integer-summed (the libm ln "
        "convention).  The top-K retention is the load-bearing scale "
        "decision: a fact-scaled graph over a fixed catalog densifies "
        "toward complete, and K bounds every wedge fan-out no matter "
        "the volume."
    ),
)
def q_adamic_adar_linkpred(spark, sf_dir):
    """Wedge enumeration -- the one quadratic-risk join -- runs on the
    top-K retained neighbour lists, so it is <= n*K^2/2 rows by
    construction (the rehearsal measured the unsparsified form at 148M
    wedges / 24 GB spill on the densified sf1 graph; retained-K keeps
    it linear in nodes).  The edge list is checkpointed ONCE: five
    consumers through five different projections defeat exchange
    reuse, and before the cut the lineitem self-join re-executed per
    consumer (the TextRank/LPA/BFS static-relation lesson).  The
    retention window, degree count and wedge join all share the node
    key; the anti-join against existing edges and the (x, z) rollup
    share the pair key.  TakeOrdered(20) ends the plan."""
    edges = copurchase_edges(cat(spark, sf_dir).lineitem)
    und = edges.select(
        F.col("x").alias("node"), F.col("y").alias("nb"), "cnt"
    ).unionAll(edges.select(F.col("y").alias("node"), F.col("x").alias("nb"), "cnt"))
    wk = Window.partitionBy("node").orderBy(F.desc("cnt"), "nb")
    undk = (
        und.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _AA_TOP_K)
        .select("node", "nb")
    ).localCheckpoint(eager=True)
    deg = undk.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    term = deg.filter(F.col("d") >= 2).select(
        "node",
        F.floor(F.lit(1e9) / F.log(F.col("d").cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("aa_q"),
    )
    capped = undk.join(term, "node")
    u1 = capped.select("node", F.col("nb").alias("wx"), "aa_q")
    u2 = undk.select("node", F.col("nb").alias("wz"))
    wedge = (
        u1.join(u2, "node")
        .filter(F.col("wx") < F.col("wz"))
        .select("wx", "wz", "aa_q")
    )
    existing = edges.select(F.col("x").alias("wx"), F.col("y").alias("wz"))
    cand = (
        wedge.join(existing, ["wx", "wz"], "left_anti")
        .groupBy("wx", "wz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("aa_q").cast("bigint").alias("score_q"),
        )
    )
    return (
        cand.select(
            F.col("wx").alias("part_a"),
            F.col("wz").alias("part_b"),
            "n_common",
            (F.col("score_q") / F.lit(1e9)).alias("aa_score"),
            "score_q",
        )
        .orderBy(F.desc("score_q"), "part_a", "part_b")
        .limit(20)
        .drop("score_q")
    )


# --------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes)
# --------------------------------------------------------------------------

_TS_ORACLE = """
WITH d AS (
  SELECT CAST(floor(floor(epoch(date_trunc('day', o_orderdate)))
                    / 86400.0) AS BIGINT) AS x,
    CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
pr AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM d a JOIN d b ON b.x > a.x
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pr),
ms AS (
  SELECT slope FROM (
    SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM pr
  ) CROSS JOIN ns WHERE rn = (n_pairs + 1) // 2
),
resid AS (SELECT d.y - ms.slope * d.x AS r FROM d CROSS JOIN ms),
mi AS (
  SELECT r FROM (
    SELECT r, row_number() OVER (ORDER BY r) AS rn FROM resid
  ) CROSS JOIN nd WHERE rn = (n_days + 1) // 2
)
SELECT nd.n_days, ns.n_pairs,
  floor(ms.slope * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day,
  floor(mi.r * 1000000.0 + 0.5) / 1000000.0 AS intercept
FROM nd CROSS JOIN ns CROSS JOIN ms CROSS JOIN mi
"""


@query(
    "q_theilsen_daily_trend",
    oracle=_TS_ORACLE,
    tags=("mining", "regression", "robust", "ring-c"),
    description=(
        "Theil-Sen robust trend of the daily order-count series: the "
        "estimator is the MEDIAN of all pairwise slopes (y_j-y_i)/"
        "(x_j-x_i) -- up to ~29% contaminated days cannot move it, "
        "unlike the OLS fit one module up -- plus the median-residual "
        "intercept.  Medians are exact lower-median rank selections; "
        "every slope is one correctly-rounded IEEE division of exact "
        "integers, so both engines build the identical multiset."
    ),
)
def q_theilsen_daily_trend(spark, sf_dir):
    """The pair blow-up runs on the AGGREGATED daily series, which is
    TIME-bounded (~2.6k days for the fixture's range) no matter how
    many orders feed it -- so the non-equi self-join (~3.4M pairs) and
    the rank-selection sort are constant-size by construction, not
    data-scaled; the only data-scale work is the one groupBy(day)
    pass.  The global-order window rides on that bounded relation
    (same justification as the oracle's)."""
    orders = cat(spark, sf_dir).orders
    d = (
        orders.groupBy(
            F.floor(
                F.floor(
                    F.unix_timestamp(F.date_trunc("day", F.col("o_orderdate")))
                ) / F.lit(86400.0)
            )
            .cast("bigint")
            .alias("x")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        # NOT checkpointed despite five consumers: a same-session A/B
        # measured parity (3.5-5.4s both ways at sf0.1) -- the
        # one-column day rollup is too cheap for re-execution to
        # matter, unlike the STL/isotonic cases where it did.
    )
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pr = (
        a.join(b, F.col("xb") > F.col("xa"))
        .select(
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope")
        )
    )
    ns = pr.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    w = Window.orderBy("slope")
    ms = (
        pr.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(ns))
        .filter(F.col("rn") == F.floor((F.col("n_pairs") + 1) / F.lit(2)))
        .select("slope", "n_pairs")
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    resid = d.crossJoin(F.broadcast(ms)).select(
        (F.col("y") - F.col("slope") * F.col("x")).alias("r")
    )
    wr = Window.orderBy("r")
    mi = (
        resid.withColumn("rn", F.row_number().over(wr))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("rn") == F.floor((F.col("n_days") + 1) / F.lit(2)))
        .select("r", "n_days")
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        mi.crossJoin(F.broadcast(ms))
        .select(
            "n_days",
            "n_pairs",
            q6(F.col("slope")).alias("slope_per_day"),
            q6(F.col("r")).alias("intercept"),
        )
    )


# --------------------------------------------------------------------------
# Weighted cheapest path (Bellman-Ford relaxation from the top hub)
# --------------------------------------------------------------------------

_BF_ROUNDS = 4


def _duck_bf_sql(rounds: int) -> str:
    """Generated unrolled Bellman-Ford twin (the BFS generator
    pattern, weighted): edge cost = 1000000 // support (stronger ties
    are cheaper), source = the single top-degree hub, full min-dist
    relaxation per round."""
    parts = [
        "e0 AS MATERIALIZED ("
        "SELECT least(a.l_partkey, b.l_partkey) AS x,"
        " greatest(a.l_partkey, b.l_partkey) AS y,"
        " CAST(1000000 // count(*) AS BIGINT) AS w"
        " FROM lineitem a JOIN lineitem b"
        " ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
        " GROUP BY 1, 2 HAVING count(*) >= 2)",
        "und AS MATERIALIZED (SELECT x AS node, y AS nb, w FROM e0"
        " UNION ALL SELECT y, x, w FROM e0)",
        "deg AS (SELECT node, count(*) AS d FROM und GROUP BY node)",
        "src AS (SELECT node FROM (SELECT node, row_number() OVER ("
        "ORDER BY d DESC, node) AS rn FROM deg) WHERE rn = 1)",
        "d0 AS MATERIALIZED ("
        "SELECT node, CAST(0 AS BIGINT) AS dist FROM src)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED ("
            f"SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{i - 1}"
            f" UNION ALL "
            f"SELECT u.nb AS node, d.dist + u.w AS dist"
            f" FROM d{i - 1} d JOIN und u ON u.node = d.node"
            f") GROUP BY node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, dist FROM d{rounds}
ORDER BY dist, node LIMIT 20"""
    )


@query(
    "q_bellman_ford_cheapest",
    oracle=_duck_bf_sql(_BF_ROUNDS),
    tags=("graph", "ring-c", "iterative", "shortest-path"),
    description=(
        "Weighted cheapest paths from the top-degree hub of the part "
        "co-purchase graph by Bellman-Ford relaxation, "
        f"{_BF_ROUNDS} unrolled rounds: edge cost = 1000000 // "
        "co-purchase support (all integer -- strong ties are cheap to "
        "traverse), output = the 20 cheapest-to-reach parts.  The "
        "weighted sibling of the BFS hop rings: rings count EDGES to "
        "a node, this prices the PATH, and the two disagree exactly "
        "where a 2-hop strong-tie route undercuts a weak direct edge."
    ),
)
def q_bellman_ford_cheapest(spark, sf_dir):
    """Each round is one node-keyed min rollup, and only the nodes
    IMPROVED last round expand (a node's proposals depend only on its
    dist, so re-expanding unchanged nodes re-proposes already-applied
    candidates -- the BFS frontier argument, weighted); the state
    carries that ``improved`` flag out of the round's one min
    aggregate.  :func:`operators.fixpoint.iterate` cuts every round and
    stops at the first repeated (count, sum of dist): nodes are only
    added and dists only fall, so a repeat is an unchanged state.  Edge
    list checkpointed once (five-consumer exchange-reuse lesson).  At
    100 TB this is THE shortest-path shape that survives: no priority
    queue, just k scans of a node-partitioned relation."""
    edges = copurchase_edges(cat(spark, sf_dir).lineitem, weight=True)
    und = edges.select(
        F.col("x").alias("node"), F.col("y").alias("nb"), "w"
    ).unionAll(edges.select(F.col("y").alias("node"), F.col("x").alias("nb"), "w"))
    # und stored hash-partitioned by node (ckpt_partitioned;
    # PROBES_r11.json, OPTIMIZATION_r11.md): the relaxation join and the
    # seed-degree rollup both key on node.  und is support-thresholded,
    # so the memory default holds it (the BFS twin is the DISK case).
    und = ckpt_partitioned(und, "node")
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    src = (
        deg.orderBy(F.desc("d"), "node")
        .limit(1)
        .select("node")
    )
    dist = src.selectExpr("node", "CAST(0 AS BIGINT) AS dist", "true AS improved")

    def step(dist: DataFrame, _: int) -> DataFrame:
        # shuffle_hash on the node-sized frontier (OPTIMIZATION_r10.md
        # §6): no per-round sort of the und stream.
        cand = dist.filter("improved").hint("shuffle_hash").join(und, "node")
        # min over (dist, is_candidate): a candidate wins only when it is
        # strictly cheaper than the node's old dist, or the node is new.
        old = F.struct(F.col("dist").alias("d"), F.lit(False).alias("c"))
        new = F.struct((F.col("dist") + F.col("w")).alias("d"), F.lit(True).alias("c"))
        return (
            dist.select("node", old.alias("m"))
            .unionAll(cand.select(F.col("nb").alias("node"), new.alias("m")))
            .groupBy("node")
            .agg(F.min("m").alias("m"))
            .select("node", F.col("m.d").alias("dist"), F.col("m.c").alias("improved"))
        )

    dist, _ = iterate(
        dist,
        step,
        _BF_ROUNDS,
        fingerprint=F.struct(
            F.count(F.lit(1)), F.sum(F.col("dist").cast("decimal(38,0)"))
        ),
    )
    return dist.select("node", "dist").orderBy("dist", "node").limit(20)


# --------------------------------------------------------------------------
# Degree power-law exponent (Hill maximum-likelihood estimator)
# --------------------------------------------------------------------------

_HILL_ORACLE = """
WITH e0 AS MATERIALIZED (
  SELECT least(a.l_partkey, b.l_partkey) AS x,
    greatest(a.l_partkey, b.l_partkey) AS y
  FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
und AS (SELECT x AS node, y AS nb FROM e0 UNION ALL SELECT y, x FROM e0),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY node),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(floor(ln(CAST(d AS DOUBLE) / 2.0) * 1000000000.0 + 0.5)
      AS BIGINT)) AS BIGINT) AS lsum_q,
    CAST(max(d) AS BIGINT) AS max_degree
  FROM deg WHERE d >= 2
)
SELECT n AS n_tail, max_degree,
  floor((1.0 + CAST(n AS DOUBLE) * 1000000000.0 / lsum_q) * 1000000.0
        + 0.5) / 1000000.0 AS alpha_hill
FROM t
"""


@query(
    "q_degree_powerlaw_alpha",
    oracle=_HILL_ORACLE,
    tags=("graph", "stats", "ring-c"),
    description=(
        "Hill maximum-likelihood estimate of the power-law exponent "
        "of the co-purchase degree distribution: alpha = 1 + n / "
        "sum(ln(d/d_min)) over the tail d >= d_min = 2, each ln term "
        "quantized once to the 1e-9 grid then integer-summed (the "
        "libm convention).  THE one-number diagnostic that decides "
        "whether hub-aware plans (salting, degree caps, top-K "
        "sparsification) are needed on this graph: alpha < 2 means "
        "unbounded-mean degrees, 2-3 the classic scale-free regime."
    ),
)
def q_degree_powerlaw_alpha(spark, sf_dir):
    """One lineitem self-join + pair rollup (the shared co-purchase
    build), a node-keyed degree count, and a single-row reduce; the
    ln terms ride inside the aggregate projection, so nothing beyond
    the standard graph build moves at data scale."""
    edges = copurchase_edges(cat(spark, sf_dir).lineitem).select("x", "y")
    und = edges.select(F.col("x").alias("node")).unionAll(
        edges.select(F.col("y").alias("node"))
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    t = deg.filter(F.col("d") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.floor(
                F.log(F.col("d").cast("double") / F.lit(2.0)) * F.lit(1e9)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("lsum_q"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
    return t.select(
        F.col("n").alias("n_tail"),
        "max_degree",
        (
            F.floor(
                (
                    F.lit(1.0)
                    + F.col("n").cast("double") * F.lit(1e9) / F.col("lsum_q")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("alpha_hill"),
    )


# --------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (m/u log-weights)
# --------------------------------------------------------------------------

# Assumed conditional-match agreement rates (the textbook constants a
# linkage run starts from before EM refinement); u rates are estimated
# EXACTLY from the data's value frequencies: u_f = sum_v n_v(n_v-1) /
# (N(N-1)) -- the probability two random records agree on field f --
# with one pseudo-agreement and one pseudo-disagreement (Laplace) so a
# field that is all-distinct (u=0) or constant (u=1) in a small block
# sample cannot blow up the log weights.
_FS_M = {"f1": 0.95, "f2": 0.90, "f3": 0.85}

_FS_ORACLE = f"""
WITH p AS (
  SELECT p_partkey AS k, p_brand AS blk1, p_size AS blk2, p_type AS f1,
    split_part(p_name, ' ', 1) AS f2,
    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 10000 AS f3
  FROM part
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
u1 AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS s
       FROM (SELECT count(*) AS c FROM p GROUP BY f1)),
u2 AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS s
       FROM (SELECT count(*) AS c FROM p GROUP BY f2)),
u3 AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS s
       FROM (SELECT count(*) AS c FROM p GROUP BY f3)),
w AS (
  SELECT
    CAST(floor(log2({_FS_M['f1']} / ((CAST(u1.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wa1,
    CAST(floor(log2({1 - _FS_M['f1']:.2f} / (1.0 - (CAST(u1.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wd1,
    CAST(floor(log2({_FS_M['f2']} / ((CAST(u2.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wa2,
    CAST(floor(log2({1 - _FS_M['f2']:.2f} / (1.0 - (CAST(u2.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wd2,
    CAST(floor(log2({_FS_M['f3']} / ((CAST(u3.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wa3,
    CAST(floor(log2({1 - _FS_M['f3']:.2f} / (1.0 - (CAST(u3.s AS DOUBLE) + 1.0)
      / (n * (n - 1.0) + 2.0))) * 1000000.0 + 0.5) AS BIGINT) AS wd3
  FROM u1, u2, u3, n1
),
pairs AS (
  SELECT a.k AS part_a, b.k AS part_b,
    (CASE WHEN a.f1 = b.f1 THEN w.wa1 ELSE w.wd1 END
     + CASE WHEN a.f2 = b.f2 THEN w.wa2 ELSE w.wd2 END
     + CASE WHEN a.f3 = b.f3 THEN w.wa3 ELSE w.wd3 END) AS score_q,
    concat(CASE WHEN a.f1 = b.f1 THEN 'T' ELSE '-' END,
           CASE WHEN a.f2 = b.f2 THEN 'N' ELSE '-' END,
           CASE WHEN a.f3 = b.f3 THEN 'P' ELSE '-' END) AS pattern
  FROM p a JOIN p b ON a.blk1 = b.blk1 AND a.blk2 = b.blk2 AND a.k < b.k
  CROSS JOIN w
)
SELECT part_a, part_b, pattern,
  score_q / 1000000.0 AS fs_score
FROM pairs ORDER BY score_q DESC, part_a, part_b LIMIT 15
"""


@query(
    "q_fellegi_sunter_linkage",
    oracle=_FS_ORACLE,
    tags=("mining", "entity-resolution", "linkage", "ring-c"),
    description=(
        "Fellegi-Sunter probabilistic record linkage over the part "
        "catalog: candidate pairs blocked on (brand, size), scored by "
        "the classic log2(m/u) agreement weights on type / first name "
        "token / price band -- u rates estimated EXACTLY from value "
        "frequencies (sum n_v(n_v-1) / N(N-1)), m rates the textbook "
        "priors, each weight quantized once to the 1e-6 grid then "
        "integer-summed per pair.  Output: the 15 highest-weight "
        "candidate links with their agreement pattern -- the "
        "probabilistic upgrade of the deterministic ER closure."
    ),
)
def q_fellegi_sunter_linkage(spark, sf_dir):
    """The part relation is a dimension: the blocked self-join is
    catalog-sized (max block 7 rows here), the three u-rate rollups
    are value-histogram aggregates, and the six weight scalars ride
    as a broadcast 1-row crossJoin.  No fact table is touched --
    linkage scoring cost tracks the CATALOG, not the data volume."""
    p = cat(spark, sf_dir).part.select(
        F.col("p_partkey").alias("k"),
        F.col("p_brand").alias("blk1"),
        F.col("p_size").alias("blk2"),
        F.col("p_type").alias("f1"),
        F.expr("split_part(p_name, ' ', 1)").alias("f2"),
        F.expr(
            "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) DIV 10000"
        ).alias("f3"),
    ).localCheckpoint(eager=True)
    n1 = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def u_of(field):
        return (
            p.groupBy(field)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1))
                .cast("bigint")
                .alias(f"s_{field}")
            )
        )

    scal = (
        u_of("f1")
        .crossJoin(F.broadcast(u_of("f2")))
        .crossJoin(F.broadcast(u_of("f3")))
        .crossJoin(F.broadcast(n1))
    )

    def w_cols():
        out = []
        for i, f in enumerate(["f1", "f2", "f3"], start=1):
            m = _FS_M[f]
            u = (F.col(f"s_{f}").cast("double") + F.lit(1.0)) / (
                F.col("n") * (F.col("n") - F.lit(1.0)) + F.lit(2.0)
            )
            out.append(
                F.floor(F.log2(F.lit(m) / u) * F.lit(1e6) + F.lit(0.5))
                .cast("bigint")
                .alias(f"wa{i}")
            )
            out.append(
                F.floor(
                    F.log2(F.lit(round(1 - m, 2)) / (F.lit(1.0) - u))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias(f"wd{i}")
            )
        return out

    w = scal.select(*w_cols())
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    pairs = (
        a.join(
            b,
            (F.col("a_blk1") == F.col("b_blk1"))
            & (F.col("a_blk2") == F.col("b_blk2"))
            & (F.col("a_k") < F.col("b_k")),
        )
        .crossJoin(F.broadcast(w))
    )

    def ag(i, f, tag):
        same = F.col(f"a_{f}") == F.col(f"b_{f}")
        return (
            F.when(same, F.col(f"wa{i}")).otherwise(F.col(f"wd{i}")),
            F.when(same, F.lit(tag)).otherwise(F.lit("-")),
        )

    s1, t1 = ag(1, "f1", "T")
    s2, t2 = ag(2, "f2", "N")
    s3, t3 = ag(3, "f3", "P")
    return (
        pairs.select(
            F.col("a_k").alias("part_a"),
            F.col("b_k").alias("part_b"),
            F.concat(t1, t2, t3).alias("pattern"),
            (s1 + s2 + s3).alias("score_q"),
        )
        .orderBy(F.desc("score_q"), "part_a", "part_b")
        .limit(15)
        .select(
            "part_a",
            "part_b",
            "pattern",
            (F.col("score_q") / F.lit(1e6)).alias("fs_score"),
        )
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout (pre-period covariate adjustment)
# --------------------------------------------------------------------------

_CUPED_PIVOT = 1705363200  # 2024-01-16 00:00:00 UTC (events midpoint)
_CUPED_GATE = duck_hash_gate("CAST(user_id AS VARCHAR)", "cuped")

# Per-user pre(x)/post(y) value totals as exact micro-unit BIGINTs;
# all second moments accumulate as DECIMAL(19,0)xDECIMAL(19,0) ->
# DECIMAL(38,0) products (exact in both engines; BIGINT would overflow
# at x_q^2 ~ 4e20), so every sufficient statistic is order-free.


def _cuped_moments(arm_pred: str) -> str:
    c = f"CASE WHEN {arm_pred} THEN" if arm_pred else "CASE WHEN TRUE THEN"
    return f"""
    CAST(count({c} 1 END) AS BIGINT) AS n{{t}},
    CAST(coalesce(sum({c} x END), 0) AS BIGINT) AS sx{{t}},
    CAST(coalesce(sum({c} y END), 0) AS BIGINT) AS sy{{t}},
    CAST(coalesce(sum({c} CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
      END), 0) AS DECIMAL(38,0)) AS sxy{{t}},
    CAST(coalesce(sum({c} CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
      END), 0) AS DECIMAL(38,0)) AS sxx{{t}},
    CAST(coalesce(sum({c} CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
      END), 0) AS DECIMAL(38,0)) AS syy{{t}}"""


_CUPED_ORACLE = f"""
WITH u AS (
  SELECT user_id,
    CAST({_CUPED_GATE} % 2 AS INTEGER) AS arm,
    CAST(coalesce(sum(CASE WHEN floor(epoch(ts)) < {_CUPED_PIVOT}
      THEN CAST(value AS DECIMAL(18,6)) END), 0) * 1000000 AS BIGINT) AS x,
    CAST(coalesce(sum(CASE WHEN floor(epoch(ts)) >= {_CUPED_PIVOT}
      THEN CAST(value AS DECIMAL(18,6)) END), 0) * 1000000 AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    {_cuped_moments("").format(t="")},
    {_cuped_moments("arm = 0").format(t="0")},
    {_cuped_moments("arm = 1").format(t="1")}
  FROM u
),
d AS (
  SELECT *,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS theta,
    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)) AS rho2
  FROM s
)
SELECT arm, n_users, mean_y, mean_y_cuped, theta, rho2 FROM (
  SELECT 0 AS arm, n0 AS n_users,
    floor(CAST(sy0 AS DOUBLE) / n0 / 1000000.0 * 1000000.0 + 0.5)
      / 1000000.0 AS mean_y,
    floor((CAST(sy0 AS DOUBLE) / n0 - theta
           * (CAST(sx0 AS DOUBLE) / n0 - CAST(sx AS DOUBLE) / n))
          / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_y_cuped,
    floor(theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
    floor(rho2 * 1000000.0 + 0.5) / 1000000.0 AS rho2
  FROM d
  UNION ALL
  SELECT 1, n1,
    floor(CAST(sy1 AS DOUBLE) / n1 / 1000000.0 * 1000000.0 + 0.5)
      / 1000000.0,
    floor((CAST(sy1 AS DOUBLE) / n1 - theta
           * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx AS DOUBLE) / n))
          / 1000000.0 * 1000000.0 + 0.5) / 1000000.0,
    floor(theta * 1000000.0 + 0.5) / 1000000.0,
    floor(rho2 * 1000000.0 + 0.5) / 1000000.0
  FROM d
) ORDER BY arm
"""


@query(
    "q_cuped_ab_readout",
    oracle=_CUPED_ORACLE,
    tags=("stats", "experimentation", "cuped", "ring-c"),
    description=(
        "CUPED variance-reduced A/B readout: per user, pre-period "
        "(before Jan 16) event value is the covariate and post-period "
        "value the metric; arms split by md5 hash gate; theta = "
        "cov(x,y)/var(x) from POOLED exact sufficient statistics "
        "(micro-unit BIGINT totals, DECIMAL(38,0) second moments -- "
        "order-free), adjusted arm mean = mean_y - theta*(mean_x - "
        "global mean_x), plus rho^2 = the theoretical variance-"
        "reduction factor.  The experimentation-platform readout that "
        "typically cuts required sample sizes 30-50%."
    ),
)
def q_cuped_ab_readout(spark, sf_dir):
    """TWO aggregation passes total (per-user rollup, then one global
    conditional-moment reduce) and nothing else -- the t-test's
    fixed-structure-expression discipline extended with a unit-level
    first stage.  Every sufficient statistic is an exact integer or
    DECIMAL(38,0); the theta/rho2 doubles are identical expressions
    in both engines."""
    ev = cat(spark, sf_dir).events
    piv = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp"))) < F.lit(
        _CUPED_PIVOT
    )
    u = ev.groupBy("user_id").agg(
        (hash_gate(F.col("user_id").cast("string"), "cuped") % 2)
        .cast("int")
        .alias("arm"),
        (
            F.coalesce(F.sum(F.when(piv, dec("value"))), F.lit(0))
            * 1000000
        )
        .cast("bigint")
        .alias("x"),
        (
            F.coalesce(F.sum(F.when(~piv, dec("value"))), F.lit(0))
            * 1000000
        )
        .cast("bigint")
        .alias("y"),
    )

    def moments(pred, t):
        cond = pred if pred is not None else F.lit(True)
        xd = F.col("x").cast("decimal(19,0)")
        yd = F.col("y").cast("decimal(19,0)")
        z = F.lit(0)
        return [
            F.count(F.when(cond, 1)).cast("bigint").alias(f"n{t}"),
            F.coalesce(F.sum(F.when(cond, F.col("x"))), z)
            .cast("bigint")
            .alias(f"sx{t}"),
            F.coalesce(F.sum(F.when(cond, F.col("y"))), z)
            .cast("bigint")
            .alias(f"sy{t}"),
            F.coalesce(F.sum(F.when(cond, xd * yd)), z)
            .cast("decimal(38,0)")
            .alias(f"sxy{t}"),
            F.coalesce(F.sum(F.when(cond, xd * xd)), z)
            .cast("decimal(38,0)")
            .alias(f"sxx{t}"),
            F.coalesce(F.sum(F.when(cond, yd * yd)), z)
            .cast("decimal(38,0)")
            .alias(f"syy{t}"),
        ]

    s = u.agg(
        *(
            moments(None, "")
            + moments(F.col("arm") == 0, "0")
            + moments(F.col("arm") == 1, "1")
        )
    )
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    covn = F.col("sxy").cast("double") - sxd * F.col("sy") / F.col("n")
    varxn = F.col("sxx").cast("double") - sxd * F.col("sx") / F.col("n")
    varyn = F.col("syy").cast("double") - syd * F.col("sy") / F.col("n")
    d = s.select(
        "*",
        (covn / varxn).alias("theta"),
        (covn * covn / (varxn * varyn)).alias("rho2"),
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    def arm_row(t, arm):
        return d.select(
            F.lit(arm).cast("int").alias("arm"),
            F.col(f"n{t}").alias("n_users"),
            q6(
                F.col(f"sy{t}").cast("double") / F.col(f"n{t}") / F.lit(1e6)
            ).alias("mean_y"),
            q6(
                (
                    F.col(f"sy{t}").cast("double") / F.col(f"n{t}")
                    - F.col("theta")
                    * (
                        F.col(f"sx{t}").cast("double") / F.col(f"n{t}")
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / F.lit(1e6)
            ).alias("mean_y_cuped"),
            q6(F.col("theta")).alias("theta"),
            q6(F.col("rho2")).alias("rho2"),
        )

    return arm_row("0", 0).unionAll(arm_row("1", 1)).orderBy("arm")


# --------------------------------------------------------------------------
# Experimentation guardrails: SRM check, two-proportion z, MDE sizing
# --------------------------------------------------------------------------

# One experimentation loop, one gate and one pivot: the SRM/z and
# MDE queries reuse the CUPED constants so they can never measure a
# different experiment than the readout.
_AB_GATE = _CUPED_GATE


@query(
    "q_ab_srm_and_ztest",
    oracle=f"""
WITH u AS (
  SELECT user_id,
    CAST({_AB_GATE} % 2 AS INTEGER) AS arm,
    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n0,
    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
  FROM u
),
d AS (
  SELECT *,
    CAST(n0 + n1 AS DOUBLE) AS n,
    CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pp
  FROM s
)
SELECT n0, n1,
  floor((CAST(n0 AS DOUBLE) - n / 2.0) * (CAST(n0 AS DOUBLE) - n / 2.0)
        / (n / 2.0) * 2.0 * 1000000.0 + 0.5) / 1000000.0 AS srm_chi2,
  CAST(CASE WHEN (CAST(n0 AS DOUBLE) - n / 2.0)
    * (CAST(n0 AS DOUBLE) - n / 2.0) / (n / 2.0) * 2.0 > 3.841 THEN 1
    ELSE 0 END AS BIGINT) AS srm_flag,
  floor(CAST(c0 AS DOUBLE) / n0 * 1000000.0 + 0.5) / 1000000.0 AS p0,
  floor(CAST(c1 AS DOUBLE) / n1 * 1000000.0 + 0.5) / 1000000.0 AS p1,
  floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
        / sqrt(greatest(1e-12, pp * (1.0 - pp)
                        * (1.0 / n0 + 1.0 / n1)))
        * 1000000.0 + 0.5) / 1000000.0 AS z_stat
FROM d
""",
    tags=("stats", "experimentation", "guardrail", "ring-c"),
    description=(
        "A/B guardrail + readout in one pass: sample-ratio-mismatch "
        "chi-square of the arm split against the designed 50/50 (with "
        "the 3.841 = chi2(1, 0.05) trust flag -- a failed SRM "
        "invalidates the experiment before any metric is read), then "
        "the two-proportion pooled z-test on user purchase conversion. "
        " All counts exact integers; the z expression is the "
        "identical IEEE sequence in both engines (sqrt is correctly "
        "rounded; the variance is clamped at 1e-12 against the "
        "all-converted edge, the chi-squared query's convention)."
    ),
)
def q_ab_srm_and_ztest(spark, sf_dir):
    """One per-user rollup (the only data-scale shuffle) + a 1-row
    conditional-count reduce + a fixed-structure scalar projection --
    the t-test discipline applied to the experimentation guardrail
    pair every A/B platform runs before trusting a readout."""
    ev = cat(spark, sf_dir).events
    u = ev.groupBy("user_id").agg(
        (hash_gate(F.col("user_id").cast("string"), "cuped") % 2)
        .cast("int")
        .alias("arm"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted"),
    )
    s = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    n = (F.col("n0") + F.col("n1")).cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    dev = F.col("n0").cast("double") - n / F.lit(2.0)
    chi2 = dev * dev / (n / F.lit(2.0)) * F.lit(2.0)
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")

    def q6(c):
        return portable_round(c, 6)

    return s.select(
        "n0",
        "n1",
        q6(chi2).alias("srm_chi2"),
        F.when(chi2 > F.lit(3.841), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("srm_flag"),
        q6(p0).alias("p0"),
        q6(p1).alias("p1"),
        q6(
            (p1 - p0)
            / F.sqrt(
                F.greatest(
                    F.lit(1e-12),
                    pp
                    * (F.lit(1.0) - pp)
                    * (
                        F.lit(1.0) / F.col("n0")
                        + F.lit(1.0) / F.col("n1")
                    ),
                )
            )
        ).alias("z_stat"),
    )


# z_{0.975} and z_{0.80}: fixed literals shared by both engine texts.
_MDE_ZA = "1.959963984540054"
_MDE_ZB = "0.8416212335729143"


@query(
    "q_ab_mde_power",
    oracle=f"""
WITH u AS (
  SELECT user_id,
    CAST(coalesce(sum(CASE WHEN floor(epoch(ts)) >= {_CUPED_PIVOT}
      THEN CAST(value AS DECIMAL(18,6)) END), 0) * 1000000 AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
      AS DECIMAL(38,0)) AS syy
  FROM u
),
d AS (
  SELECT n,
    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
      AS var_y,
    CAST(sy AS DOUBLE) / n AS mean_y
  FROM s
)
SELECT n AS n_users,
  floor(mean_y / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_y,
  floor(({_MDE_ZA} + {_MDE_ZB}) * sqrt(greatest(0.0, var_y) * 2.0 / (n / 2.0))
        / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mde_abs,
  floor(({_MDE_ZA} + {_MDE_ZB}) * sqrt(greatest(0.0, var_y) * 2.0 / (n / 2.0))
        / greatest(1e-12, mean_y) * 1000000.0 + 0.5) / 1000000.0
    AS mde_rel
FROM d
""",
    tags=("stats", "experimentation", "power", "ring-c"),
    description=(
        "A/B power sizing from observed data: the minimum detectable "
        "effect (alpha=0.05 two-sided, power=0.80) for a 50/50 split "
        "of the current population on post-period user value -- "
        "MDE = (z_a + z_b) * sqrt(2 * var / (n/2)), absolute and "
        "relative to the mean.  Variance from exact micro-unit BIGINT "
        "/ DECIMAL(38,0) sufficient statistics (the CUPED moments), "
        "z constants as shared literals, sqrt correctly rounded -- "
        "the pre-experiment question ('CAN this test detect the "
        "effect we care about?') answered by the same engine that "
        "will read the experiment out."
    ),
)
def q_ab_mde_power(spark, sf_dir):
    """One per-user rollup + a 1-row moment reduce + a scalar
    projection -- same cost envelope as the CUPED readout it sizes."""
    ev = cat(spark, sf_dir).events
    post = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp"))
    ) >= F.lit(_CUPED_PIVOT)
    u = ev.groupBy("user_id").agg(
        (
            F.coalesce(F.sum(F.when(post, dec("value"))), F.lit(0))
            * 1000000
        )
        .cast("bigint")
        .alias("y")
    )
    yd = F.col("y").cast("decimal(19,0)")
    s = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    var_y = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) / (F.col("n") - 1)
    mean_y = F.col("sy").cast("double") / F.col("n")
    mde = (
        F.lit(float(_MDE_ZA) + float(_MDE_ZB))
        * F.sqrt(
            F.greatest(F.lit(0.0), var_y) * F.lit(2.0) / (F.col("n") / F.lit(2.0))
        )
    )

    def q6(c):
        return portable_round(c, 6)

    return s.select(
        F.col("n").alias("n_users"),
        q6(mean_y / F.lit(1e6)).alias("mean_y"),
        q6(mde / F.lit(1e6)).alias("mde_abs"),
        q6(mde / F.greatest(F.lit(1e-12), mean_y)).alias("mde_rel"),
    )


# --------------------------------------------------------------------------
# Log-log demand slope per brand (pseudo price elasticity)
# --------------------------------------------------------------------------

_ELAS_ORACLE = """
WITH pts AS (
  -- each ln output quantized ONCE to the 1e-6 grid (the libm
  -- convention), so every second moment below is an exact integer /
  -- DECIMAL(38,0) accumulation with no ordering hazard.
  SELECT p.p_brand AS brand,
    CAST(floor(ln(l.l_extendedprice / l.l_quantity) * 1000000.0 + 0.5)
      AS BIGINT) AS x,
    CAST(floor(ln(l.l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
m AS (
  SELECT brand,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
      AS DECIMAL(38,0)) AS sxy,
    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
      AS DECIMAL(38,0)) AS sxx,
    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
      AS DECIMAL(38,0)) AS syy
  FROM pts GROUP BY brand HAVING count(*) >= 30
)
SELECT brand, n,
  floor((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
        * 1000000.0 + 0.5) / 1000000.0 AS elasticity,
  floor((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
        / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
           * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
        * 1000000.0 + 0.5) / 1000000.0 AS r2
FROM m ORDER BY brand
"""


@query(
    "q_price_elasticity_brand",
    oracle=_ELAS_ORACLE,
    tags=("mining", "regression", "economics", "ring-b"),
    description=(
        "Log-log demand slope per brand (the cross-sectional pseudo "
        "price elasticity): ln(unit price) vs ln(quantity) regressed "
        "per brand with each ln output quantized once to the 1e-6 "
        "grid, second moments as exact DECIMAL(38,0) products (BIGINT "
        "would overflow at x^2*n), slope + r^2 per brand with >= 30 "
        "observations.  The grouped OLS family's log-scale member "
        "next to the linear q_regression_price_on_qty."
    ),
)
def q_price_elasticity_brand(spark, sf_dir):
    """One fact-dim join (part is corpus-scaled, so the estimator
    picks the strategy -- broadcast at test SFs, shuffle at 100x) +
    one brand-keyed moment rollup + a 25-row projection; the ln
    quantization happens inside the aggregate's input projection, so
    the whole query is one data-scale pass."""
    c = cat(spark, sf_dir)
    pts = c.lineitem.join(
        c.part.select("p_partkey", "p_brand"),
        F.col("p_partkey") == F.col("l_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        F.floor(
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("l_quantity")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = (
        pts.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
            F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
            F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
        )
        .filter(F.col("n") >= 30)
    )
    covn = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ) / F.col("n")
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    vary = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ) / F.col("n")

    def q6(col):
        return portable_round(col, 6)

    return m.select(
        "brand",
        "n",
        q6(covn / varx).alias("elasticity"),
        q6(covn * covn / (varx * vary)).alias("r2"),
    ).orderBy("brand")


# --------------------------------------------------------------------------
# One-way ANOVA (event value by day-of-week) + Cramer's V effect size
# --------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) % 7 AS BIGINT) AS dow,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
    CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
      AS DOUBLE) AS q
  FROM events GROUP BY dow
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
    CAST(sum(n) AS BIGINT) AS n,
    CAST(sum(s) AS DOUBLE) AS st,
    CAST(sum(q) AS DOUBLE) AS qt,
    CAST(sum(s * s / n) AS DOUBLE) AS sb
  FROM g
)
SELECT k AS n_groups, n AS n_rows,
  floor((sb - st * st / n) * 1000000.0 + 0.5) / 1000000.0
    AS ss_between,
  floor((qt - sb) * 1000000.0 + 0.5) / 1000000.0 AS ss_within,
  floor(((sb - st * st / n) / (k - 1)) / ((qt - sb) / (n - k))
        * 1000000.0 + 0.5) / 1000000.0 AS f_stat
FROM t
"""


@query(
    "q_anova_value_by_dow",
    oracle=_ANOVA_ORACLE,
    tags=("stats", "hypothesis-test", "anova", "ring-c"),
    description=(
        "One-way ANOVA of event value across day-of-week groups: "
        "between/within sums of squares and the F statistic from ONE "
        "conditional-aggregation pass of exact DECIMAL sufficient "
        "statistics per group (the Welch-t convention widened to k "
        "groups).  ss_between = sum(s_g^2/n_g) - S^2/N, ss_within = "
        "Q - sum(s_g^2/n_g); one order-dependent double reduction "
        "exists (the 7-term sum over groups) and is pinned by the "
        "deterministic 7-row aggregate in both engines."
    ),
)
def q_anova_value_by_dow(spark, sf_dir):
    """One shuffle to the 7-group rollup, then a 1-row reduce and a
    fixed-structure scalar projection.  The only cross-group double
    sum runs over the bounded, deterministic 7-row relation, so the
    accumulation order is identical in both engines."""
    ev = cat(spark, sf_dir).events
    g = ev.groupBy(
        (
            F.floor(
                F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
                / F.lit(86400)
            )
            % 7
        )
        .cast("bigint")
        .alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("value")).cast("double").alias("s"),
        F.sum(dec("value") * dec("value")).cast("double").alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("double").alias("st"),
        F.sum("q").cast("double").alias("qt"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).cast("double").alias("sb"),
    )
    ssb = F.col("sb") - F.col("st") * F.col("st") / F.col("n")
    ssw = F.col("qt") - F.col("sb")
    return t.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        portable_round(ssb, 6).alias("ss_between"),
        portable_round(ssw, 6).alias("ss_within"),
        portable_round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
    )


_CRAMER_ORACLE = """
WITH o AS (
  SELECT event_type AS r,
    CAST(floor(floor(epoch(ts)) / 86400) % 7 AS BIGINT) AS c
  FROM events
),
cell AS (
  SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY r, c
),
rt AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cell GROUP BY r),
ct AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cell GROUP BY c),
n1 AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cell),
chi AS (
  -- chi2 = sum over cells of (obs - exp)^2 / exp with exp =
  -- nr*nc/N; each term evaluated in one identical double sequence,
  -- quantized to 1e-9 then integer-summed (order-free).
  SELECT CAST(sum(CAST(floor(
      (cell.n - CAST(rt.nr AS DOUBLE) * ct.nc / n1.n)
      * (cell.n - CAST(rt.nr AS DOUBLE) * ct.nc / n1.n)
      / (CAST(rt.nr AS DOUBLE) * ct.nc / n1.n)
      * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS chi_q,
    CAST(count(DISTINCT cell.r) AS BIGINT) AS nrow,
    CAST(count(DISTINCT cell.c) AS BIGINT) AS ncol
  FROM cell JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n1
)
SELECT chi.nrow AS n_rows_dim, chi.ncol AS n_cols_dim,
  chi_q / 1000000000.0 AS chi2,
  floor(sqrt(chi_q / 1000000000.0
             / ((SELECT n FROM n1)
                * (least(chi.nrow, chi.ncol) - 1)))
        * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
FROM chi
"""


@query(
    "q_cramers_v_type_dow",
    oracle=_CRAMER_ORACLE,
    tags=("stats", "effect-size", "ring-c"),
    description=(
        "Cramer's V effect size for the event-type x day-of-week "
        "contingency table: chi-squared from per-cell terms quantized "
        "once to the 1e-9 grid then integer-summed (order-free), "
        "V = sqrt(chi2 / (N * (min(r,c) - 1))).  The significance "
        "test next door (q_chi2_type_by_dow) says WHETHER the "
        "association exists; this says HOW BIG it is -- the pair a "
        "report should always print together."
    ),
)
def q_cramers_v_type_dow(spark, sf_dir):
    """One shuffle to the 35-cell contingency rollup; margins and the
    V scalar all derive from that bounded relation (checkpointed for
    its margin/total/term consumers)."""
    ev = cat(spark, sf_dir).events
    cell = (
        ev.groupBy(
            F.col("event_type").alias("r"),
            (
                F.floor(
                    F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
                    / F.lit(86400)
                )
                % 7
            )
            .cast("bigint")
            .alias("c"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    rt = cell.groupBy("r").agg(F.sum("n").cast("bigint").alias("nr"))
    ct = cell.groupBy("c").agg(F.sum("n").cast("bigint").alias("nc"))
    n1 = cell.agg(F.sum("n").cast("bigint").alias("n"))
    exp = F.col("nr").cast("double") * F.col("nc") / F.col("n")
    term = (
        (F.col("n_cell") - exp) * (F.col("n_cell") - exp) / exp
    )
    chi = (
        cell.withColumnRenamed("n", "n_cell")
        .join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n1))
        .agg(
            F.sum(
                F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("chi_q"),
            F.count_distinct("r").cast("bigint").alias("nrow"),
            F.count_distinct("c").cast("bigint").alias("ncol"),
            F.max("n").alias("ntot"),
        )
    )
    return chi.select(
        F.col("nrow").alias("n_rows_dim"),
        F.col("ncol").alias("n_cols_dim"),
        (F.col("chi_q") / F.lit(1e9)).alias("chi2"),
        portable_round(
            F.sqrt(
                F.col("chi_q")
                / F.lit(1e9)
                / (F.col("ntot") * (F.least("nrow", "ncol") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# ABC x XYZ inventory segmentation matrix (value x variability)
# --------------------------------------------------------------------------

_ABCXYZ_ORACLE = """
WITH r AS (
  SELECT l_partkey,
    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
  FROM lineitem GROUP BY l_partkey
),
w AS (
  SELECT l_partkey, rev,
    sum(rev) OVER (ORDER BY rev DESC, l_partkey
                   ROWS UNBOUNDED PRECEDING) AS cum,
    sum(rev) OVER () AS total
  FROM r
),
abc AS (
  SELECT l_partkey, rev,
    CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
         WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
         ELSE 'C' END AS abc_class
  FROM w
),
d AS (
  SELECT l_partkey,
    CAST(floor(floor(epoch(l_shipdate)) / 86400) AS BIGINT) AS day,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey, day
),
m AS (
  SELECT l_partkey,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(q) AS BIGINT) AS sq,
    CAST(sum(q * q) AS BIGINT) AS sqq
  FROM d GROUP BY l_partkey HAVING count(*) >= 2
),
xyz AS (
  SELECT l_partkey,
    CASE WHEN sqrt(greatest(0.0,
        (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n) / (n - 1)))
        / (CAST(sq AS DOUBLE) / n) < 0.5 THEN 'X'
      WHEN sqrt(greatest(0.0,
        (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n) / (n - 1)))
        / (CAST(sq AS DOUBLE) / n) < 1.0 THEN 'Y'
      ELSE 'Z' END AS xyz_class
  FROM m
)
SELECT abc.abc_class, xyz.xyz_class,
  CAST(count(*) AS BIGINT) AS n_parts,
  floor(CAST(sum(abc.rev) AS DOUBLE)
        / (SELECT CAST(sum(rev) AS DOUBLE) FROM r) * 1000000.0 + 0.5)
    / 1000000.0 AS revenue_share
FROM abc JOIN xyz USING (l_partkey)
GROUP BY abc.abc_class, xyz.xyz_class
ORDER BY abc_class, xyz_class
"""


@query(
    "q_abc_xyz_matrix",
    oracle=_ABCXYZ_ORACLE,
    tags=("analytics", "inventory", "segmentation", "ring-b"),
    description=(
        "ABC x XYZ inventory segmentation: revenue Pareto class "
        "(A = first 80% of cumulative revenue, B = next 15%, C = "
        "tail) crossed with demand-variability class from the daily "
        "coefficient of variation (X < 0.5, Y < 1.0, Z otherwise; "
        "parts need >= 2 demand days for a CV), per-cell part counts "
        "and revenue share.  THE classic planning matrix: AX = "
        "forecast + automate, CZ = make-to-order -- composing the "
        "Pareto report with the safety-stock moments."
    ),
)
def q_abc_xyz_matrix(spark, sf_dir):
    """Two part-keyed rollups (revenue; day rollup -> moments) share
    the part key; the ABC cumulative runs through range_block +
    blocked_running because the part aggregate is NOT catalog-bounded
    -- parts scale with SF (r10 suspect check: 10x per decade), so the
    r9 global cumulative window was a single task holding every part
    (the q_abc_pareto_parts fix, applied to the same shape here).
    Facts are scanned twice and never sorted."""
    li = cat(spark, sf_dir).lineitem
    r = li.groupBy("l_partkey").agg(F.sum(dec("l_extendedprice")).alias("rev"))
    rb = RK.range_block(r, F.col("rev"), n_blocks=4096, descending=True)
    cum = RK.blocked_running(
        rb,
        "__blk",
        [F.desc("rev"), "l_partkey"],
        running_sums={"cum": "rev"},
        max_blocks=4096,
    ).crossJoin(F.broadcast(r.agg(F.sum("rev").alias("total"))))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    abc = cum.select(
        "l_partkey",
        "rev",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc_class"),
    )
    d = li.groupBy(
        "l_partkey",
        F.floor(
            F.floor(F.unix_timestamp(F.col("l_shipdate").cast("timestamp")))
            / F.lit(86400)
        )
        .cast("bigint")
        .alias("day"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    m = (
        d.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("sq"),
            F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        )
        .filter(F.col("n") >= 2)
    )
    cv = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double") * F.col("sq") / F.col("n")
            )
            / (F.col("n") - 1),
        )
    ) / (F.col("sq").cast("double") / F.col("n"))
    xyz = m.select(
        "l_partkey",
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z")
        .alias("xyz_class"),
    )
    tot = r.agg(F.sum("rev").cast("double").alias("t"))
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("double").alias("__rev_d"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            portable_round(F.col("__rev_d") / F.col("t"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class", "xyz_class")
    )
