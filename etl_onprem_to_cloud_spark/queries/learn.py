"""In-engine learning queries: classifier TRAINING + INFERENCE + EVAL
expressed as one declarative plan (no MLlib, no Python loop), so the
whole supervised pipeline -- split, fit, predict, confusion matrix --
is oracle-checkable like any other query.

Determinism contract: the train/test split is the md5 hash-gate
(repartition-stable, content-derived), all counts/priors are exact
integers, and every log term is quantized ONCE to the 1e-6 fixed-point
grid (floor-based half-up, identical IEEE ops in both engines) before
integer summation -- the q_temperature_mixture convention for non-
correctly-rounded libm functions.  Residual risk: a >=1-ulp ln()
divergence landing within 1e-15 of a grid boundary (~1e-9 per term),
accepted and documented like the pow case.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.sampling import _MOD, duck_hash_gate, hash_gate
from ..functions.text import tokens
from ._util import cat, duck_tokens
from . import query

_NB_SALT = "nbsplit"
_NB_TRAIN = int(0.8 * _MOD)
_NB_P = 1_000_000.0  # log-term fixed-point grid


def _qln(col):
    """floor(ln(x) * 1e6 + 0.5) as BIGINT -- the quantized log term."""
    return F.floor(F.log(col) * F.lit(_NB_P) + F.lit(0.5)).cast("bigint")


_NB_GATE = duck_hash_gate("CAST(doc_id AS VARCHAR)", _NB_SALT)

# Shared CTE prefix: everything through the per-(test doc, class)
# quantized log-posterior `scores` relation.  Both the confusion-matrix
# query and the calibration query append their own tail, so the two
# oracles can never drift from each other.
_NB_SCORES_CTE = f"""toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS w FROM documents
),
train_docs AS (
  SELECT doc_id, lang FROM documents WHERE {_NB_GATE} < {_NB_TRAIN}
),
test_docs AS (
  SELECT doc_id, lang FROM documents WHERE {_NB_GATE} >= {_NB_TRAIN}
),
ttr AS (
  SELECT tr.lang, t.w FROM toks t JOIN train_docs tr USING (doc_id)
),
wc AS (SELECT lang, w, count(*) AS cnt FROM ttr GROUP BY lang, w),
nc AS (SELECT lang, count(*) AS n_tok FROM ttr GROUP BY lang),
v AS (SELECT count(DISTINCT w) AS nv FROM ttr),
cls AS (SELECT lang AS c, count(*) AS n_docs FROM train_docs GROUP BY lang),
tot AS (SELECT sum(n_docs) AS n FROM cls),
prior AS (
  SELECT c, CAST(floor(ln(CAST(n_docs AS DOUBLE)
    / (SELECT CAST(n AS DOUBLE) FROM tot)) * {_NB_P} + 0.5) AS BIGINT)
    AS prior_q
  FROM cls
),
ttok AS (
  SELECT t.doc_id, t.w, count(*) AS tf
  FROM toks t JOIN test_docs te USING (doc_id)
  GROUP BY t.doc_id, t.w
),
term AS (
  SELECT tt.doc_id, p.c,
    sum(tt.tf * CAST(floor(ln(
      CAST(COALESCE(wc.cnt, 0) + 1 AS DOUBLE)
      / CAST(nc.n_tok + v.nv AS DOUBLE)) * {_NB_P} + 0.5) AS BIGINT))
      AS tok_score
  FROM ttok tt
  CROSS JOIN (SELECT c FROM cls) p
  LEFT JOIN wc ON wc.lang = p.c AND wc.w = tt.w
  JOIN nc ON nc.lang = p.c
  CROSS JOIN v
  GROUP BY tt.doc_id, p.c
),
scores AS (
  SELECT td.doc_id, td.lang AS true_lang, pr.c,
    pr.prior_q + COALESCE(term.tok_score, 0) AS score
  FROM test_docs td
  CROSS JOIN prior pr
  LEFT JOIN term ON term.doc_id = td.doc_id AND term.c = pr.c
)"""


@query(
    "q_nb_lang_classifier",
    oracle=f"""
WITH {_NB_SCORES_CTE},
pred AS (
  SELECT doc_id, true_lang, c AS pred_lang FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, c) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
""",
    tags=("learn", "classifier", "nb", "text", "ring-c"),
    description=(
        "Multinomial Naive Bayes language classifier trained, applied "
        "and evaluated ENTIRELY in-engine as one declarative plan: "
        "80/20 md5 hash-gate split, add-1-smoothed token likelihoods "
        "and document priors from the train fold, argmax posterior "
        "(log terms quantized to fixed-point BIGINT, exact integer "
        "sums, ties to the smaller class) on the test fold, output = "
        "the confusion matrix.  The full supervised pipeline is a "
        "value-oracled query -- no MLlib, no driver loop."
    ),
)
def q_nb_lang_classifier(spark, sf_dir):
    """Shuffle shape: token stats shuffle on (lang, w) / w; scoring
    joins the test token counts to the per-class likelihood table on
    the word key (the likelihood table is vocabulary-sized -- at
    100 TB it is the natural broadcast side after a df-cutoff) and
    reduces per (doc, class).  The 5-row class/prior/vocab relations
    ride along as broadcast crossJoins."""
    scores = _nb_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "c")
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("c").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def _nb_scores(spark, sf_dir):
    """The shared train+score plan: per (test doc, class) quantized
    log-posterior `score` (BIGINT micro-units) with `true_lang`
    alongside.  Spark twin of _NB_SCORES_CTE."""
    docs = cat(spark, sf_dir).documents
    gate = hash_gate(F.col("doc_id").cast("string"), _NB_SALT)
    base = docs.select("doc_id", "lang", tokens(F.lower("text")).alias("tk"))
    train = base.filter(gate < _NB_TRAIN)
    test = base.filter(gate >= _NB_TRAIN)

    ttr = train.select("lang", F.explode("tk").alias("w"))
    wc = ttr.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    # nc and v are DERIVED from wc (r10, value-identical: summing the
    # per-word counts per class IS the class token count; the distinct
    # words of the (lang, w) pair table ARE the vocabulary): the three
    # independent aggregations each re-ran the train-side
    # tokenize+explode, so this drops two corpus explode passes.  A
    # spread / persisted-wc variant measured WORSE at bench density
    # (0.78 / 0.79 vs 0.58 s min-of-3) -- the scoring plan is too cheap
    # here to amortize an extra exchange or a materialization barrier
    # -- so wc stays lazy and the consumers rely on exchange reuse.
    nc = wc.groupBy("lang").agg(F.sum("cnt").alias("n_tok"))
    v = wc.agg(F.count_distinct("w").alias("nv"))
    cls = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cls.agg(F.sum("n_docs").cast("double").alias("n"))
    prior = (
        cls.crossJoin(F.broadcast(tot))
        .select(
            F.col("lang").alias("c"),
            _qln(F.col("n_docs").cast("double") / F.col("n")).alias("prior_q"),
        )
    )

    ttok = (
        test.select("doc_id", F.explode("tk").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    classes = cls.select(F.col("lang").alias("c"))
    likelihood = (
        ttok.crossJoin(F.broadcast(classes))
        .join(
            wc.select(F.col("lang").alias("c"), "w", "cnt"), ["c", "w"], "left"
        )
        .join(F.broadcast(nc.select(F.col("lang").alias("c"), "n_tok")), "c")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "c",
            (
                F.col("tf")
                * _qln(
                    (F.coalesce("cnt", F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("n_tok") + F.col("nv")).cast("double")
                )
            ).alias("t"),
        )
    )
    term = likelihood.groupBy("doc_id", "c").agg(F.sum("t").alias("tok_score"))
    return (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(prior))
        .join(term, ["doc_id", "c"], "left")
        .select(
            "doc_id",
            "true_lang",
            "c",
            (F.col("prior_q") + F.coalesce("tok_score", F.lit(0))).alias(
                "score"
            ),
        )
    )


_CAL_BINS = 10

# Shared tail on top of _NB_SCORES_CTE: per test doc the softmaxed
# top-label confidence in integer micro-units, its confidence bin and
# correctness flag.  Both the reliability-bin query and the isotonic
# recalibration query build on this, so their oracles cannot drift.
_NB_CONF_CTE = f"""{_NB_SCORES_CTE},
top1 AS (
  SELECT doc_id, true_lang, c AS pred_lang, score AS top_score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, c) AS rn
    FROM scores
  ) WHERE rn = 1
),
soft AS (
  -- quantize EACH exp term to the 1e-6 grid before summing (the
  -- q_temperature_mixture libm convention); deltas are <= 0 so every
  -- term is in [0, 1e6] and the integer sum is exact.
  SELECT s.doc_id, t.true_lang, t.pred_lang,
    sum(CAST(floor(exp((s.score - t.top_score) / {_NB_P})
      * {_NB_P} + 0.5) AS BIGINT)) AS denom
  FROM scores s JOIN top1 t USING (doc_id)
  GROUP BY s.doc_id, t.true_lang, t.pred_lang
),
conf AS (
  -- p_top quantized ONCE to integer micro-units (1e12/denom is a
  -- single correctly-rounded double division in both engines, then
  -- the shared floor); all downstream sums are exact integers, so no
  -- accumulation-order hazard exists anywhere in this query.
  SELECT doc_id,
    CAST(floor(1000000000000.0 / denom + 0.5) AS BIGINT) AS p_micro,
    least(CAST(floor({_NB_P} / denom * {_CAL_BINS}) AS BIGINT),
          {_CAL_BINS - 1}) AS bin,
    CAST(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END AS BIGINT)
      AS correct
  FROM soft
)"""


def _nb_confidence(spark, sf_dir):
    """Per test doc: softmaxed top-label confidence (integer
    micro-units), confidence bin and correctness flag -- the Spark
    twin of _NB_CONF_CTE, shared by the reliability-bin and isotonic
    recalibration queries.

    ONE doc-keyed aggregation (not a window + re-join): the per-class
    score set is |classes|-bounded (~5), so collecting it per doc is
    constant-size and the expensive scoring subtree is consumed ONCE
    (the window+join form re-executed it and was the round-4
    rehearsal's only super-linear flag -- 19.9s / exponent 1.01 at
    sf1).  min(struct(-score, c)) replays the (score DESC, c)
    tie-break exactly; the softmax denominator is the per-term-
    quantized integer sum folded over the tiny array."""
    scores = _nb_scores(spark, sf_dir)
    per_doc = scores.groupBy("doc_id", "true_lang").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("c"))).alias("top"),
        F.collect_list("score").alias("ss"),
    )
    soft = per_doc.select(
        "doc_id",
        "true_lang",
        F.col("top.c").alias("pred_lang"),
        F.aggregate(
            "ss",
            F.lit(0).cast("bigint"),
            lambda acc, s: acc
            + F.floor(
                F.exp((s + F.col("top.ns")) / F.lit(_NB_P)) * F.lit(_NB_P)
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("denom"),
    )
    return soft.select(
        "doc_id",
        F.floor(F.lit(1e12) / F.col("denom") + F.lit(0.5))
        .cast("bigint")
        .alias("p_micro"),
        F.least(
            F.floor(F.lit(_NB_P) / F.col("denom") * F.lit(_CAL_BINS)).cast(
                "bigint"
            ),
            F.lit(_CAL_BINS - 1).cast("bigint"),
        ).alias("bin"),
        F.when(F.col("true_lang") == F.col("pred_lang"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("correct"),
    )


@query(
    "q_nb_calibration_bins",
    oracle=f"""
WITH {_NB_CONF_CTE},
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(correct) AS BIGINT) AS n_correct,
    CAST(sum(p_micro) AS BIGINT) AS conf_micro,
    -- per-doc squared error in micro-units (d*d DIV 1e6): exact
    -- integer ops, bounded by 1e6 per doc so the global sum holds to
    -- ~9e12 docs.
    CAST(sum((p_micro - correct * 1000000)
             * (p_micro - correct * 1000000) // 1000000) AS BIGINT)
      AS sq_micro
  FROM conf GROUP BY bin
),
gtot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
    CAST(sum(abs(conf_micro - n_correct * 1000000)) AS BIGINT)
      AS ece_micro,
    CAST(sum(sq_micro) AS BIGINT) AS brier_micro
  FROM bins
)
SELECT b.bin,
  b.n_docs,
  floor(CAST(b.conf_micro AS DOUBLE) / b.n_docs + 0.5) / 1000000.0
    AS avg_confidence,
  floor(CAST(b.n_correct AS DOUBLE) / b.n_docs * 1000000.0 + 0.5)
    / 1000000.0 AS accuracy,
  floor(CAST(t.ece_micro AS DOUBLE) / t.n + 0.5) / 1000000.0 AS ece,
  floor(CAST(t.brier_micro AS DOUBLE) / t.n + 0.5) / 1000000.0
    AS brier_top
FROM bins b CROSS JOIN gtot t
ORDER BY b.bin
""",
    tags=("learn", "eval", "calibration", "ring-c"),
    description=(
        "Reliability diagram for the Naive Bayes classifier: softmax "
        "the quantized log-posteriors into a top-label confidence "
        "(each exp term floor-quantized to the 1e-6 grid before the "
        "exact integer sum -- the libm convention), bucket test docs "
        f"into {_CAL_BINS} confidence bins, and report per-bin average "
        "confidence vs empirical accuracy plus the global expected "
        "calibration error and top-label Brier score.  The "
        "trust-the-classifier gate that goes next to the confusion "
        "matrix."
    ),
)
def q_nb_calibration_bins(spark, sf_dir):
    """One doc-keyed aggregation on top of the shared scoring plan
    (see _nb_confidence), a {_CAL_BINS}-row bin rollup, and broadcast
    ECE / Brier scalars riding as 1-row crossJoins.  Nothing shuffles
    at data scale beyond the scoring plan itself."""
    conf = _nb_confidence(spark, sf_dir)
    bins = conf.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("correct").cast("bigint").alias("n_correct"),
        F.sum("p_micro").cast("bigint").alias("conf_micro"),
        F.sum(F.expr("(p_micro - correct * 1000000)"
                     " * (p_micro - correct * 1000000) DIV 1000000"))
        .cast("bigint")
        .alias("sq_micro"),
    )
    tot = bins.agg(
        F.sum("n_docs").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("conf_micro") - F.col("n_correct") * F.lit(1000000)))
        .cast("bigint")
        .alias("ece_micro"),
        F.sum("sq_micro").cast("bigint").alias("brier_micro"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            (
                F.floor(
                    F.col("conf_micro").cast("double") / F.col("n_docs")
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("avg_confidence"),
            (
                F.floor(
                    F.col("n_correct").cast("double")
                    / F.col("n_docs")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("accuracy"),
            (
                F.floor(
                    F.col("ece_micro").cast("double") / F.col("n") + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("ece"),
            (
                F.floor(
                    F.col("brier_micro").cast("double") / F.col("n")
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("brier_top"),
        )
        .orderBy("bin")
    )


_KFOLD_K = 5
_KFOLD_GATE = duck_hash_gate("CAST(doc_id AS VARCHAR)", "kfold")


@query(
    "q_kfold_balance",
    oracle=f"""
WITH f AS (
  SELECT CAST({_KFOLD_GATE} % {_KFOLD_K} AS INTEGER) AS fold, lang
  FROM documents
),
ft AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS fold_docs FROM f GROUP BY fold
)
SELECT f.fold, f.lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  ft.fold_docs,
  floor(CAST(count(*) AS DOUBLE) / ft.fold_docs * 1000000.0 + 0.5)
    / 1000000.0 AS frac_of_fold
FROM f JOIN ft USING (fold)
GROUP BY f.fold, f.lang, ft.fold_docs
ORDER BY fold, lang
""",
    tags=("learn", "eval", "split", "ring-c"),
    description=(
        f"{_KFOLD_K}-fold cross-validation assignment with a fold-"
        "balance report: fold = content-derived md5 hash-gate mod k "
        "(repartition/rerun-stable, no rand()), output = per (fold, "
        "label) counts and within-fold fraction -- the sanity check "
        "that the folds are label-balanced before any CV loop trusts "
        "them.  Fractions are exact-integer ratios through the "
        "portable floor rounding."
    ),
)
def q_kfold_balance(spark, sf_dir):
    """One shuffle on (fold, lang) -- k*|labels| groups -- plus a
    broadcast of the k-row fold totals; the assignment itself is
    map-only and needs no shuffle at any corpus size."""
    docs = cat(spark, sf_dir).documents
    f = docs.select(
        (hash_gate(F.col("doc_id").cast("string"), "kfold") % _KFOLD_K)
        .cast("int")
        .alias("fold"),
        "lang",
    )
    ft = f.groupBy("fold").agg(F.count(F.lit(1)).cast("bigint").alias("fold_docs"))
    return (
        f.groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(ft), "fold")
        .select(
            "fold",
            "lang",
            "n_docs",
            "fold_docs",
            (
                F.floor(
                    F.col("n_docs").cast("double")
                    / F.col("fold_docs")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("frac_of_fold"),
        )
        .orderBy("fold", "lang")
    )


# Poisson(1) multiplicity thresholds on the 16-bit hash-slice grid
# (floor(cdf(k) * 2^16) for k = 0..3; the >= t3 tail gets
# multiplicity 4).  Computed once in Python on the 2^16 grid and
# embedded as identical integer literals in both engines.  The 16-bit
# grid quantizes the Poisson cdf to ~1.5e-5 -- harmless for a
# bootstrap (the multiplicity distribution is what matters, not its
# 6th decimal) and it lets one digest serve EIGHT replicas.
_BOOT_T = (24109, 48218, 60273, 64291)
_BOOT_B = 32
# One md5 serves eight replicas: the 32-hex digest splits into 8
# independent 4-hex (16-bit) uniforms.  md5 is the expensive op here
# (the only per-row work), so the two-step fan-out -- explode the 4
# hash groups, hash, THEN explode the 8 slices -- cuts hashing 8x
# versus one md5 per (row, replica).
_BOOT_GROUPS = _BOOT_B // 8


@query(
    "q_bootstrap_mean_ci",
    oracle=f"""
WITH hg AS (
  SELECT o.o_totalprice, grp.grp,
    md5('boot' || '|' || CAST(o.o_orderkey AS VARCHAR)
        || '#' || CAST(grp.grp AS VARCHAR)) AS h
  FROM orders o, LATERAL (
    SELECT unnest(generate_series(1, {_BOOT_GROUPS})) AS grp) grp
),
x AS (
  SELECT o_totalprice, (grp - 1) * 8 + s + 1 AS b,
    CAST(concat('0x', substr(h, 1 + 4 * s, 4)) AS BIGINT) AS g
  FROM hg, LATERAL (SELECT unnest(generate_series(0, 7)) AS s) s
),
w AS (
  SELECT b, o_totalprice,
    CASE WHEN g < {_BOOT_T[0]} THEN 0
         WHEN g < {_BOOT_T[1]} THEN 1
         WHEN g < {_BOOT_T[2]} THEN 2
         WHEN g < {_BOOT_T[3]} THEN 3
         ELSE 4 END AS m
  FROM x
),
rep AS (
  SELECT b,
    CAST(sum(m * CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      / sum(m) AS rep_mean
  FROM w GROUP BY b
),
rk AS (
  SELECT rep_mean,
    row_number() OVER (ORDER BY rep_mean, b) AS rn
  FROM rep
),
full_mean AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*)
      AS mean_price
  FROM orders
)
SELECT f.n_orders,
  floor(f.mean_price * 1000000.0 + 0.5) / 1000000.0 AS mean_price,
  floor(lo.rep_mean * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
  floor(hi.rep_mean * 1000000.0 + 0.5) / 1000000.0 AS ci_hi,
  CAST({_BOOT_B} AS BIGINT) AS n_replicas
FROM full_mean f,
  (SELECT rep_mean FROM rk WHERE rn = 2) lo,
  (SELECT rep_mean FROM rk WHERE rn = {_BOOT_B - 1}) hi
""",
    tags=("stats", "bootstrap", "ring-c", "analytics"),
    description=(
        "Deterministic Poisson bootstrap of the mean order price: each "
        f"of {_BOOT_B} replicas gives every order a Poisson(1) "
        "multiplicity derived from the md5 hash-gate (thresholds "
        "embedded as identical integer literals -- no rand(), rerun- "
        "and repartition-stable), replica means use exact DECIMAL "
        "sums, and the 90%-ish CI picks the 2nd/31st sorted replica "
        "means by exact rank.  THE scalable bootstrap: one pass, no "
        "resample materialization."
    ),
)
def q_bootstrap_mean_ci(spark, sf_dir):
    """Scale shape: the replica fan-out is an in-task explode (x32
    rows) that aggregates map-side into just B groups -- one tiny
    shuffle of B partial rows per task, no data-sized shuffle at any
    corpus size; the CI rank runs on a B-row relation."""
    orders = cat(spark, sf_dir).orders
    # Pin the fan-out's parallelism: the 32x explode multiplies
    # whatever the scan gives, and a small single-file input would
    # serialize the whole hash+agg pipeline into one task.  The
    # repartition moves only the skinny (price, key) projection, and
    # its width follows the session's core count, so the same plan is
    # right on one box and on a 1000-executor cluster.  Values cannot
    # depend on the layout (content-derived hashes, order-independent
    # DECIMAL sums).
    skinny = orders.select(
        "o_totalprice", F.col("o_orderkey").cast("string").alias("k")
    ).repartition(spark.sparkContext.defaultParallelism)
    hg = skinny.select(
        "o_totalprice",
        "k",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_GROUPS))).alias("grp"),
    ).select(
        "o_totalprice",
        "grp",
        F.md5(
            F.concat_ws(
                "|",
                F.lit("boot"),
                F.concat_ws("#", F.col("k"), F.col("grp").cast("string")),
            ).cast("binary")
        ).alias("h"),
    )
    # Second fan-out AFTER the hash projection: the explode barrier
    # keeps Catalyst from collapsing the md5 into the per-slice
    # projection (the two-step tokenize-then-explode convention), so
    # each digest is computed once and sliced eight times (one 4-hex
    # 16-bit slice per s in 0..7 -- 32 hex chars / 4 = 8 slices, the
    # arithmetic behind _BOOT_GROUPS = 32 // 8).
    x = hg.select(
        "o_totalprice",
        "grp",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s"),
    ).select(
        "o_totalprice",
        ((F.col("grp") - 1) * 8 + F.col("s") + 1).alias("b"),
        F.conv(
            F.col("h").substr(F.lit(1) + F.lit(4) * F.col("s"), F.lit(4)),
            16,
            10,
        )
        .cast("bigint")
        .alias("g"),
    )
    g = F.col("g")
    m = (
        F.when(g < _BOOT_T[0], 0)
        .when(g < _BOOT_T[1], 1)
        .when(g < _BOOT_T[2], 2)
        .when(g < _BOOT_T[3], 3)
        .otherwise(4)
    )
    rep = (
        x.select("b", "o_totalprice", m.alias("m"))
        .groupBy("b")
        .agg(
            (
                F.sum(
                    F.col("m") * F.col("o_totalprice").cast("decimal(18,6)")
                ).cast("double")
                / F.sum("m")
            ).alias("rep_mean")
        )
    )
    w = Window.orderBy("rep_mean", "b")
    rk = rep.withColumn("rn", F.row_number().over(w))
    lo = rk.filter(F.col("rn") == 2).select(F.col("rep_mean").alias("lo"))
    hi = rk.filter(F.col("rn") == _BOOT_B - 1).select(
        F.col("rep_mean").alias("hi")
    )
    full = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price"),
    )

    def pr6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        full.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_orders",
            pr6(F.col("mean_price")).alias("mean_price"),
            pr6(F.col("lo")).alias("ci_lo"),
            pr6(F.col("hi")).alias("ci_hi"),
            F.lit(_BOOT_B).cast("bigint").alias("n_replicas"),
        )
    )


# --------------------------------------------------------------------------
# Leakage-safe target encoding (out-of-fold, smoothed)
# --------------------------------------------------------------------------

_TE_K = 5
_TE_M = 20.0  # smoothing pseudo-count toward the global mean
_TE_GATE = duck_hash_gate("CAST(o_orderkey AS VARCHAR)", "te")


@query(
    "q_target_encoding_oof",
    oracle=f"""
WITH f AS (
  SELECT o_orderpriority AS priority,
    CAST({_TE_GATE} % {_TE_K} AS INTEGER) AS fold,
    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
pf AS (
  SELECT priority, fold, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(cents) AS BIGINT) AS s
  FROM f GROUP BY priority, fold
),
p AS (
  SELECT priority, CAST(sum(n) AS BIGINT) AS tn,
    CAST(sum(s) AS BIGINT) AS ts
  FROM pf GROUP BY priority
),
g AS (SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(s) AS BIGINT) AS gs FROM pf)
SELECT pf.priority, pf.fold, pf.n AS n_fold,
  floor((CAST(p.ts - pf.s AS DOUBLE) + {_TE_M} * (CAST(g.gs AS DOUBLE) / g.gn))
        / (CAST(p.tn - pf.n AS DOUBLE) + {_TE_M})
        / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS te_oof_dollars,
  floor(CAST(pf.s AS DOUBLE) / pf.n / 100.0 * 1000000.0 + 0.5) / 1000000.0
    AS infold_mean_dollars
FROM pf JOIN p ON p.priority = pf.priority CROSS JOIN g
ORDER BY pf.priority, pf.fold
""",
    tags=("learn", "feature", "encoding", "ring-c"),
    description=(
        f"Leakage-safe target encoding of order priority by order "
        f"value: {_TE_K} content-hash folds (md5 gate, rerun-stable), "
        f"each fold's encoding computed from the OTHER folds' exact "
        f"integer-cent sums, smoothed toward the global mean with "
        f"m={_TE_M:.0f} pseudo-counts -- the out-of-fold construction "
        "that keeps a row's own target out of its feature.  The "
        "in-fold mean rides along so the leakage gap is visible."
    ),
)
def q_target_encoding_oof(spark, sf_dir):
    """One shuffle: the (category, fold) rollup.  Category totals and
    the global mean derive from the 25-row rollup (broadcast back),
    so the encoding table costs ONE aggregation pass over the fact
    table at any scale -- the fact-table join that APPLIES the
    encoding is the consumer's (broadcast) join, not this query's.
    Exactness: all sums are integer cents; the smoothing/eviction
    arithmetic is the identical IEEE double sequence in both engines
    (exact integer inputs, single correctly-rounded divisions)."""
    orders = cat(spark, sf_dir).orders
    f = orders.select(
        F.col("o_orderpriority").alias("priority"),
        (hash_gate(F.col("o_orderkey").cast("string"), "te") % _TE_K)
        .cast("int")
        .alias("fold"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    pf = f.groupBy("priority", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    p = pf.groupBy("priority").agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts"),
    )
    g = pf.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("s").cast("bigint").alias("gs"),
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        pf.join(F.broadcast(p), "priority")
        .crossJoin(F.broadcast(g))
        .select(
            "priority",
            "fold",
            F.col("n").alias("n_fold"),
            q6(
                (
                    (F.col("ts") - F.col("s")).cast("double")
                    + F.lit(_TE_M) * (F.col("gs").cast("double") / F.col("gn"))
                )
                / ((F.col("tn") - F.col("n")).cast("double") + F.lit(_TE_M))
                / F.lit(100.0)
            ).alias("te_oof_dollars"),
            q6(
                F.col("s").cast("double") / F.col("n") / F.lit(100.0)
            ).alias("infold_mean_dollars"),
        )
        .orderBy("priority", "fold")
    )


# --------------------------------------------------------------------------
# Isotonic recalibration (PAV fixpoint via the minimax closed form)
# --------------------------------------------------------------------------


@query(
    "q_isotonic_recalibration",
    oracle=f"""
WITH {_NB_CONF_CTE},
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(correct) AS BIGINT) AS n_correct
  FROM conf GROUP BY bin
),
rng AS (
  SELECT i.bin AS lo, j.bin AS hi,
    CAST(sum(m.n_correct) AS DOUBLE) / CAST(sum(m.n_docs) AS DOUBLE) AS a
  FROM bins i JOIN bins j ON j.bin >= i.bin
  JOIN bins m ON m.bin BETWEEN i.bin AND j.bin
  GROUP BY i.bin, j.bin
),
tki AS (
  SELECT k.bin AS bin, r.lo, min(r.a) AS t
  FROM bins k JOIN rng r ON r.lo <= k.bin AND r.hi >= k.bin
  GROUP BY k.bin, r.lo
),
iso AS (SELECT bin, max(t) AS iso_a FROM tki GROUP BY bin)
SELECT b.bin, b.n_docs,
  floor(CAST(b.n_correct AS DOUBLE) / b.n_docs * 1000000.0 + 0.5)
    / 1000000.0 AS accuracy,
  floor(iso.iso_a * 1000000.0 + 0.5) / 1000000.0 AS iso_accuracy
FROM bins b JOIN iso USING (bin) ORDER BY b.bin
""",
    tags=("learn", "eval", "calibration", "isotonic", "ring-c"),
    description=(
        "Isotonic recalibration of the NB confidence bins: the "
        "weighted pool-adjacent-violators fit computed through its "
        "minimax closed form iso(k) = max over i<=k of min over j>=k "
        "of avg(accuracy over bins i..j) -- no sequential pooling "
        "loop, just range averages over the bounded bin relation, so "
        "the PAV fixpoint is reached in one declarative expression.  "
        "Output: per bin the raw vs isotonic (monotone) accuracy -- "
        "the mapping a score-thresholding consumer applies to turn "
        "raw confidences into calibrated probabilities."
    ),
)
def q_isotonic_recalibration(spark, sf_dir):
    """The data-scale work is the shared confidence plan, reduced to
    ONE <= _CAL_BINS-row aggregation; the PAV minimax over those bins
    is then computed driver-side in one pass (r11, guide §4/§5: driver
    work on provably-bounded data -- the k-center / PageRank-scalar
    precedent).  The previous shape ran the bounded range joins as a
    5-consumer distributed chain behind an eager checkpoint: ~5 extra
    jobs + per-round codegen for at most 10 rows of data (measured
    2.7 s in the r11 bench, 1.66 s isolated; the collect form re-runs
    the same corpus plan once and the minimax is free).

    Exactness: every Python op replays the engine op on identical
    IEEE doubles -- a = float(sum int)/float(sum int) is one
    correctly-rounded division (same as Spark's cast-double ratio of
    exact BIGINT sums), min/max over identical doubles are order-free,
    and q6 = floor(x*1e6+0.5)/1e6 is the same three-op sequence both
    engines run.  Verified hash-identical to the DuckDB oracle at
    sf0.001 and sf0.01."""
    conf = _nb_confidence(spark, sf_dir)
    rows = (
        conf.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("correct").cast("bigint").alias("n_correct"),
        )
        .collect()
    )
    bins = sorted((int(r["bin"]), int(r["n_docs"]), int(r["n_correct"])) for r in rows)
    ids = [b for b, _, _ in bins]
    nd = {b: n for b, n, _ in bins}
    nc = {b: c for b, _, c in bins}

    def a(lo: int, hi: int) -> float:
        # sum over bins PRESENT in [lo, hi] (the join semantics), as
        # one exact-integer ratio.
        sn = sum(nd[b] for b in ids if lo <= b <= hi)
        sc = sum(nc[b] for b in ids if lo <= b <= hi)
        return float(sc) / float(sn)

    import math

    def q6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    out = []
    for k in ids:
        # iso(k) = max over lo <= k of (min over hi >= k of a(lo, hi)),
        # lo/hi ranging over the observed bin ids -- the PAV minimax
        # closed form, identical to the oracle's rng/tki/iso chain.
        iso = max(
            min(a(lo, hi) for hi in ids if hi >= k)
            for lo in ids
            if lo <= k
        )
        out.append((k, nd[k], q6(float(nc[k]) / float(nd[k])), q6(iso)))
    return spark.createDataFrame(
        out, "bin bigint, n_docs bigint, accuracy double, iso_accuracy double"
    )


# --------------------------------------------------------------------------
# ROC-AUC via the exact rank statistic (average ranks for ties)
# --------------------------------------------------------------------------

_AUC_TARGET = "en"
_AUC_BLOCK = 1 << 20  # score micro-units per prefix-sum block


@query(
    "q_nb_roc_auc",
    oracle=f"""
WITH {_NB_SCORES_CTE},
b AS (
  SELECT CAST(CASE WHEN true_lang = '{_AUC_TARGET}' THEN 1 ELSE 0 END
    AS BIGINT) AS pos, score
  FROM scores WHERE c = '{_AUC_TARGET}'
),
grp AS (
  SELECT score, CAST(count(*) AS BIGINT) AS cnt,
    CAST(sum(pos) AS BIGINT) AS npos
  FROM b GROUP BY score
),
r AS (
  SELECT cnt, npos,
    CAST(coalesce(sum(cnt) OVER (ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cumb
  FROM grp
),
s AS (
  SELECT CAST(sum(npos * (2 * cumb + cnt + 1)) AS BIGINT) AS r2,
    CAST(sum(npos) AS BIGINT) AS np,
    CAST(sum(cnt - npos) AS BIGINT) AS nn
  FROM r
)
SELECT np AS n_pos, nn AS n_neg,
  floor(CAST(r2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn)
        * 1000000.0 + 0.5) / 1000000.0 AS auc
FROM s
""",
    tags=("learn", "eval", "auc", "ranking", "ring-c"),
    description=(
        "ROC-AUC of the NB classifier's '"
        + _AUC_TARGET
        + "'-vs-rest score, computed EXACTLY through the rank-sum "
        "identity AUC = (R_pos - np(np+1)/2) / (np*nn) with average "
        "ranks for ties -- doubled ranks keep every intermediate an "
        "exact integer (2*avg_rank of a tied score group = "
        "2*cum_before + cnt + 1), so the only float op is the final "
        "division.  Exact to ~2e9 scored docs before the doubled "
        "rank-sum leaves the BIGINT range."
    ),
)
def q_nb_roc_auc(spark, sf_dir):
    """Rank statistics need a GLOBAL cumulative count, computed here
    with the two-level prefix-sum pattern (the peak-concurrency
    convention): a within-block running sum partitioned by score
    block + a block-total carry-in joined back broadcast -- never a
    single-partition window over the distinct-score relation.  Data-
    scale cost: the scoring plan + one score-keyed rollup."""
    scores = _nb_scores(spark, sf_dir)
    b = scores.filter(F.col("c") == _AUC_TARGET).select(
        F.when(F.col("true_lang") == _AUC_TARGET, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("pos"),
        "score",
    )
    grp = b.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    grp = grp.withColumn(
        "blk", F.floor(F.col("score") / F.lit(float(_AUC_BLOCK))).cast("bigint")
    )
    wl = (
        Window.partitionBy("blk")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = grp.withColumn("loc", F.coalesce(F.sum("cnt").over(wl), F.lit(0)))
    btot = grp.groupBy("blk").agg(F.sum("cnt").alias("bc"))
    wb = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = btot.select(
        "blk", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("carry")
    )
    r = loc.join(F.broadcast(carry), "blk").select(
        "cnt", "npos", (F.col("carry") + F.col("loc")).cast("bigint").alias("cumb")
    )
    s = r.agg(
        F.sum(
            F.col("npos") * (F.lit(2) * F.col("cumb") + F.col("cnt") + F.lit(1))
        )
        .cast("bigint")
        .alias("r2"),
        F.sum("npos").cast("bigint").alias("np"),
        F.sum(F.col("cnt") - F.col("npos")).cast("bigint").alias("nn"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        (
            F.floor(
                (F.col("r2") - F.col("np") * (F.col("np") + 1)).cast("double")
                / (F.lit(2.0) * F.col("np") * F.col("nn"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("auc"),
    )
