"""Stock ``pyspark.ml`` LSH variants (SURVEY.md section 2c).

The md5-based operators in dedup.py / similarity.py are the engine's
deterministic, oracle-checkable implementations.  These wrappers expose
the stock MLlib alternatives -- MinHashLSH and
BucketedRandomProjectionLSH -- which use seeded random hash families:
deterministic for a fixed seed but not reproducible outside Spark, so
their queries run rows-only in the correctness harness.

Scale: both fit() passes are cheap (random coefficients only; no data
pass), and approxSimilarityJoin is the standard banded-join under the
hood -- shuffle on hash buckets, never the full cross product.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import shingles_from_tokens, tokens
from ..operators.layout import spread_input


def _try_import_ml():
    try:
        from pyspark.ml.feature import (  # noqa: F401
            BucketedRandomProjectionLSH,
            CountVectorizer,
            HashingTF,
            MinHashLSH,
        )
        from pyspark.ml.functions import array_to_vector  # noqa: F401

        return True
    except ImportError:  # pragma: no cover - numpy/mllib missing
        return False


HAS_ML = _try_import_ml()

# HashingTF.numFeatures is a JVM Int: the adaptive 400x-docs rule
# crosses 2^31 at ~2.7M docs (400 x 5.4M = 2^31 overflows), so the
# feature space caps here and collision rate resumes growing linearly
# with the corpus past that point.
_HASHINGTF_MAX_FEATURES = 1 << 30


def _adaptive_num_features(n_docs: int, num_features: int) -> int:
    """Scale the HashingTF feature space with the corpus, capped at
    ``_HASHINGTF_MAX_FEATURES`` -- and WARN at the cap.

    Same lesson as srp_near_dup_pairs' target_occupancy (caught by the
    r5 sf10 probe at exponent 1.26): with FIXED features the
    distinct-shingle universe eventually dwarfs the space (500k docs:
    ~50M shingles into 2^18 buckets = 190x collapse), feature
    collisions inflate the apparent Jaccard of UNRELATED docs, and
    spurious candidates grow quadratically.  Keeping features >= ~400
    x docs holds the collision rate (shingles/features) roughly
    constant, so spurious candidate volume stays linear.  Only engages
    above 2^18/400 = 655 docs, so driver-SF results (<= 500 docs) are
    bit-for-bit unchanged.

    Past the Int cap the rule saturates silently from MLlib's side --
    the r7 sf100 probe (5M docs) measured the twin at exponent 1.10
    while the native path read 0.70 -- so a caller in that regime gets
    a one-line runtime warning naming the production path
    (q_dedup_minhash_lsh: md5 shingle keys, unbounded key space, same
    verified output contract).  VERDICT r7 item 5.
    """
    if 400 * n_docs > num_features:
        num_features = 1 << math.ceil(math.log2(400 * n_docs))
    if num_features > _HASHINGTF_MAX_FEATURES:
        logging.getLogger(__name__).warning(
            "ml_minhash_near_dup_pairs: adaptive HashingTF feature space "
            "capped at 2^30 (JVM Int) for n_docs=%d -- collision rate now "
            "grows with the corpus and candidate volume re-inflates; past "
            "~2.7M docs prefer the native q_dedup_minhash_lsh path "
            "(unbounded md5 shingle keys, same verified output contract).",
            n_docs,
        )
        num_features = _HASHINGTF_MAX_FEATURES
    return num_features


def ml_minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 5,
    jaccard_distance_threshold: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
    verify_jaccard_sim: float | None = None,
) -> DataFrame:
    """MinHashLSH over hashed shingle vectors -> (id_a, id_b, jaccard_dist).

    HashingTF turns each doc's shingle set into a sparse binary vector
    (feature space 2^18); MinHashLSH.approxSimilarityJoin emits pairs
    under the Jaccard *distance* threshold.

    ``verify_jaccard_sim``: when set, candidates are re-scored with the
    EXACT Jaccard over the (distinct) shingle sets and only pairs with
    similarity >= the value are emitted as (id_a, id_b, jaccard).  That
    output no longer depends on the seeded hash family (only on LSH
    recall at the verify threshold, which OR-amplification drives to
    ~1: a missed pair needs all ``num_hash_tables`` minhashes to
    disagree, p = (1-s)^tables, e.g. 0.2^8 ~ 3e-6 at s=0.8), so it is
    deterministic AND SQL-expressible -- the exact-Jaccard form is the
    DuckDB oracle.  The hashed-vector distance from approxSimilarityJoin
    is only the candidate gate; the emitted jaccard is shingle-set
    exact, so HashingTF collisions cannot distort values.

    Perf shape (measured 36s -> ~4s at sf0.1): tokens are materialized
    in their own projection before shingling (the inline form
    re-evaluates the token split per array element -- see
    shingles_from_tokens), the vector table is slimmed to
    (id, features) BEFORE the join (otherwise the shingle array rides
    through approxSimilarityJoin's explode-join-distinct, which
    shuffles whole rows), and it is persisted because the self-join's
    two branches would each recompute the full text->shingles->TF
    pipeline.  MEMORY_AND_DISK: 5k docs here, but at 100 TB the spill
    path matters and LRU eviction bounds the footprint.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    n_docs = docs.count()
    if (
        verify_jaccard_sim is not None
        and 400 * n_docs > _HASHINGTF_MAX_FEATURES
    ):
        # Past the JVM-Int feature cap, HashingTF collisions grow with
        # the corpus and spurious candidate volume re-inflates (the r7
        # sf100 probe read exponent 1.10 here vs the native path's
        # 0.70), so the VERIFIED entry point dispatches to the native
        # md5 banding -- same (id_a, id_b, jaccard) contract, same
        # DuckDB oracle, no 2^30 boundary (md5 keys are unbounded).
        # Band shape: 3 rows per band (the flagship
        # q_dedup_minhash_lsh gate strength), NOT 1 row per band.  The
        # first dispatched sf100 run (r10) used 1-row bands to mirror
        # MinHashLSH's OR'd single-hash tables exactly and OOM'd the
        # count-carry verify's shuffled-hash build: a 1-row band
        # admits a pair with probability s PER BAND, and on this
        # corpus (31-token vocab, typical cross-pair Jaccard ~0.3-0.5)
        # that gates out almost nothing -- candidates scaled toward
        # all-pairs and the candidate-keyed LongToUnsafeRowMap could
        # not be built.  3-row bands admit at s^3 per band (~0.03-0.12
        # for the unrelated mass), the same per-band strength the
        # flagship runs at sf100 exponent 0.70 / zero spill with 3
        # bands; 8 bands here keeps recall at the verify threshold:
        # miss = (1 - s^3)^8 <= 0.34% at s = 0.8 and falls as s -> 1,
        # vs MLlib's (1-s)^8 ~ 3e-6 -- marginally weaker exactly at
        # the threshold boundary, and the exact-Jaccard verify still
        # makes every EMITTED value bit-identical to the oracle's.
        # Driver/bench SFs never reach this branch (boundary ~2.7M
        # docs), so small-SF plans and oracle parity are bit-for-bit
        # unchanged.  VERDICT r9 item 5: the twin's ending is the
        # native path, with MLlib kept below the boundary as the
        # API-coverage differential.
        logging.getLogger(__name__).info(
            "ml_minhash_near_dup_pairs: n_docs=%d is past the HashingTF "
            "2^30 feature cap; dispatching the verified pipeline to the "
            "native md5 banding (bands=%d, 3 rows/band -- flagship gate "
            "strength; miss <= (1-s^3)^bands at the verify threshold).",
            n_docs,
            num_hash_tables,
        )
        from .dedup import minhash_lsh_candidate_pairs

        return minhash_lsh_candidate_pairs(
            docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=3 * num_hash_tables,
            bands=num_hash_tables,
            jaccard_threshold=verify_jaccard_sim,
        )

    # Corpus-adaptive feature space + 2^30 saturation warning -- the
    # rule, its rationale, and the cap regime live in
    # _adaptive_num_features above (the warning is now only reachable
    # from UNVERIFIED calls, where hash-distance output depends on the
    # feature space and cannot be re-routed).  Driver-SF results
    # (<= 500 docs) are bit-for-bit unchanged (the rule only engages
    # above 655 docs; exact Jaccard decides membership either way).
    num_features = _adaptive_num_features(n_docs, num_features)

    # Spread a compact input before the CPU-heavy shingle expansion: a
    # one-file corpus arrives as 1-2 partitions and would shingle
    # single-threaded (measured 13s of the 36s right there).
    docs = spread_input(docs, id_col)
    # Empty-doc filter on the RAW text, never on size(sh): a filter on
    # the shingle column gets predicate-pushed below the projections
    # with the whole shingle expression re-inlined in its slow form
    # (tokens re-evaluated inside every element_at -- measured 12s vs
    # 0.4s at sf0.1).  Shingles are empty iff tokens are empty, so this
    # is the same predicate, evaluated cheaply at the scan.
    docs = docs.filter(F.size(tokens(F.lower(F.col(text_col)))) > 0)
    tk = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__tk")
    )
    sh = tk.select(
        F.col(id_col), shingles_from_tokens(F.col("__tk")).alias("sh")
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    vecs = (
        tf.transform(sh)
        .select(F.col(id_col), "features")
        .localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, jaccard_distance_threshold, "jaccard_dist")
    cand = pairs.filter(
        F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}")
    ).select(
        F.col(f"datasetA.{id_col}").alias("id_a"),
        F.col(f"datasetB.{id_col}").alias("id_b"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    )
    if verify_jaccard_sim is None:
        return cand
    # Exact verify via the shared COUNT-CARRY shape (llm/dedup
    # count_carry_jaccard): the r5 form attached the full shingle
    # arrays to every candidate through two shuffle_hash joins --
    # never-broadcast was the right half of the lesson (at 500k docs
    # the ~0.5 GB driver-side builds had GC-thrashed the session), but
    # at the r7 sf100 probe (5M docs) the partition-local hash builds
    # of the corpus-scaled array relation OOM'd a 48 GB heap from
    # LongToUnsafeRowMap.grow: a corpus-scaled ARRAY relation cannot be
    # a hash build side anywhere, driver or partition.  Counting common
    # shingles over a candidate-pruned posting explode moves only
    # skinny rows and is bit-identical (distinct shingles: c/(na+nb-c)
    # == intersect/union).
    from .dedup import count_carry_jaccard

    # explode_outer + isNotNull, NEVER a plain explode over the
    # expensive shingle expression: InferFiltersFromGenerate puts a
    # size()>0 filter under an inner Generate and re-inlines the whole
    # tokens->shingles construction below the collapsed projections
    # (the _exploded_shingles trap; this line as F.explode measured
    # 1.4 s -> 11 s at sf0.1 -- the r7 bench caught it).  sh rows are
    # non-empty by the raw-text filter above, so the two forms emit
    # identical rows.
    postings = sh.select(
        F.col(id_col),
        F.size("sh").alias("n_sh"),
        F.explode_outer("sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    return count_carry_jaccard(
        cand.select("id_a", "id_b"),
        postings,
        verify_jaccard_sim,
        id_name=id_col,
    )


def ml_brp_near_neighbors(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    radius: float | None = None,
) -> DataFrame:
    """BucketedRandomProjectionLSH (Euclidean) approximate k-NN for a
    set of query vectors -> (query_id, neighbor_id, eucl_dist, rank).

    ``radius``: when set, the semantics become RADIUS-BOUNDED top-k --
    only neighbors at exact distance < radius are emitted (the
    threshold approxSimilarityJoin applies to its exact distCol), which
    makes the output seed-INdependent: the seeded buckets are only a
    candidate gate, and with OR-amplified recall at the radius
    (p_miss = (1 - p1)^tables; bucket_length = 4, 16 tables, d = 1.25
    -> ~1e-10 per true pair) the emitted set equals the exact range
    query's.  The distance MLlib computes is sqrt of the sequential
    (a[i]-b[i])^2 loop -- the same IEEE op order the DuckDB oracle
    folds, so values are bit-comparable after portable rounding."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    from ..functions.numeric import portable_round

    vecs = embeddings.select(
        F.col(id_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(vecs)
    queries = vecs.filter(F.col(id_col).isin(query_ids)).limit(len(query_ids))
    threshold = float("inf") if radius is None else float(radius)
    joined = model.approxSimilarityJoin(queries, vecs, threshold, "eucl_dist")
    pairs = joined.filter(
        F.col(f"datasetA.{id_col}") != F.col(f"datasetB.{id_col}")
    ).select(
        F.col(f"datasetA.{id_col}").alias("query_id"),
        F.col(f"datasetB.{id_col}").alias("neighbor_id"),
        portable_round(F.col("eucl_dist"), 6).alias("eucl_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("eucl_dist"), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
