"""Deduplication operators for training-data pipelines (Ring C).

Four families, each chosen for a different scale/recall point:

1. **Exact** -- md5 content fingerprint.  One shuffle on the md5 key:
   the duplicate-group report carries only (fingerprint, doc_id), and
   the keep-min-id filter is a window over that same key, so the rows
   cross the exchange once and never meet a join.
2. **MinHash + LSH** -- per-doc signatures computed *narrowly* (array_min
   over transform: zero shuffles for signatures), then banded: docs
   sharing any band key become candidate pairs, verified with exact
   Jaccard.  Candidate generation shuffles only (band_key, doc_id)
   pairs, never document text.
3. **SimHash** -- 16-bit locality hash; near-dup = equal simhash.  Even
   cheaper than MinHash (single int per doc) at lower recall.
4. **N-gram Jaccard** -- the exact pairwise baseline (shingle-explode +
   self-join).  Quadratic in the worst case; used as the recall oracle
   for the approximate families and viable when blocked (e.g. per
   source/bucket).

All hashing is md5-based and therefore deterministic and
engine-portable -- no seeded RNG, reruns are stable, and an external SQL
engine can reproduce every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import doc_fingerprint, shingles_from_tokens, tokens
from ..operators.layout import ckpt_partitioned, spread_input


def _exploded_shingles(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    extra_cols: tuple[str, ...] = (),
    with_size: bool = False,
) -> DataFrame:
    """(id, shingle) rows via the two-step materialize-tokens pipeline
    (see shingles_from_tokens for why the inline form is slow).
    CollapseProject keeps the token alias a real column because it is
    referenced multiple times downstream, so the lambda captures a
    cheap attribute instead of the split+filter expression.

    A compact corpus (one parquet file -> one partition) would run the
    CPU-heavy shingle expansion single-threaded, so the input goes
    through :func:`~..operators.layout.spread_input` first.

    ``with_size``: emit ``n_sh`` (the doc's DISTINCT-shingle count,
    computed on the materialized array before the explode) on every
    posting row.  Pair verifies that carry n_sh through the explode
    need no per-pair size join afterwards -- at sf10 the two
    sort-merge size joins over the grouped pair stream were the
    dominant spill source of the counted dedup verifies."""
    docs = spread_input(docs, id_col)
    extras = [F.col(c) for c in extra_cols]
    tk = docs.select(
        F.col(id_col), *extras, tokens(F.lower(F.col(text_col))).alias("__tk")
    )
    sh = tk.select(
        F.col(id_col),
        *extras,
        shingles_from_tokens(F.col("__tk"), shingle_n).alias("__sh"),
    )
    # explode_outer + isNotNull, NOT plain explode: InferFiltersFromGenerate
    # puts a size()>0 filter under an inner Generate and pushes it below the
    # projections with the whole shingle expression re-inlined -- the corpus
    # then pays the expensive construction twice (measured 20x slower at
    # sf0.1).  The rule skips outer generates; the null filter on the
    # generated column is per-row and cheap.
    size_cols = [F.size("__sh").alias("n_sh")] if with_size else []
    return sh.select(
        F.col(id_col), *extras, *size_cols, F.explode_outer("__sh").alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def _prune_unique_postings(ex: DataFrame, key_cols: list[str]) -> DataFrame:
    """Drop posting rows whose shingle occurs in exactly ONE document
    of its block (per-key document frequency 1): such a posting can
    never produce a collision row in the pair self-join, so removing
    it first is exact -- and on the source-blocked corpus it removes
    ~62% of all postings (measured at sf0.1).

    The df count is a WINDOW over the join key, not a groupBy+join:
    one pass over the posting stream, and the window's required
    hash-partitioning + in-partition sort on the key are exactly the
    pair self-join's own requirements, so the join downstream adds no
    exchange and no sort of its own (both aliased sides dedup to one
    computation through ReuseExchange)."""
    w = Window.partitionBy(*key_cols)
    return (
        ex.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") >= 2)
        .drop("__df")
    )


# --------------------------------------------------------------------------
# 1. Exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fingerprint -> group.  Returns one row per duplicated fingerprint
    with the kept (min-id) doc and the duplicate count."""
    fp = docs.select(
        F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id doc per content fingerprint: the rows whose id
    equals ``min(id) OVER (PARTITION BY fingerprint)``.  One pass: a
    single exchange on the fingerprint that carries the input columns
    and the 32-char md5 key, with no aggregate and no join back.  Rows
    that share the min id all survive; a null id never equals the min,
    so it drops.  Built as SQL text (the fingerprint is
    functions/text.doc_fingerprint): three DataFrame calls, not a py4j
    round trip per function call."""
    fp = (
        f"md5(CAST(concat_ws(' ', filter(split(lower({text_col}), ' +'), "
        "t -> t != '')) AS BINARY))"
    )
    return (
        docs.selectExpr("*", f"min({id_col}) OVER (PARTITION BY {fp}) AS __min")
        .where(f"{id_col} = __min")
        .drop("__min")
    )


# --------------------------------------------------------------------------
# 2. MinHash + LSH
# --------------------------------------------------------------------------

# Tabulation-hash "permutations": ONE md5 per shingle (the expensive
# part), then k cheap affine maps h_i(x) = (a_i*x + b_i) mod p over the
# 60-bit integer prefix.  Measured ~2.5x faster than k independent
# salted md5s at sf0.1 with indistinguishable minhash quality (the
# affine family over a prime field is the textbook universal-hash
# construction).  p = 2^31-1 keeps every product under 2^62 (no bigint
# overflow) and the arithmetic is bit-identical in any ANSI engine.
_MINHASH_P = (1 << 31) - 1
_MINHASH_AB = [
    (1000000007, 15485863),
    (998244353, 32452843),
    (754974721, 49979687),
    (167772161, 67867967),
    (469762049, 86028121),
    (1004535809, 104395301),
    (1224736769, 122949823),
    (1053818881, 141650939),
    (1051721729, 160481183),
    # Pairs 10-24: added r10 when the past-2^30 MLlib-twin dispatch
    # started requesting 3-rows-per-band x 8-band signatures (24
    # hashes).  The first 9 pairs are frozen -- every committed oracle
    # hash depends on them.  Constants are distinct fixed values < p;
    # the affine family only needs a != 0 mod p (the FIELD is prime --
    # a and b need not be).
    (179424673, 198491317),
    (217645177, 236887691),
    (256203161, 275604541),
    (295075147, 314606869),
    (334214459, 353868013),
    (373587883, 393342739),
    (413158511, 433024223),
    (452930459, 472882027),
    (492876847, 512927357),
    (533000389, 553105243),
    (573259391, 593441843),
    (613651349, 633910099),
    (654188383, 674506081),
    (694847533, 715225739),
    (735632791, 756065159),
]


def _shingle_base(s: Column) -> Column:
    """60-bit integer view of md5(shingle), reduced mod p."""
    return (
        F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("bigint")
        % _MINHASH_P
    )


def _perm_hash(i: int, base: Column) -> Column:
    if i >= len(_MINHASH_AB):
        raise ValueError(
            f"num_hashes > {len(_MINHASH_AB)}: extend _MINHASH_AB "
            "(append-only -- the first entries are frozen by committed "
            "oracle hashes)"
        )
    a, b = _MINHASH_AB[i]
    return (F.lit(a) * base + F.lit(b)) % _MINHASH_P


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 9,
    shingle_n: int = 3,
    with_shingles: bool = False,
) -> DataFrame:
    """(id, signature array<string>[num_hashes], n_shingles [, shingles]).

    Formulation: explode the shingle set once, hash each shingle under
    every 'permutation', then partial-min groupBy back to one row per
    doc.  Why not the narrow array_min-over-transform version: Catalyst
    inlines the shingle-construction expression into every one of the
    ``num_hashes`` references (CollapseProject), so the set gets rebuilt
    k times per row -- measured 9x slower at sf0.1.  Here construction
    runs exactly once; the min aggregation is map-side partial, so the
    shuffle carries ~one row per (doc, partition); and the resulting
    exchange is reusable (ReusedExchange) when callers self-join the
    signatures, halving the work again.

    ``with_shingles=True`` additionally carries the distinct shingle set
    through the same single shuffle (collect_set) for downstream
    verification joins -- no second construction pass.
    """
    exploded = _exploded_shingles(docs, id_col, text_col, shingle_n)
    # The 9 affine maps all reference the same _shingle_base expression;
    # after CollapseProject, codegen's subexpression elimination computes
    # the md5 once per row (verified by timing -- see module header).
    base = _shingle_base(F.col("shingle"))
    hashed = exploded.select(
        id_col,
        "shingle",
        *[_perm_hash(i, base).alias(f"__h{i}") for i in range(num_hashes)],
    )
    aggs = [F.min(f"__h{i}").alias(f"__h{i}") for i in range(num_hashes)]
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    if with_shingles:
        aggs.append(F.collect_set("shingle").alias("shingles"))
    grouped = hashed.groupBy(id_col).agg(*aggs)
    return grouped.select(
        id_col,
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("signature"),
        "n_shingles",
        *(["shingles"] if with_shingles else []),
    )


def minhash_lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 9,
    bands: int = 3,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.5,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band key are candidates.

    Returns (id_a, id_b, jaccard) with id_a < id_b; when
    ``jaccard_threshold`` is set, candidates are verified with exact
    Jaccard via a COUNT-CARRY collision join (n_common grouped count;
    jaccard = c / (n_a + n_b - c), identical doubles to the
    intersect/union form because postings are distinct per doc).

    Shuffle profile: signatures are built through one partial-min
    shuffle (see minhash_signature) -- skinny rows, the shingle
    payload does NOT ride it; banding explodes bands-per-doc (tiny
    rows: band_key + id); verification re-explodes postings map-only
    and moves them through ONE corpus-sized exchange (the semi-join
    prune down to candidate ids), after which every stage is
    candidate-sized.  The r6 shape -- collect_set arrays carried
    through the signature exchange, then two joins attaching the
    arrays to pair rows -- was the repo's one remaining array-attach
    verify; the r7 sf100 probe caught it (exponent 1.10, 46 GB spill
    at 5M docs: the ObjectHashAggregate buffered the whole shingle
    corpus and the sort-merge attach joins sorted array payloads;
    see the README sf100 table for this form's re-measurement).
    Results bit-identical (re-oracled at sf0.001 + sf0.01 across all
    six dependent registered queries).

    Join strategy: the semi-join and posting joins take shuffle_hash
    hints -- every build side here is either candidate-scaled or
    corpus-scaled, and a corpus-scaled relation must never become a
    broadcast build (the MLlib-twin mis-broadcast lesson); the grouped
    count's partial aggregate reduces pair-collision rows before the
    final exchange.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
    band_cols = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[
                        F.col("signature")[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ],
                ).cast("binary")
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_cols).alias("band_key"))
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if jaccard_threshold is None:
        return cand

    ex = _exploded_shingles(docs, id_col, text_col, shingle_n, with_size=True)
    return count_carry_jaccard(cand, ex, jaccard_threshold, id_name=id_col)


def count_carry_jaccard(
    cand: DataFrame,
    postings: DataFrame,
    threshold: float,
    id_name: str = "id",
) -> DataFrame:
    """Exact-Jaccard verify of a candidate pair list WITHOUT attaching
    shingle arrays to pair rows: (id_a, id_b, jaccard >= threshold).

    ``cand``: (id_a, id_b) candidate pairs (distinct).  ``postings``:
    DISTINCT (id, shingle, n_sh) rows where n_sh is the doc's distinct
    shingle count; jaccard = c / (n_a + n_b - c) over the counted
    common shingles is then bit-identical to the
    size(intersect)/size(union) form.  ``threshold`` must be > 0
    (zero-overlap pairs drop out of the counted inner join).

    Scale shape: the posting stream moves through ONE corpus-sized
    exchange (the semi-join prune down to candidate ids); the verify
    joins and the grouped count are candidate-sized after that.  The
    pa join key is the semi-join's own partition key (aliased), so
    only pb pays a fresh exchange.  shuffle_hash hints: none of these
    relations may ever broadcast (candidate volume grows with the
    corpus -- the MLlib-twin mis-broadcast lesson), and the pruned
    build sides stay partition-bounded as long as the
    candidate-participating fraction of the corpus is (near-dups are a
    bounded fraction of real crawls; a wall-to-wall-duplicate corpus
    should block first).  Array-attach verifies -- collect_set arrays
    joined onto every pair -- were caught twice at the third decade
    (r7 sf100, 5M docs): exponent 1.10 / 46 GB spill on the native
    path and a partition-local hash-build OOM on the MLlib twin.

    ``cand`` is cut with an eager ``localCheckpoint``; ``exc``
    deliberately is not.  cand feeds three plan branches (each union
    leg of the id prune + the verify join); whether that re-executes
    its generator depends on whether the generator's plan
    CANONICALIZES: the native banded self-join does, so ReusedExchange
    already dedupes it, but the MLlib twin's approxSimilarityJoin does
    not (MinHashLSH's hash UDF defeats canonical equality) and re-ran
    up to 5x -- at sf100 the repeated explode-join shuffle writes
    ENOSPC'd a 62 GB disk budget.  Materializing cand once is the fix
    and is ~free for every caller: the candidate relation is
    LSH-bounded and skinny (two ids).  The pruned posting stream
    (pa/pb) gets no cut: both branches hang off the same canonical
    semi-join whose corpus-sized exchange IS reused, so materializing
    the candidate-participating postings only added I/O (a cache of
    it cost the native path 0.65 -> 0.76 at the sf100 probe)."""
    cand = cand.localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)
    cand_ids = (
        cand.select(F.col("id_a").alias(id_name))
        .union(cand.select(F.col("id_b").alias(id_name)))
        .distinct()
    )
    exc = postings.join(cand_ids.hint("shuffle_hash"), id_name, "left_semi")
    pa = exc.select(
        F.col(id_name).alias("id_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    pb = exc.select(
        F.col(id_name).alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    common = (
        cand.join(pa.hint("shuffle_hash"), "id_a")
        .join(pb.hint("shuffle_hash"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("__c") / (F.col("n_a") + F.col("n_b") - F.col("__c")), 6
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# 3. SimHash
# --------------------------------------------------------------------------

def simhash(text: Column, bits: int = 16) -> Column:
    """Charikar simhash over whitespace tokens, ``bits`` wide.

    Each token votes +1/-1 per bit position according to its md5; the
    sign of the per-bit sum forms the hash.  Pure codegen expressions.
    """
    toks = F.array_distinct(tokens(F.lower(text)))

    # token -> integer hash from the first 8 hex chars of md5 (32 bits).
    def th(t):
        return F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast("bigint")

    # NB: the merge lambda must stay binary (acc, elem) -- see language_id.
    def vote(j: int):
        return F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.when(F.shiftright(th(t), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_votes = [vote(j) for j in range(bits)]
    out = F.lit(0).cast("bigint")
    for j, v in enumerate(bit_votes):
        out = out + F.when(v > 0, F.lit(1 << j)).otherwise(0)
    return out


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash) via the scalable explode formulation: one pass of
    token hashing, partial-sum bit votes through a single groupBy
    shuffle (same rationale as minhash_signature -- the narrow
    fold-per-row version re-runs tokenization ``bits`` times)."""
    # No spread here (unlike _exploded_shingles): an r10 in-session A/B
    # measured the 16-bit token hash cheap enough that the extra
    # exchange is a wash at bench density (1.18 vs 1.20 s min-of-3).
    # explode_outer: see _exploded_shingles for the InferFiltersFromGenerate
    # double-evaluation trap with inner explodes over expensive expressions.
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("tok"),
    ).filter(F.col("tok").isNotNull())
    th = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(th, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{j}")
            for j in range(bits)
        ]
    )
    out = F.lit(0).cast("bigint")
    for j in range(bits):
        out = out + F.when(F.col(f"__b{j}") > 0, F.lit(1 << j)).otherwise(0)
    return votes.select(F.col(id_col), out.alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Docs with identical simhash -> (id_a, id_b, simhash) pairs.
    Self-join on a single bigint -- the cheapest near-dup candidate
    generator; pair with a verify stage for precision."""
    h = simhash_table(docs, id_col, text_col, bits)
    a, b = h.alias("a"), h.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.simhash").alias("simhash"),
    )


# --------------------------------------------------------------------------
# 4. Exact n-gram Jaccard (pairwise baseline / recall oracle)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard over word-shingle sets via shingle-inverted-index
    self-join with a COUNT-CARRY verify: every collision row of the
    self-join IS one unit of |A∩B|, so the exact Jaccard needs only a
    grouped count -- no shingle array ever attaches to a pair row, and
    because ``n_sh`` rides the explode, no size join touches the
    grouped pair stream either.  Block-unique shingles (df = 1) are
    pruned before the join (collision-impossible, exact); the pruning
    window leaves the stream hash-partitioned AND sorted on the join
    key, so the sort-merge pair join adds zero exchanges and zero
    sorts of its own.  ``block_col`` (e.g. source/date bucket) bounds
    the join fan-out at scale; None = full corpus.

    The ``merge`` hint pins sort-merge: both sides are corpus-scaled,
    so neither may ever become a broadcast build side (Catalyst's
    pre-runtime size estimate only sees the skinny scan under the
    projections -- the mis-broadcast failure measured on the MLlib
    MinHash twin at sf10), and shuffle-hash would rebuild per-partition
    hash maps the window's existing order makes unnecessary."""
    blocks = (block_col,) if block_col else ()
    ex = _exploded_shingles(
        docs, id_col, text_col, shingle_n, extra_cols=blocks, with_size=True
    )
    ex = _prune_unique_postings(ex, [*blocks, "shingle"])
    a, b = ex.alias("a"), ex.alias("b")
    join_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        join_cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & join_cond
    common = (
        a.join(b.hint("merge"), join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# 5. Transitive closure: near-dup pairs -> dedup clusters
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a pair list -> (node, component), where
    component = min node id reachable through any chain of pairs.  This
    is the transitive-dedup step: pairwise similarity is not transitive,
    but dedup KEEP-decisions must be (A~B, B~C => one survivor among
    {A,B,C}).

    Algorithm: iterative min-label propagation.  Each round joins every
    node's current label against the (undirected) edge list and keeps
    the minimum neighbor label; stop when a round changes nothing.
    Rounds needed = graph diameter (near-dup clusters are shallow -- a
    handful of rounds).  Each round is one shuffle join + one groupBy,
    driven by :func:`operators.fixpoint.iterate`: labels only fall, so
    ``sum(component)`` is unchanged exactly when no label changed, and
    that sum rides on the round's one materializing job.

    Raises RuntimeError when the loop exits without converging (graph
    diameter > ``max_iterations``): the labels would silently split one
    long chain into several components and transitive dedup would keep
    extra survivors.
    """
    from ..operators.fixpoint import iterate

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Static edge list stored hash-partitioned by the per-round join key
    # (ckpt_partitioned; PROBES_r11.json, OPTIMIZATION_r11.md).
    edges = ckpt_partitioned(edges, "dst")
    # Round 0's labels stay lazy: they are one distinct over the stored
    # edges, and round 1's cut materializes them with its fingerprint.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        # shuffle_hash on the node-sized label side (OPTIMIZATION_r10.md §6):
        # labels derive from a corpus-scaled subtree, so they may never
        # broadcast, and sort-merge re-sorted the edge stream per round.
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        return labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )

    labels, converged = iterate(
        labels,
        step,
        max_iterations,
        fingerprint=F.sum(F.col("component").cast("decimal(38,0)")),
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds max_iterations); labels "
            "would split long duplicate chains into multiple components"
        )
    return labels


def _prefix_len(n_sh: Column, threshold: float) -> Column:
    """Safe-side prefix length ``floor((1-t)*n)+1`` for prefix
    filtering.  Computed as ``n - ceil((t - 1e-6)*n) + 1``: the naive
    float form loses pairs outright -- ``1.0 - 0.8`` is
    0.19999999999999996, so ``floor(0.2*10)`` becomes 1 instead of 2
    and a doc's prefix shrinks below the pigeonhole bound (a true
    containment-0.8 pair WAS dropped at sf0.1 before this).  The 1e-6
    slack also covers the verify step's round(.,6) tolerance; a prefix
    one shingle too LONG only adds candidates (still exact), one too
    SHORT loses results."""
    return (
        n_sh - F.ceil((threshold - 1e-6) * n_sh).cast("int") + 1
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin) with
    a COUNT-CARRY verify: same result as ngram_jaccard_pairs.

    For J(A,B) >= t, A and B must share at least one shingle among each
    doc's first floor((1-t)*|S|)+1 shingles under ANY fixed global order
    -- rarest-first makes those prefix shingles nearly unique, so the
    prefix membership test touches almost no high-frequency shingles.

    The verify NEVER attaches shingle arrays to pair rows (the r5
    sf10-measured pathology: candidates x set_size bytes of array
    motion).  Instead the prefix filter is used as a MEMBERSHIP prune
    and the verification itself is the counted collision join:

    1. postings (id, n_sh, shingle) with per-block df; df=1 postings
       pruned first (collision-impossible -- and removing them before
       ranking only moves shared shingles EARLIER in the rarest-first
       order, so the pigeonhole prefix bound computed on the FULL
       n_sh stays valid).
    2. prefix postings = per-doc rarest-first rank <= floor((1-t)n)+1.
    3. MEMBERS = docs sharing a prefix shingle with another doc's
       prefix (window count >= 2 over the prefix relation).  Any pair
       with J >= t shares a shingle lying in BOTH prefixes, so both
       ends of every qualifying pair are members; on a mostly-unique
       corpus (real dedup at 100 TB) this discards almost all docs.
    4. counted verify: the full pruned postings of member docs
       self-join on the shingle key; each collision row is one unit
       of |A∩B|; grouped count -> Jaccard -> threshold.  Member pairs
       that never shared a prefix shingle get counted too, but the
       prefix theorem guarantees they sit below t, so the threshold
       filter removes exactly them -- the result stays exact.

    ``block_col`` composes blocking with the prefix filter: pairs are
    restricted to the same block, document frequencies are counted per
    block (rarest WITHIN the block -- any per-block total order is
    valid for the prefix bound, and block-local df is the selective
    one), and the collision join adds the block to its key.

    On the benchmark corpus (tiny vocabulary, nearly every doc a
    member) this path's extra member-prune stages are overhead over
    the plain counted join -- prefer ngram_jaccard_pairs there; this
    variant is the sparse-corpus scale path.
    """
    blocks = (block_col,) if block_col else ()
    ex = _exploded_shingles(
        docs, id_col, text_col, shingle_n, extra_cols=blocks, with_size=True
    )
    wdf = Window.partitionBy(*blocks, "shingle")
    pruned = (
        ex.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("__df") >= 2)
    )
    prefix = (
        pruned.withColumn(
            "__rnk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__df", "shingle")
            ),
        )
        .filter(F.col("__rnk") <= _prefix_len(F.col("n_sh"), threshold))
        .select(id_col, *blocks, "shingle")
    )
    members = (
        prefix.withColumn("__pc", F.count(F.lit(1)).over(wdf))
        .filter(F.col("__pc") >= 2)
        .select(id_col)
        .distinct()
    )
    # Corpus-scaled semi build side: shuffle_hash, never broadcast
    # (the MLlib-twin mis-broadcast lesson) and no sort of the stream.
    verif = pruned.select(id_col, *blocks, "n_sh", "shingle").join(
        members.hint("shuffle_hash"), id_col, "left_semi"
    )
    a, b = verif.alias("a"), verif.alias("b")
    join_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        join_cond = (
            F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
        ) & join_cond
    return (
        a.join(b.hint("merge"), join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) -> (node, component), component = min node id.

    Same contract as :func:`connected_components`; different scaling
    law.  Min-label propagation needs rounds ~ graph DIAMETER, so one
    long duplicate chain (diameter d) costs d shuffle rounds.
    Large-star/small-star contracts every tree toward its minimum by
    doubling, converging in O(log^2 n) rounds REGARDLESS of diameter --
    the safe choice when cluster shapes are unknown (e.g. chained
    near-dups through sliding boilerplate).

    Per round, on the undirected neighbor view N(u):
    - large-star: connect every neighbor v > u to min(N(u) + {u});
    - small-star: connect every neighbor v < u, and u itself, to
      min of the smaller neighborhood.
    Each phase is one groupBy(min) + one re-join + distinct -- the same
    shuffle budget per round as min-label, but geometrically fewer
    rounds on deep graphs.  :func:`operators.fixpoint.iterate` cuts
    every round; convergence = the edge set's (count, sum of row
    hashes) fingerprint repeating; the sum of the 64-bit hashes is
    DECIMAL(38,0), exact at any edge count (a BIGINT sum would overflow,
    which raises under ANSI).

    At convergence the edge set IS the star forest (child -> root), so
    labels fall out without further joins.
    """
    from ..operators.fixpoint import iterate

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = both.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        # shuffle_hash (OPTIMIZATION_r10.md §6): mins is one row per node
        # and leaves its groupBy already hash-partitioned on src, so the
        # build side re-reads in place and the edge stream skips its
        # per-phase sort.
        return (
            both.join(mins.hint("shuffle_hash"), "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        smaller = both.filter(F.col("dst") < F.col("src"))
        mins = smaller.groupBy("src").agg(F.min("dst").alias("m"))
        relink = (
            smaller.join(mins.hint("shuffle_hash"), "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        self_link = mins.select("src", F.col("m").alias("dst"))
        return relink.unionByName(self_link).distinct()

    edges, converged = iterate(
        edges,
        lambda e, _: _small_star(_large_star(e)),
        max_iterations,
        fingerprint=F.struct(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
        ),
    )
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "iterations; labels may not yet point at the component minimum"
        )
    roots = edges.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    children = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    return children.unionByName(roots).distinct()


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """DIRECTED containment pairs: (contained_id, container_id,
    containment) where containment = |S(contained) ∩ S(container)| /
    |S(contained)| >= threshold over distinct word shingles.

    Jaccard misses the asymmetric dup shape: a short doc quoted whole
    inside a much longer one scores J = |A|/|B| (tiny) but containment
    C(A->B) = 1.0.  Containment is the right measure for quote/subset
    dedup and for nested-crawl cleanup (page embedded in an archive
    page).  ``block_col`` bounds fan-out at scale exactly as in the
    Jaccard form.

    SCALE SHAPE -- aggregate at the DOCUMENT key, never the pair key.
    The collision volume of exact containment is Σ_s df(s)^2 and is
    irreducible (every colliding shingle of a qualifying pair must be
    counted), but WHERE it aggregates is a free choice.  The grouped
    pair-keyed count (the r5 shape) put the whole collision stream
    through a hash aggregate with ~0.9 distinct pairs PER collision
    row (126M rows -> 113M pair groups at sf10: nearly every pair
    shares one shingle, the partial aggregate reduced nothing and
    spilled 40 GB).  Instead:

    1. pruned postings: a window df-count per (block, shingle) drops
       df=1 postings (collision-impossible; exact), and the window's
       hash-partitioning + sort on the key are exactly the self-join's
       own requirements, so step 2 adds no exchange and no sort
       (:func:`_prune_unique_postings` -- the same stream shape as the
       Jaccard sibling).
    2. the sort-merge SELF-JOIN on shingle under id_a < id_b emits raw
       UNDIRECTED incidence rows (id_a, n_a, id_b, n_b) -- Σ_s C(df,2)
       of them, the collision volume again, but skinny (32 B) and
       never aggregated by pair: they only repartition by the FULL
       pair key (id_a, id_b), fanned out 4x over the default
       parallelism so each partition's incidences fit comfortably in
       one worker's memory.  The pair key matters for skew: the
       lexsort group key is the pair, so pair-key hashing keeps every
       pair's rows colocated while a hot contained doc's many partners
       spread across partitions -- hashing by id_a alone would funnel
       ALL of a hot doc's incidences to one partition and void the
       memory bound.  The r6 posting-LIST form of steps 1-2 --
       groupBy(shingle).collect_list(members), then a double explode
       crossing each list with itself -- was caught by the r7 sf100
       probe at 5M docs: the ObjectHashAggregate buffered the whole
       posting corpus (53.7 GB spill) and every exploded row carried
       the full member array, exponent 1.20.  The window+merge-join
       form produces the identical incidence stream with no object
       buffers and no array re-materialization (see the README sf100
       table for the re-measurement).  The ``merge`` hint pins
       sort-merge: both sides are corpus-scaled, so neither may ever
       become a broadcast build side.  Two rejected shapes, both sf10-measured:
       a per-doc collect_list (its PARTIAL ObjectHashAggregate
       buffers the arrays with near-zero reduction before the
       exchange -- 10 GB spill) and a JVM sortWithinPartitions feeding
       a streaming RLE (the 253M-row directed sort spilled 7.5 GB).
    3. one ``mapInArrow`` pass per partition buffers its batches as
       zero-copy numpy views (bounded by the fan-out: partition bytes
       / 128; mapInPandas was measured first and its per-batch
       DataFrame construction alone cost ~70 s over the 12.7k sf10
       batches), then counts each pair's incidences with a single
       vectorized np.lexsort + boundary diff and emits only pairs
       where EITHER direction clears (t - 1e-6) * n: the threshold
       fires BEFORE any pair row reaches an exchange, so pair
       cardinality (113M at sf10, vs 512 survivors at sf0.1 density)
       never materializes anywhere in the plan.
    4. Spark-side fwd/rev projection with F.round(n_common / n, 6)
       >= t re-filters: the 1e-6 margin over-emits at most the
       round-up borderline, and the final value is computed by the
       same JVM expression as the grouped formulation -- bit-identical
       results.

    Both directions come free: doc A's row scores A-as-contained;
    A-as-container falls out of each partner's own row.  At 100 TB
    the per-doc incidence array is bounded by Σ df over the doc's
    shingles -- blocking (block_col) is the lever when hot shingles
    make that unbounded, exactly as for the pair-keyed forms.

    Fixed-width-box caveat (measured, r7 sf100 probe + r8 experiment
    campaign): the third decade reads exponent 1.04-1.17 depending on
    the run, and the residual over linear survives every mechanism
    tested by direct experiment -- fan-out width (per-partition n
    held constant with a 40x fan-out -> 1280 partitions: exponent
    1.054 vs 1.059 at 128, PROBES_r08.json ``containment_fanout``,
    so the lexsort log-factor hypothesis r7 wrote here is REFUTED),
    sort spill (AQE initialPartitionNum = 8x cores: 0 B spilled, not
    faster), spill write-back (the fastest sf100 run spilled
    45.7 GB), heap size (80g: less spill, slower), and read I/O (diskstats: ~0.08 GB
    physical reads at BOTH decades -- all cache-served).  Every byte
    counter is linear (shuffle 10.2-10.8x for 10x data; collision
    volume exactly linear; no array-typed exchanges), while
    nominally-equivalent sf100 runs spread 29% (595-767 s over four
    runs, incl. a same-day exact replication of the fastest pair
    reading 1.14) -- wider than the residual itself.  Conclusion:
    one-box run-to-run
    variance under a 10x working set, not a plan property; a cluster
    bounds per-node volumes by adding nodes.  Full table: README
    "1000x probe" section, note (c).

    ``id_col`` must be an integral type (the Arrow batch schema types
    ids as long, like the fixture tables' BIGINT keys); string ids
    would need a dictionary-encode pre-pass.
    """
    blocks = (block_col,) if block_col else ()
    ex = _exploded_shingles(
        docs, id_col, text_col, shingle_n, extra_cols=blocks, with_size=True
    )
    pruned = _prune_unique_postings(ex, [*blocks, "shingle"])
    a, b = pruned.alias("a"), pruned.alias("b")
    join_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        join_cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & join_cond
    # Explicit 4x fan-out over the default parallelism: each
    # partition's incidences are buffered as numpy arrays in one
    # Python worker, so partition size is the worker's memory bound
    # (127M rows / 128 partitions x 32 B = ~32 MB at sf10).  A plain
    # repartition(col) was measured too: AQE's 64 MB coalescing
    # target produces partitions ~4x larger -- still safe, but the
    # pinned count keeps the bound independent of AQE settings.
    # Hash on the FULL pair key: counting only needs a pair's rows
    # together (the lexsort key is (id_a, id_b)), and pair-key hashing
    # keeps the bound true under hot-doc skew, where id_a-only hashing
    # would send one doc's entire incidence share to a single worker.
    fanout = 4 * docs.sparkSession.sparkContext.defaultParallelism
    inc = (
        a.join(b.hint("merge"), join_cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .repartition(fanout, F.col("id_a"), F.col("id_b"))
    )

    def count_pairs(batches):
        import numpy as np
        import pyarrow as pa

        names = ("id_a", "n_a", "id_b", "n_b")
        cols: dict[str, list] = {c: [] for c in names}
        for batch in batches:
            idx = {c: batch.schema.get_field_index(c) for c in names}
            for c in names:
                cols[c].append(
                    batch.column(idx[c]).to_numpy(zero_copy_only=False)
                )
        if not cols["id_a"]:
            return
        id_a, n_a, id_b, n_b = (np.concatenate(cols[c]) for c in names)
        if id_a.size == 0:  # zero-row batches pass the list guard
            return
        order = np.lexsort((id_b, id_a))
        id_a, n_a, id_b, n_b = id_a[order], n_a[order], id_b[order], n_b[order]
        bound = np.empty(len(id_a), dtype=bool)
        bound[0] = True
        bound[1:] = (id_a[1:] != id_a[:-1]) | (id_b[1:] != id_b[:-1])
        starts = np.flatnonzero(bound)
        cnts = np.diff(np.append(starts, len(id_a))).astype("int64")
        id_a, n_a, id_b, n_b = (
            id_a[starts], n_a[starts], id_b[starts], n_b[starts]
        )
        # Emit BOTH directions here rather than as a Spark-side
        # fwd/rev union: two projections over one mapInArrow node make
        # the plan run the whole Python stage (and its upstream
        # incidence pipeline) twice -- measured 2x at sf10.
        keep_f = cnts >= (threshold - 1e-6) * n_a
        keep_r = cnts >= (threshold - 1e-6) * n_b
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    np.concatenate([id_a[keep_f], id_b[keep_r]]),
                    type=pa.int64(),
                ),
                pa.array(
                    np.concatenate([id_b[keep_f], id_a[keep_r]]),
                    type=pa.int64(),
                ),
                pa.array(
                    np.concatenate([cnts[keep_f], cnts[keep_r]]),
                    type=pa.int64(),
                ),
                pa.array(
                    np.concatenate([n_a[keep_f], n_b[keep_r]]),
                    type=pa.int32(),
                ),
            ],
            names=["contained_id", "container_id", "n_common", "n_den"],
        )

    directed = inc.mapInArrow(
        count_pairs,
        "contained_id long, container_id long, n_common long, n_den int",
    )
    return (
        directed.withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_den"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )


def containment_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact containment pairs via ASYMMETRIC prefix filtering with a
    COUNT-CARRY verify: same result as :func:`containment_pairs`.

    For C(A->B) = |A∩B|/|A| >= t, A must share at least one shingle
    among its first floor((1-t)*|A|)+1 shingles under a fixed global
    (rarest-first) order -- the bound depends only on the CONTAINED
    side.  At t=0.8 the prefix is ~20% of each doc's shingles, and
    high-frequency shingles rank last, so the contained-member test is
    cheap.

    Like :func:`ngram_jaccard_pairs_prefix`, the verify attaches no
    shingle arrays to pair rows.  df=1 postings are pruned first (a
    shared shingle has df >= 2 by definition, and pruning before
    ranking only moves shared shingles earlier, keeping the bound on
    the full n_sh valid).  After pruning, every surviving PREFIX
    posting's shingle is by construction present in some other doc,
    i.e. its owner satisfies the asymmetric candidate condition --
    contained-members are simply the owners of surviving prefix
    postings, no candidate join needed.  The counted collision join
    then runs contained-member postings against the full pruned
    inverted index (a.id != b.id -- roles are asymmetric), counts
    |A∩B| at collision time, and the threshold filter discards the
    member pairs the prefix theorem proves cannot reach t.  Exact; no
    per-candidate motion.
    """
    ex = _exploded_shingles(docs, id_col, text_col, shingle_n, with_size=True)
    wdf = Window.partitionBy("shingle")
    pruned = (
        ex.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .filter(F.col("__df") >= 2)
    )
    members = (
        pruned.withColumn(
            "__rnk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__df", "shingle")
            ),
        )
        .filter(F.col("__rnk") <= _prefix_len(F.col("n_sh"), threshold))
        .select(id_col)
        .distinct()
    )
    posts = pruned.select(id_col, "n_sh", "shingle")
    contained = posts.join(members.hint("shuffle_hash"), id_col, "left_semi")
    a, b = contained.alias("a"), posts.alias("b")
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("contained_id"),
            F.col(f"b.{id_col}").alias("container_id"),
            F.col("a.n_sh").alias("n_a"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )
