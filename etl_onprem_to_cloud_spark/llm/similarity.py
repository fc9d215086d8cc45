"""Similarity search over embedding columns (Ring C).

- :func:`brute_force_top_k` -- exact cosine top-k: broadcast the (small)
  query set against the corpus, fold the dot product in codegen, rank
  with a per-query window.  This is the correctness baseline; cost is
  O(|queries| * |corpus| * dim) spread across executors, which is the
  right tool whenever |queries| is bounded (batch retrieval, eval sets).
- :func:`ivf_top_k` -- IVF-style approximate search: corpus vectors are
  assigned to coarse cells (here the fixture's ``label`` plays the role
  of an offline k-means cell id; computing fresh cells is a one-line
  KMeans fit); per query only the ``nprobe`` nearest cell centroids are
  searched.  At 100 TB this turns a full scan into a
  ``nprobe/num_cells`` partial scan, and cell assignment is the shuffle
  key, so each probe touches a bounded partition set.
- :func:`embedding_near_dup_pairs` -- cosine-threshold pair mining
  blocked on a partition column (semantic near-dedup).
- :func:`srp_near_dup_pairs` -- signed-random-projection (SimHash for
  vectors) LSH: the blocking-free scale path for cosine near-dedup,
  with deterministic md5-derived hyperplanes so an external oracle can
  reproduce the buckets bit-for-bit.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.numeric import portable_round
from ..functions.vectors import cosine_similarity, dot_product
from ..operators.layout import spread_input


def _validated_query_ids(query_ids: list[int]) -> list[int]:
    """Enforce the precondition behind every ANN entry point's
    ``.limit(len(query_ids))`` value no-op (ADVICE r9): the bound only
    holds while the id list is duplicate-free AND ``id_col`` is unique
    in the embeddings table (the fixture contract: ``vec_id`` is the
    table's key).  With a duplicate, ``limit`` would silently and
    NONDETERMINISTICALLY drop rows -- strictly worse than the pre-r9
    behavior where duplicates propagated visibly and failed parity --
    so the list side is checked loudly here, and the table side is
    asserted by tests/test_similarity_ml.py against the fixtures."""
    ids = list(query_ids)
    if len(set(ids)) != len(ids):
        raise ValueError(
            "query_ids must be duplicate-free: the ANN plans bound "
            "their broadcast query sides with .limit(len(query_ids)), "
            "which is only a value no-op for unique ids"
        )
    return ids


def brute_force_top_k(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "pandas",
) -> DataFrame:
    """Exact top-k neighbors for each query id.  Returns
    (query_id, neighbor_id, cosine, rank) excluding self-matches.

    Scale shape: the query side is a broadcast nested-loop of a few
    rows; the corpus side streams through codegen -- no shuffle until
    the final per-query top-k (bounded at |queries| * k rows).

    ``engine`` picks the cosine implementation: ``"pandas"`` (default)
    is the Arrow-batched numpy path -- one vectorized pass per batch
    instead of an interpreted dim-element fold per (query, corpus)
    pair, which dominates once |queries| grows (same lesson as the SRP
    verify step); ``"expr"`` is the pure-codegen higher-order-function
    twin the pandas path is differential-tested against
    (tests/test_similarity_ml.py).  Both round to 1e-6 before ranking,
    so their outputs are identical."""
    # .limit(len(query_ids)) is a VALUE no-op (ids unique -- enforced
    # for the list by _validated_query_ids, contractually for the
    # column; the filter already yields at most that many rows) that
    # makes the bound explicit in the plan, so the corpus-broadcast
    # guard (plans/checks.corpus_broadcast_hints) can prove the hinted
    # side bounded instead of allowlisting it by name.
    query_ids = _validated_query_ids(query_ids)
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .limit(len(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    if engine == "pandas":
        cos = _pair_cosine_pandas()(F.col("q_vec"), F.col("n_vec")).cast("double")
    elif engine == "expr":
        cos = F.round(
            cosine_similarity(F.col("q_vec"), F.col("n_vec")), 6
        ).cast("double")
    else:
        raise ValueError(f"engine must be 'pandas' or 'expr', got {engine!r}")
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _centroids(embeddings: DataFrame, cell_col: str, vec_col: str) -> DataFrame:
    """Per-cell mean vector via posexplode + dim-wise avg + re-assembly.
    One shuffle keyed on (cell, dim); output is num_cells tiny rows."""
    dims = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(vec_col).alias("dim", "val"),
    )
    per_dim = dims.groupBy("cell", "dim").agg(F.avg("val").alias("avg_val"))
    return (
        per_dim.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "avg_val"))
            ).alias("pairs")
        )
        .select(
            "cell",
            F.transform(F.col("pairs"), lambda p: p["avg_val"]).alias("centroid"),
        )
    )


def kmeans_cells(
    embeddings: DataFrame,
    num_cells: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Coarse quantizer: seeded KMeans cell assignment (the IVF 'train'
    step).  Returns the input plus a ``__cell`` column.  Deterministic
    for a fixed seed; at 100 TB fit on a sample
    (``df.sample(...)``) and only transform the full corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.withColumn(
        "__features",
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    model = KMeans(
        k=num_cells, seed=seed, featuresCol="__features", predictionCol="__cell"
    ).fit(feats)
    return model.transform(feats).drop("__features")


def _dist2_cols(v, c):
    """Squared L2 via the coreset convention: dot(v,v) - 2*dot(v,c) +
    dot(c,c) -- fixed op structure, identical in the SQL twins."""
    return (
        dot_product(v, v)
        - F.lit(2.0) * dot_product(v, c)
        + dot_product(c, c)
    )


def lloyd_fit(
    rows: list[tuple[int, list[float]]],
    num_cells: int,
    n_iter: int,
) -> list[tuple[int, list[float]]]:
    """Driver-side Lloyd fit, BIT-IDENTICAL to the distributed loop in
    :func:`lloyd_cells` and to the unrolled DuckDB oracle:

    - dot products use ``cumsum`` (strict sequential left-to-right
      float64 accumulation -- the same fold as ``F.aggregate`` /
      ``list_dot_product``; numpy's pairwise summation lives in
      ``np.sum``, not ``cumsum``);
    - dist2 = (vv - 2.0*vc) + cc with the identical op order;
    - centroid means quantize each term to floor(v*1e7+0.5) and
      accumulate as exact int64 (== the engines' DECIMAL(18,7) sums),
      then divide (S/1e7)/n -- both divisions correctly rounded, S <
      2^53, so the doubles match the engines' decimal->double casts;
    - argmin ties break to the smallest cell id (numpy argmin keeps
      the first minimum; cells are evaluated in ascending id order);
    - empty cells drop out of the centroid table, as GROUP BY does.

    Differential-tested against the distributed loop
    (tests/test_similarity_ml.py)."""
    import numpy as np

    if not rows:  # mirror the distributed path: empty in, empty out
        return []
    rows = sorted(rows, key=lambda r: r[0])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    return _lloyd_fit_np(V, num_cells, n_iter)


def _lloyd_fit_np(V, num_cells: int, n_iter: int) -> list[tuple[int, list[float]]]:
    """:func:`lloyd_fit` inner loop over an ALREADY id-sorted float64
    matrix (r11, guide §4 driver boundary: the ANN entries now collect
    the fit set once as Arrow and train coarse + PQ stages off the one
    parsed matrix instead of re-building Python row lists per stage).
    Bit-identity is inherited: same seeding (first ``num_cells`` rows
    of the sorted matrix), same cumsum dots, same fixed-point means."""
    import numpy as np

    if len(V) == 0:
        return []
    cents = [(j, V[j]) for j in range(min(num_cells, len(V)))]
    K = np.floor(V * 1e7 + 0.5).astype(np.int64)
    for _ in range(n_iter):
        # _assign_np is the single source of the assignment math
        # (first-min argmin over (vv - 2vc) + cc with cumsum dots).
        picked = _assign_np(V, cents)
        nxt = []
        for col, (cell, _) in enumerate(cents):
            mask = picked == col
            n = int(mask.sum())
            if n == 0:
                continue
            S = K[mask].sum(axis=0)  # exact int64
            nxt.append((cell, (S.astype(np.float64) / 1e7) / n))
        cents = nxt
    return [(cell, [float(x) for x in c]) for cell, c in cents]


def _bounded_fit_rows(
    e: DataFrame,
    fit_max_rows: int,
    salt: str,
    id_name: str = "id",
    vec_name: str = "v",
) -> list:
    """Collect a deterministic quantizer FIT set of <= fit_max_rows.

    Below the cap this is the whole corpus in one job -- byte-for-byte
    the legacy behavior, so every driver-SF oracle is unchanged.
    Above it (first hit by the r6 sf100 probe: 2M vectors tripped
    ivfpq_top_k's guard, which used to raise and told the CALLER to
    gate -- but the registered queries never did), the fit set is a
    content-hash subsample: ``hash_gate(id)`` < a margin x the target
    rate, then a driver-side (gate, id) sort truncates the binomial
    overshoot to exactly the cap.  Deterministic under repartitioning
    and engine-independent (md5 content gate), like every other
    sampling decision in this repo (operators/sampling.py).  Two
    corpus passes on either path: count() (column-pruned aggregate,
    nothing to the driver) then ONE collect -- the full corpus below
    the cap (byte-identical set to legacy), the gated sample above
    it.  The 1.05x margin is binomial, so it can undershoot; when the
    gated sample comes back short the margin doubles and the gate
    re-runs (monotone threshold, same salt -- still deterministic per
    dataset; at the production cap of 1M the 5% margin is ~50 sigma,
    so the retry is a never-in-practice correctness backstop for tiny
    test caps).  Quantizer fit over a uniform bounded sample is how
    production IVF/PQ trains at this size anyway, and the exact
    re-rank stages keep emitted VALUES exact regardless of codebook
    quality."""
    n = e.count()
    if n <= fit_max_rows:
        return [(r[id_name], list(r[vec_name])) for r in e.collect()]
    from ..operators.sampling import _MOD, hash_gate

    margin = 1.05
    while True:
        rate = min(1.0, margin * fit_max_rows / n)
        gated = (
            e.withColumn("__g", hash_gate(F.col(id_name).cast("string"), salt))
            .filter(F.col("__g") < int(rate * _MOD))
            .collect()
        )
        if len(gated) >= fit_max_rows or rate >= 1.0:
            break
        margin *= 2.0  # binomial undershoot: widen the gate and re-run
    gated.sort(key=lambda r: (r["__g"], r[id_name]))
    return [(r[id_name], list(r[vec_name])) for r in gated[:fit_max_rows]]


def _fit_arrays(
    e: DataFrame,
    fit_max_rows: int,
    salt: str,
    id_name: str = "id",
    vec_name: str = "v",
    count_df: DataFrame | None = None,
):
    """:func:`_bounded_fit_rows` with the driver boundary batched (r11,
    guide §4/§6): ONE Arrow transfer instead of a pickled-row collect
    plus per-row Python list conversion, returning the fit set as an
    id-sorted ``(ids: int64 ndarray, V: float64 matrix)`` pair that the
    coarse Lloyd fit, the residual step and every per-subspace PQ fit
    reuse directly (the r10 shape re-built Python row lists and numpy
    arrays per stage -- ~1 s serial per ANN query at bench density,
    visible as the 0.54/0.78 8-core scaling ratios).

    Selection is byte-identical to :func:`_bounded_fit_rows`: whole
    corpus under the cap, deterministic hash-gated subsample truncated
    by a (gate, id) sort above it.  ``count_df``, when given, must be a
    same-row-count relation whose count is cheaper to evaluate (the
    callers pass the raw parquet-backed table, so the size check is a
    metadata count instead of executing the spread projection).  Values
    are bit-identical either way: Arrow ships the JVM's float64
    payload verbatim, exactly like Row -> Python float.  Falls back to
    the row path for ragged vectors (never the case for the fixed-dim
    embedding corpus)."""
    import numpy as np

    def _np(df):
        tbl = df.toArrow()
        ids = tbl.column(id_name).combine_chunks().to_numpy(zero_copy_only=False)
        vec = tbl.column(vec_name).combine_chunks()
        lens = vec.value_lengths().to_numpy(zero_copy_only=False)
        if len(lens) and (lens != lens[0]).any():
            return None  # ragged: caller falls back to the row path
        flat = vec.flatten().to_numpy(zero_copy_only=False).astype(
            np.float64, copy=False
        )
        dim = int(lens[0]) if len(lens) else 0
        return ids.astype(np.int64, copy=False), flat.reshape(len(lens), dim)

    n = (count_df if count_df is not None else e).count()
    if n <= fit_max_rows:
        got = _np(e.select(id_name, vec_name))
        if got is None:
            rows = _bounded_fit_rows(e, fit_max_rows, salt, id_name, vec_name)
            rows.sort(key=lambda r: r[0])
            ids = np.array([r[0] for r in rows], dtype=np.int64)
            V = np.array([r[1] for r in rows], dtype=np.float64)
            return ids, V
        ids, V = got
        order = np.argsort(ids, kind="stable")  # ids unique
        return ids[order], V[order]
    from ..operators.sampling import _MOD, hash_gate

    margin = 1.05
    while True:
        rate = min(1.0, margin * fit_max_rows / n)
        gdf = (
            e.withColumn("__g", hash_gate(F.col(id_name).cast("string"), salt))
            .filter(F.col("__g") < int(rate * _MOD))
            .select(id_name, vec_name, "__g")
        )
        tbl = gdf.toArrow()
        if tbl.num_rows >= fit_max_rows or rate >= 1.0:
            break
        margin *= 2.0  # binomial undershoot: widen the gate and re-run
    ids = tbl.column(id_name).combine_chunks().to_numpy(zero_copy_only=False)
    gs = tbl.column("__g").combine_chunks().to_numpy(zero_copy_only=False)
    vec = tbl.column(vec_name).combine_chunks()
    lens = vec.value_lengths().to_numpy(zero_copy_only=False)
    if len(lens) and (lens != lens[0]).any():  # ragged: row-path fallback
        rows = _bounded_fit_rows(e, fit_max_rows, salt, id_name, vec_name)
        rows.sort(key=lambda r: r[0])
        return (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float64),
        )
    flat = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    V = flat.reshape(len(lens), int(lens[0]) if len(lens) else 0)
    # (gate, id) sort then truncate -- the _bounded_fit_rows order.
    order = np.lexsort((ids, gs))[:fit_max_rows]
    keep = order[np.argsort(ids[order], kind="stable")]  # final id sort
    return ids[keep].astype(np.int64, copy=False), V[keep]


def lloyd_cells(
    embeddings: DataFrame,
    num_cells: int = 10,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "driver",
    fit_max_rows: int = 1_000_000,
    carry_columns: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """DETERMINISTIC Lloyd k-means quantizer (the IVF 'train' step made
    value-checkable, VERDICT r3 item 6): init centroids are the
    ``num_cells`` smallest-id vectors, each of ``n_iter`` rounds
    reassigns every vector to its nearest centroid (argmin of the
    fixed-structure dist2; ties break on cell id) and recomputes
    per-cell means with per-term fixed-point quantization + DECIMAL
    accumulation, so both the assignment and the centroids are
    bit-identical in any engine that folds lists left-to-right -- the
    generated unrolled-CTE oracle (:func:`duck_ivf_lloyd_sql`) proves
    it.

    Returns ``(assigned, cents)``: the input with a ``__cell`` column
    (final assignment against the last centroids) and the ``(cell,
    centroid)`` table.  With ``carry_columns=False`` (r11) ``assigned``
    is the slim ``(id_col, vec_col-as-double, __cell)`` projection --
    no corpus re-attach join -- for consumers that read nothing else.

    ``fit="driver"`` (default) collects the fit set ONCE and trains in
    vectorized numpy (:func:`lloyd_fit`, bit-identical by
    construction): 2 Spark jobs total instead of 2 per Lloyd round.
    That is how production IVF trains at 100 TB too -- the quantizer
    fits on a bounded training set while the corpus-wide ASSIGNMENT
    stays distributed and map-only -- and the collect is bounded: a
    corpus over ``fit_max_rows`` fits on a deterministic hash-gated
    subsample of exactly ``fit_max_rows`` rows
    (:func:`_bounded_fit_rows`) instead of flooding the driver;
    below the cap the fit set is the whole corpus, byte-identical to
    the legacy behavior, so driver-SF oracles are unchanged.
    ``fit="distributed"`` runs the same loop as DataFrame ops (the
    differential twin; per-round centroid tables materialize through a
    bounded <= num_cells-row collect to keep lineage linear in
    n_iter).

    Scale shape: ASSIGNMENT is map-only -- the <=num_cells centroids are
    collapsed into one broadcast array row and the argmin runs inside
    codegen per row; each distributed UPDATE is one shuffle keyed
    (cell, dim) over the exploded dims."""
    spark = embeddings.sparkSession
    # Spread (r10): the map-only assignment runs heavy per-row codegen
    # (num_cells x dim dist2 argmin); a one-partition scan made it
    # single-threaded at bench density.  No-op on well-partitioned
    # inputs; the fit collect is order-insensitive (lloyd_fit sorts).
    e = spread_input(
        embeddings.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        ),
        "__id",
    )

    def assign(cents_df):
        cents_arr = cents_df.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
            ).alias("__cs")
        )
        scored = F.transform(
            F.col("__cs"),
            lambda c: F.struct(
                _dist2_cols(F.col("__v"), c["centroid"]).alias("d"),
                c["cell"].alias("cell"),
            ),
        )
        return (
            e.crossJoin(F.broadcast(cents_arr))
            .withColumn(
                "__cell", F.element_at(F.array_sort(scored), 1)["cell"]
            )
            .drop("__cs")
        )

    def update(assigned_df):
        # Per-(cell, dim) mean with the portable fixed-point contract:
        # quantize each term to the 1e-7 grid (floor-based half-up,
        # identical IEEE ops in both engines), accumulate as exact
        # DECIMAL (order-independent), divide in double.
        dims = assigned_df.select(
            "__cell", F.posexplode("__v").alias("dim", "val")
        )
        per_dim = dims.groupBy("__cell", "dim").agg(
            (
                F.sum(
                    (F.floor(F.col("val") * 1e7 + F.lit(0.5)) / F.lit(1e7))
                    .cast("decimal(18,7)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        return (
            per_dim.groupBy("__cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("p")
            )
            .select(
                F.col("__cell").alias("cell"),
                F.transform(F.col("p"), lambda x: x["m"]).alias("centroid"),
            )
        )

    def materialize(rows):
        return spark.createDataFrame(rows, "cell int, centroid array<double>")

    if fit == "driver":
        # r11: one Arrow transfer + numpy end to end (_fit_arrays);
        # the size check is a metadata count on the raw table instead
        # of executing the spread projection a second time.
        _, fit_v = _fit_arrays(
            e, fit_max_rows, "ivf-fit", "__id", "__v", count_df=embeddings
        )
        cents = materialize(_lloyd_fit_np(fit_v, num_cells, n_iter))
    else:
        # Init: the num_cells smallest-id vectors, cell = rank - 1
        # (the same seeding lloyd_fit applies to its sorted rows).
        w = Window.orderBy("__id")
        cents = (
            e.orderBy("__id")
            .limit(num_cells)
            .select(
                (F.row_number().over(w) - F.lit(1)).cast("int").alias("cell"),
                F.col("__v").alias("centroid"),
            )
        )
        # Materialize the centroid table between rounds: a BOUNDED
        # collect of <= num_cells rows (same class as the PageRank
        # scalar and coreset steps).  Without it each round's plan
        # nests the whole previous chain and planning/recomputation
        # dominates.
        for _ in range(n_iter):
            cents = materialize(
                [
                    (int(r["cell"]), [float(x) for x in r["centroid"]])
                    for r in update(assign(cents)).collect()
                ]
            )
    if not carry_columns:
        # r11 slim path (ivf_top_k): the consumer only needs
        # (id, vector, cell), and ``__v`` is the same doubles the
        # downstream dot products cast the raw vectors to anyway --
        # so skip the corpus-to-corpus re-attach join entirely
        # (guide §8 "attach" trap: that join shuffled the payload a
        # second time at scale just to restore columns the caller
        # never reads).
        assigned = assign(cents).select(
            F.col("__id").alias(id_col),
            F.col("__v").alias(vec_col),
            "__cell",
        )
        return assigned, cents
    assigned = (
        assign(cents)
        .select("__id", "__cell")
        .join(embeddings, F.col("__id") == F.col(id_col))
        .drop("__id")
    )
    return assigned, cents


def _duck_dist2(v: str, c: str) -> str:
    """SQL-text squared L2 with the coreset op structure -- shared by
    every generated Lloyd oracle (the bit-identity-critical form)."""
    return (
        f"(list_dot_product({v}, {v}) - 2.0 * list_dot_product({v}, {c})"
        f" + list_dot_product({c}, {c}))"
    )


def _duck_assign(src_e: str, src_cents: str, name: str) -> str:
    """SQL-text Lloyd ASSIGN stage: nearest centroid per row, ties to
    the smallest cell id."""
    return (
        f"{name} AS MATERIALIZED (SELECT id, v, cell FROM ("
        f"SELECT e.id, e.v, c.cell, row_number() OVER ("
        f"PARTITION BY e.id ORDER BY {_duck_dist2('e.v', 'c.centroid')} ASC,"
        f" c.cell) AS rn FROM {src_e} e CROSS JOIN {src_cents} c)"
        f" WHERE rn = 1)"
    )


def _duck_update(src_assign: str, name: str) -> str:
    """SQL-text Lloyd UPDATE stage: per-(cell, dim) mean with the
    fixed-point DECIMAL(18,7) accumulation contract."""
    return (
        f"{name} AS MATERIALIZED (SELECT cell,"
        f" list(m ORDER BY dim) AS centroid FROM ("
        f"SELECT a.cell, d.i AS dim,"
        f" CAST(sum(CAST(floor(a.v[d.i] * 10000000.0 + 0.5)"
        f" / 10000000.0 AS DECIMAL(18,7))) AS DOUBLE) / count(*) AS m"
        f" FROM {src_assign} a, LATERAL (SELECT"
        f" unnest(generate_series(1, len(a.v))) AS i) d"
        f" GROUP BY a.cell, d.i) GROUP BY cell)"
    )


def duck_ivf_lloyd_sql(
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 3,
    num_cells: int = 10,
    n_iter: int = 3,
) -> str:
    """Generated unrolled DuckDB twin of ``ivf_top_k`` with the
    deterministic Lloyd quantizer, over the ``embeddings`` table --
    the same generator pattern as the PageRank and k-center oracles so
    the two loop bodies cannot drift.  AS MATERIALIZED on every stage:
    each a_i/c_i references its predecessor multiple times and plain
    CTE inlining would grow the plan exponentially in n_iter."""
    ids_sql = ", ".join(str(i) for i in query_ids)

    def dist2(v: str, c: str) -> str:
        return _duck_dist2(v, c)

    def assign(src_cents: str, name: str) -> str:
        return _duck_assign("e", src_cents, name)

    def update(src_assign: str, name: str) -> str:
        return _duck_update(src_assign, name)

    parts = [
        "e AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id)"
        " - 1 AS cell, CAST(embedding AS DOUBLE[]) AS centroid"
        f" FROM embeddings ORDER BY vec_id LIMIT {num_cells})",
    ]
    for i in range(1, n_iter + 1):
        parts.append(assign(f"c{i - 1}", f"a{i}"))
        parts.append(update(f"a{i}", f"c{i}"))
    parts.append(assign(f"c{n_iter}", "af"))
    cos = (
        "list_dot_product(qv, {x}) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product({x}, {x})))"
    )
    parts += [
        f"q AS (SELECT id AS query_id, v AS qv FROM e"
        f" WHERE id IN ({ids_sql}))",
        "probe AS (SELECT query_id, qv, cell FROM ("
        "SELECT q.query_id, q.qv, c.cell, row_number() OVER ("
        "PARTITION BY q.query_id ORDER BY "
        + cos.format(x="c.centroid")
        + f" DESC, c.cell) AS cr FROM q CROSS JOIN c{n_iter} c)"
        f" WHERE cr <= {nprobe})",
        "s AS (SELECT p.query_id, a.id AS neighbor_id, floor(("
        + cos.format(x="a.v")
        + ") * 1000000.0 + 0.5) / 1000000.0 AS cosine"
        " FROM probe p JOIN af a ON a.cell = p.cell"
        " AND a.id != p.query_id)",
        "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank"
        " FROM s)",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT query_id, neighbor_id, cosine, rank FROM r"
        f" WHERE rank <= {k} ORDER BY query_id, rank"
    )


def ivf_top_k(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    num_cells: int = 10,
    quantizer: str = "lloyd",
    n_iter: int = 3,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` cells whose
    centroids are most cosine-similar to each query.  Returns
    (query_id, neighbor_id, cosine, rank).

    ``cell_col=None`` (default) trains a quantizer so the cells follow
    the corpus geometry: ``quantizer="lloyd"`` (default) runs the
    deterministic Lloyd iteration (:func:`lloyd_cells`) whose output is
    fully oracle-checkable; ``"kmeans"`` uses the seeded MLlib KMeans
    (deterministic per seed but not reproducible outside Spark).  Pass
    a column name instead to reuse an existing offline partition (only
    sound if that partition actually clusters the vector space -- an
    arbitrary category column caps recall at roughly
    nprobe/num_cells).
    """
    query_ids = _validated_query_ids(query_ids)
    if cell_col is None:
        if quantizer == "lloyd":
            embeddings, cents = lloyd_cells(
                embeddings,
                num_cells=num_cells,
                n_iter=n_iter,
                id_col=id_col,
                vec_col=vec_col,
                # r11: this function reads only (id, vector, cell)
                # back, and the doubles are what cosine casts to
                # anyway -- skip the corpus re-attach join.
                carry_columns=False,
            )
            cell_col = "__cell"
        else:
            embeddings = kmeans_cells(
                embeddings, num_cells=num_cells, id_col=id_col, vec_col=vec_col
            )
            cell_col = "__cell"
            cents = _centroids(embeddings, cell_col, vec_col)
    else:
        cents = _centroids(embeddings, cell_col, vec_col)
    # limit = value no-op explicit bound (ids unique); see
    # brute_force_top_k for why the corpus-broadcast guard needs it.
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .limit(len(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    # Rank cells per query by centroid similarity (tiny cross join).
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("cell")
    )
    probes = (
        queries.join(F.broadcast(cents))
        .withColumn(
            "c_sim", cosine_similarity(F.col("q_vec"), F.col("centroid"))
        )
        .withColumn("c_rank", F.row_number().over(probe_w))
        .filter(F.col("c_rank") <= nprobe)
        .select("query_id", "q_vec", "cell")
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # portable_round, not F.round: the cosine feeds a
            # value-hash-compared output AND the rank ordering, so both
            # engines must execute the identical floor-based rounding
            # (native round() implementations disagree on rare boundary
            # doubles).
            portable_round(
                cosine_similarity(F.col("q_vec"), F.col("n_vec")), 6
            ).cast("double").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold).  ``block_col`` bounds the self-join (IVF-cell blocking);
    pass None for the exact quadratic variant on small corpora."""
    e = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a, b = e.alias("a"), e.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6
            ).cast("double").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def srp_planes(
    num_planes: int, dim: int, seed: str = "srp"
) -> list[list[float]]:
    """Deterministic random hyperplanes: component (p, d) is uniform in
    [-1, 1], tabulated from md5(f"{seed}_{p}_{d}") -- plain Python, no
    RNG state, so the SAME constants can be embedded as literals in
    both the Spark plan and an external oracle's SQL (the same trick
    dedup.py uses for MinHash permutations).  For the sign test any
    spherically-symmetric-ish distribution works; component-wise
    uniform is standard for SimHash."""
    return [
        [
            int(hashlib.md5(f"{seed}_{p}_{d}".encode()).hexdigest()[:8], 16)
            / float(1 << 32)
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _srp_dots_pandas(planes: list[list[float]]):
    """Vectorized projection: one numpy matmul per Arrow batch computes
    every (row, plane) dot product at once.  The planes matrix rides
    into the executor inside the serialized UDF closure (num_planes*dim
    float64 -- a few KB)."""
    from pyspark.sql.functions import pandas_udf

    plane_t = np.asarray(planes, dtype=np.float64).T  # dim x n_planes

    @pandas_udf("array<double>")
    def srp_dots(v: pd.Series) -> pd.Series:
        mat = np.array(list(v), dtype=np.float64)  # batch x dim
        return pd.Series(list(mat @ plane_t))

    return srp_dots


def _pair_cosine_np(va: pd.Series, vb: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise cosine of two vector columns, rounded to 6 decimals,
    and the mask of rows where it is defined (both norms nonzero)."""
    a = np.array(list(va), dtype=np.float64)
    b = np.array(list(vb), dtype=np.float64)
    num = (a * b).sum(axis=1)
    den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den > 0, num / den, np.nan)
    return np.round(cos, 6), den > 0


def _pair_cosine_pandas():
    """Vectorized twin of functions.vectors.cosine_similarity: one
    numpy pass per Arrow batch instead of an interpreted 64-element
    fold per pair.  Matches the HOF form's semantics (double math,
    NULL when either norm is zero) and its output: the only float
    difference is dot-sum order, ~1e-16 relative, invisible after
    rounding to 1e-6 (differential-tested)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        cos, defined = _pair_cosine_np(va, vb)
        # Nullable dtype: a zero norm must surface as SQL NULL (as the
        # HOF form does), not NaN -- Spark orders NaN above every value,
        # so a NaN would wrongly survive a >= threshold filter.
        out = pd.Series(cos, dtype="Float64")
        out[~defined] = pd.NA
        return out

    return pair_cos


def _verified_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, cosine)`` for the rows of ``pairs`` (``id_a,
    id_b, __va, __vb``) whose cosine is defined and at least
    ``threshold``: the cosine and the filter in ONE ``mapInPandas``
    pass.  A filter on a UDF column is pushed below the projection
    that computes it, which plans the UDF twice per pair; here there
    is no column to push through."""
    from collections.abc import Iterator

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([
        pairs.schema["id_a"],
        pairs.schema["id_b"],
        StructField("cosine", DoubleType()),
    ])

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            cos, defined = _pair_cosine_np(pdf["__va"], pdf["__vb"])
            keep = defined & (cos >= threshold)
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                "cosine": cos[keep],
            })

    return pairs.mapInPandas(verify, schema)


def srp_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.4,
    num_tables: int = 8,
    bits_per_table: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp",
    projection: str = "pandas",
    target_occupancy: int | None = 100,
) -> DataFrame:
    """Cosine near-dup pairs via signed-random-projection LSH
    (random-hyperplane SimHash) -> (id_a, id_b, cosine), id_a < id_b.

    Each vector gets ``num_tables`` bucket ids; bucket bit b of table t
    is sign(dot(v, plane)) for a deterministic hyperplane.  Candidates
    = pairs sharing ANY table's bucket (banding, exactly like MinHash
    LSH); candidates are then verified with the exact cosine.  Two
    vectors at angle theta agree on one bit with prob 1 - theta/pi, so
    recall at cosine c is 1-(1-(1-acos(c)/pi)^bits)^tables: the 8x8
    default gives ~0.95 at c=0.9 (true near-dups) and deliberately lets
    low-similarity pairs go -- that selectivity is what bounds the
    candidate volume.  Size ``bits_per_table`` ~ log2(corpus/target
    bucket occupancy): candidates grow with occupancy^2, so bits must
    grow with corpus size (4 bits looked fine at 500 vectors and
    produced 40% of the cross product as candidates; 8 bits cut that
    250x).

    Scale shape: one narrow (table, bucket, id) explode -- num_tables
    rows per vector -- shuffled on (table, bucket); candidate volume is
    bounded by bucket occupancy, never the corpus cross product, and
    the cosine verify joins vectors back by id.  All deterministic:
    retries, reruns, and the DuckDB oracle see identical buckets.

    Plan shape: ALL the plane constants live in ONE
    array<array<double>> literal and all dots come from ONE transform
    lambda -- building a separate 64-literal dot-product tree per plane
    made analysis+codegen the dominant cost (9s fixed overhead on a
    500-row input); the single-literal form is ~15x cheaper to plan.

    ``projection`` picks the dot-product engine: ``"pandas"`` (default)
    is an Arrow-batched numpy matmul -- one BLAS gemm per batch instead
    of num_tables*bits_per_table interpreted ``aggregate``/``zip_with``
    folds per row, ~10x cheaper at real embedding dims; ``"expr"`` is
    the pure-codegen higher-order-function form.  Both are
    differential-tested to produce identical pair sets
    (tests/test_similarity_ml.py): the only float difference is
    summation order inside one dot product, and a sign flip would need
    |dot| < ~1e-13, far below the fixture's (and any real corpus')
    margin around zero.

    ``target_occupancy`` is the scale governor (added after the r5
    sf10 probe caught this function going SUPER-LINEAR, exponent 1.91
    at 200k vectors): with FIXED bits the per-bucket occupancy grows
    linearly with the corpus and within-bucket candidates grow
    quadratically -- the docstring's own warning, now enforced instead
    of remembered.  When set, ``bits_per_table`` is raised to
    ceil(log2(n / target_occupancy)) so expected occupancy stays
    constant and candidate volume grows LINEARLY with n (a 10x corpus
    genuinely has 10x the near-dup pairs at constant density; linear
    is the honest asymptotic, quadratic was the defect).  The bump
    costs one metadata-cheap count() and only engages above
    2^bits * occupancy vectors (25.6k at the 8x8/100 defaults), so
    every committed oracle -- generated from the BASE bits at driver
    SFs -- is bit-for-bit unaffected; srp_planes is index-tabulated,
    so extra planes extend the family without moving existing ones.
    Recall at a fixed cosine drops as bits grow (per-table collision
    p^bits); for near-dup work that trade is correct -- the pairs
    that matter sit near cosine 1 where p -> 1.  Pass None to pin the
    bits exactly (differential twins / oracle-generation paths).
    """
    if target_occupancy is not None:
        # Count a CHECKPOINTED projection of exactly the columns the
        # pipeline reads: for a computed (non-parquet-backed) upstream
        # plan a bare count() would execute the full lineage once extra
        # per invocation.  The cut is lazy, so the governor's count is
        # the one job that materializes it for the projection pass.
        embeddings = embeddings.select(id_col, vec_col).localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        n = embeddings.count()
        if n > (1 << bits_per_table) * target_occupancy:
            bits_per_table = math.ceil(math.log2(n / target_occupancy))
    n_planes = num_tables * bits_per_table
    planes = srp_planes(n_planes, dim, seed)

    # Spread a compact (one-file) corpus before the CPU-heavy projection
    # pass: num_tables*bits_per_table interpreted dot folds per row run
    # single-threaded on an unsplit input.
    embeddings = spread_input(embeddings, id_col)

    vecs = embeddings.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    if projection == "pandas":
        dots = vecs.select(
            F.col(id_col),
            F.col("__v"),
            _srp_dots_pandas(planes)(F.col("__v")).alias("__dots"),
        )
    elif projection == "expr":
        # One literal node, not n_planes*dim of them -- and built by the
        # SQL parser: F.lit on a nested python list walks Py4J once per
        # element (~2.4s for 64x64 doubles); parsing the equivalent
        # array(array(...)) text costs ~4ms.
        planes_lit = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(repr(v) for v in p) + ")" for p in planes
            )
            + ")"
        )
        dots = vecs.select(
            F.col(id_col),
            F.col("__v"),
            F.transform(
                planes_lit,
                lambda p: F.aggregate(
                    F.zip_with(F.col("__v"), p, lambda x, y: x * y),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                ),
            ).alias("__dots"),
        )
    else:
        raise ValueError(f"projection must be 'pandas' or 'expr', got {projection!r}")

    def bucket(t: int) -> F.Column:
        acc = F.lit(0).cast("long")
        for b in range(bits_per_table):
            bit = (F.element_at("__dots", t * bits_per_table + b + 1) > 0).cast(
                "long"
            )
            acc = acc + bit * F.lit(1 << b)
        return acc

    # Carry the VECTOR through the bucket explode so the verify runs
    # IN-BUCKET at collision time.  The alternative -- distinct the
    # skinny candidate pairs first, then join vectors back by id --
    # moves ~candidates x vec_size bytes (the r5 sf10 probe measured it
    # at 200k vectors / 78M candidates: 64 GB of sort spill as SMJ, or
    # 23 GB of wide shuffle as shuffle-hash).  Shipping each vector
    # with its bucket rows instead costs n x num_tables x vec_size
    # (~0.5 GB there) -- per-VECTOR replication beats per-CANDIDATE
    # attach whenever occupancy > tables, i.e. always at scale.  A pair
    # colliding in k tables computes its cosine k times (bounded by
    # num_tables, vectorized numpy) and dedups AFTER the threshold
    # filter, when rows are near-final volume.  Bit-identical: same
    # double arrays through the same kernel, so the k copies agree.
    keyed = dots.select(
        F.col(id_col),
        F.col("__v"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"), bucket(t).alias("bucket")
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("tb"),
    ).select(
        id_col,
        "__v",
        F.col("tb.table").alias("table"),
        F.col("tb.bucket").alias("bucket"),
    )
    # Checkpoint the (id, vec, table, bucket) relation: the candidate
    # self-join's two branches are not exchange-reused by the planner,
    # so without this each side re-runs the full projection pass.
    keyed = keyed.localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.table") == F.col("b.table"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    ids = (F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    if projection == "pandas":
        # Candidate volume is occupancy-bounded but still the widest
        # stage (dozens of pairs per vector); verify each pair with one
        # numpy batch pass rather than an interpreted 64-element fold.
        verified = _verified_pairs(
            pairs.select(
                *ids, F.col("a.__v").alias("__va"), F.col("b.__v").alias("__vb")
            ),
            threshold,
        )
    else:
        verified = pairs.select(
            *ids,
            F.round(cosine_similarity(F.col("a.__v"), F.col("b.__v")), 6)
            .cast("double")
            .alias("cosine"),
        ).filter(F.col("cosine") >= threshold)
    return verified.distinct()


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# --------------------------------------------------------------------------

# All codebook-literal expressions are built as SQL TEXT and parsed
# with ONE F.expr per column: the Column-constructor form issues one
# Py4J round trip per literal / node and cost ~9 s of DRIVER time at
# M=4 x 8 centroids before any job ran (measured).  Literals go
# through CAST('repr' AS DOUBLE) -- a correctly-rounded string->double
# parse, so the values are bit-identical to F.lit.

def _sql_vec(xs: list[float]) -> str:
    return (
        "array("
        + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in xs)
        + ")"
    )


def _sql_dot(a: str, b: str) -> str:
    # Same fold as functions.vectors.dot_product (the double cast there
    # is an identity on these already-double arrays).
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_dist2(v: str, c: list[float]) -> str:
    cc = 0.0
    for x in c:  # sequential fold, identical to the engines' order
        cc = cc + float(x) * float(x)
    return (
        f"(({_sql_dot(v, v)} - CAST(2.0 AS DOUBLE) * "
        f"{_sql_dot(v, _sql_vec(c))}) + CAST('{cc!r}' AS DOUBLE))"
    )


def _sql_darr(vec_col: str, lo: int, sub: int, book) -> str:
    """SQL array of dist2(slice(vec, lo, sub), centroid) per codebook
    entry, in ascending cell order."""
    sub_v = f"slice({vec_col}, {lo}, {sub})"
    return "array(" + ", ".join(_sql_dist2(sub_v, c) for _, c in book) + ")"


def _sql_argmin_pos(darr_sql: str) -> str:
    """1-based position of the first minimum of a SQL double array
    (ties take the smallest index: array_sort on (d, i) structs orders
    by d then i -- the oracles' ORDER BY dist ASC, cell)."""
    return (
        f"CAST(array_sort(transform({darr_sql}, "
        f"(x, i) -> struct(x AS d, i AS i)))[0].i + 1 AS INT)"
    )


def _assign_np(V, cents_list):
    """numpy replica of the Lloyd assignment (first-min argmin over
    dist2 = (vv - 2vc) + cc with cumsum dots) -- the same math as
    :func:`lloyd_fit`'s inner loop, exposed for residual computation."""
    import numpy as np

    vv = (V * V).cumsum(axis=1)[:, -1]
    D = np.empty((len(V), len(cents_list)), dtype=np.float64)
    for col, (_, c) in enumerate(cents_list):
        c = np.asarray(c, dtype=np.float64)
        vc = (V * c).cumsum(axis=1)[:, -1]
        cc = (c * c).cumsum()[-1]
        D[:, col] = (vv - 2.0 * vc) + cc
    return np.argmin(D, axis=1)


def pq_fit_codebooks(
    rows: list[tuple[int, list[float]]],
    num_subspaces: int,
    num_centroids: int,
    n_iter: int,
) -> list[list[tuple[int, list[float]]]]:
    """Train one deterministic Lloyd codebook per subspace: split each
    vector into ``num_subspaces`` contiguous slices and run
    :func:`lloyd_fit` on each slice family independently.  Returns
    ``books[m] = [(cell, centroid), ...]`` in ascending cell order --
    every bit-identity guarantee of :func:`lloyd_fit` applies per
    subspace, so a SQL twin that unrolls the same per-subspace Lloyd
    loop reproduces the codebooks exactly."""
    if not rows:
        return [[] for _ in range(num_subspaces)]
    dim = len(rows[0][1])
    if dim % num_subspaces:
        raise ValueError(
            f"pq_fit_codebooks: dim {dim} not divisible by "
            f"num_subspaces {num_subspaces}"
        )
    sub = dim // num_subspaces
    return [
        lloyd_fit(
            [(i, list(v[m * sub : (m + 1) * sub])) for i, v in rows],
            num_centroids,
            n_iter,
        )
        for m in range(num_subspaces)
    ]


def _pq_fit_codebooks_np(V, num_subspaces: int, num_centroids: int, n_iter: int):
    """:func:`pq_fit_codebooks` over an ALREADY id-sorted float64
    matrix (r11): each subspace fit slices the one parsed matrix
    instead of re-building Python row lists and re-sorting per
    subspace.  Bit-identical -- the slices are the same doubles in the
    same row order :func:`lloyd_fit` would produce after its sort."""
    import numpy as np

    if not len(V):
        return [[] for _ in range(num_subspaces)]
    dim = V.shape[1]
    if dim % num_subspaces:
        raise ValueError(
            f"pq_fit_codebooks: dim {dim} not divisible by "
            f"num_subspaces {num_subspaces}"
        )
    sub = dim // num_subspaces
    return [
        _lloyd_fit_np(
            np.ascontiguousarray(V[:, m * sub : (m + 1) * sub]),
            num_centroids,
            n_iter,
        )
        for m in range(num_subspaces)
    ]


def _rerank_shortlist(e, shortlist, query_ids: list[int], k: int):
    """Shared ANN second stage: exact-cosine re-scoring of an ADC
    shortlist.  ``e`` is the (id, v double array) corpus; ``shortlist``
    is (query_id, neighbor_id).  Reads only |shortlist| full vectors
    via broadcast joins; output (query_id, neighbor_id, cosine, rank),
    1e-6 portable rounding, desc-cosine/asc-id tie-break."""
    qv = (
        e.filter(F.col("id").isin(query_ids))
        .limit(len(query_ids))  # explicit bound; ids unique -> value no-op
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    )
    cand = e.join(
        F.broadcast(shortlist), F.col("id") == F.col("neighbor_id")
    ).join(F.broadcast(qv), "query_id")
    rescored = cand.select(
        "query_id",
        "neighbor_id",
        portable_round(cosine_similarity(F.col("qv"), F.col("v")), 6)
        .cast("double")
        .alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_top_k(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_max_rows: int = 1_000_000,
    rerank: int | None = None,
) -> DataFrame:
    """PQ/ADC approximate nearest neighbors (the FAISS-style scale
    path the IVF entry lacks): vectors are ENCODED as one small code
    per subspace (argmin against that subspace's Lloyd codebook), and
    each query ranks the corpus by the ASYMMETRIC distance -- the sum
    over subspaces of dist2(query-slice, centroid-of-code) -- never
    touching the original corpus vectors at search time.  Returns
    (query_id, neighbor_id, adc_dist2, rank), ascending distance,
    self-matches excluded.

    ``rerank=R`` adds the production second stage: the top-R ADC
    shortlist per query is re-scored with EXACT cosine against the
    original vectors and the final top-k is ranked on that -- output
    becomes (query_id, neighbor_id, cosine, rank).  PQ codes alone
    are a lossy 64x compression (measured recall@10 ~0.2-0.3 on the
    64-dim fixture); shortlist-then-rerank recovers ~0.7 while still
    reading only R full vectors per query instead of the corpus.

    100 TB shape: the fit is a bounded driver-side numpy train
    (:func:`lloyd_fit` per subspace; over ``fit_max_rows`` the fit set
    is a deterministic hash-gated subsample of exactly that many rows,
    :func:`_bounded_fit_rows`); ENCODE is map-only
    (codebooks are literal arrays folded in codegen, no shuffle, and
    the persisted form of a 64-dim float vector collapses to
    ``num_subspaces`` small ints -- 64x storage compression at M=4);
    the ADC scan is map-only over codes with a broadcast per-query
    lookup table (|queries| x M x num_centroids doubles), followed by
    a bounded |queries| x k top-k.  No stage reads the full vectors
    except the one-time encode.

    Determinism contract (what makes this value-oracle-checkable,
    unlike typical ANN): Lloyd per-subspace fit is bit-identical to
    the unrolled SQL twin (:func:`duck_pq_adc_sql`); encode argmin
    ties break to the smallest cell id (first minimum); ADC sums the
    per-subspace terms in ascending-subspace order with explicit
    left-association, so both engines execute the identical IEEE
    sequence before the 1e-6 portable rounding."""
    query_ids = _validated_query_ids(query_ids)
    spark = embeddings.sparkSession

    # Spread (r10): same rationale as lloyd_cells -- the per-subspace
    # encode argmins are heavy codegen over every corpus row.
    e = spread_input(
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ),
        "id",
    )
    _, fit_v = _fit_arrays(e, fit_max_rows, "pq-fit", count_df=embeddings)
    if not len(fit_v):
        score_col = "adc_dist2" if rerank is None else "cosine"
        return spark.createDataFrame(
            [],
            f"query_id long, neighbor_id long, {score_col} double, rank bigint",
        )
    dim = fit_v.shape[1]
    sub = dim // num_subspaces
    books = _pq_fit_codebooks_np(fit_v, num_subspaces, num_centroids, n_iter)

    # ENCODE (map-only): per subspace, position of the first-minimum
    # dist2 within the ascending-cell codebook (1-based).
    enc = e
    for m, book in enumerate(books):
        enc = enc.withColumn(
            f"pos_{m}",
            F.expr(_sql_argmin_pos(_sql_darr("v", m * sub + 1, sub, book))),
        )
    codes = enc.select(
        F.col("id").alias("neighbor_id"),
        *[F.col(f"pos_{m}") for m in range(num_subspaces)],
    )

    # Per-query ADC lookup tables (tiny, broadcast; limit = explicit
    # value-no-op bound for the corpus-broadcast guard).
    q = (
        e.filter(F.col("id").isin(query_ids))
        .limit(len(query_ids))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    )
    for m, book in enumerate(books):
        q = q.withColumn(
            f"tab_{m}", F.expr(_sql_darr("qv", m * sub + 1, sub, book))
        )
    q = q.drop("qv")

    joined = codes.join(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = F.element_at(F.col("tab_0"), F.col("pos_0"))
    for m in range(1, num_subspaces):
        adc = adc + F.element_at(F.col(f"tab_{m}"), F.col(f"pos_{m}"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        portable_round(adc, 6).cast("double").alias("adc_dist2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "adc_dist2", "rank"
        )
    # limit = value no-op (the rank filter yields at most
    # |queries|*rerank rows); makes the broadcast side's bound
    # explicit in the plan for the corpus-broadcast guard.
    shortlist = (
        ranked.filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
        .limit(len(query_ids) * rerank)
    )
    return _rerank_shortlist(e, shortlist, query_ids, k)


def duck_pq_adc_sql(
    query_ids: list[int],
    k: int = 10,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    rerank: int | None = None,
) -> str:
    """Generated unrolled DuckDB twin of :func:`pq_top_k` over the
    ``embeddings`` table: per-subspace Lloyd loops (the
    duck_ivf_lloyd_sql generator pattern), final assignment, and the
    ADC ranking with the same left-associated subspace-term sum.  The
    oracle computes each pair's ADC term DIRECTLY as dist2(query
    slice, centroid of the doc's cell) -- the Spark side's per-query
    lookup table is an optimization producing the identical doubles."""
    ids_sql = ", ".join(str(i) for i in query_ids)
    sub = dim // num_subspaces
    dist2, assign, update = _duck_dist2, _duck_assign, _duck_update

    parts = [
        "e AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
    ]
    for m in range(num_subspaces):
        lo, hi = m * sub + 1, (m + 1) * sub
        parts.append(
            f"e{m} AS MATERIALIZED (SELECT id, v[{lo}:{hi}] AS v FROM e)"
        )
        parts.append(
            f"c0_{m} AS MATERIALIZED (SELECT row_number() OVER"
            f" (ORDER BY id) - 1 AS cell, v AS centroid FROM e{m}"
            f" ORDER BY id LIMIT {num_centroids})"
        )
        for i in range(1, n_iter + 1):
            parts.append(assign(f"e{m}", f"c{i - 1}_{m}", f"a{i}_{m}"))
            parts.append(update(f"a{i}_{m}", f"c{i}_{m}"))
        parts.append(assign(f"e{m}", f"c{n_iter}_{m}", f"af_{m}"))
        parts.append(
            f"q{m} AS (SELECT id AS query_id, v AS qv FROM e{m}"
            f" WHERE id IN ({ids_sql}))"
        )
        parts.append(
            f"s{m} AS MATERIALIZED (SELECT q.query_id, a.id,"
            f" {dist2('q.qv', 'c.centroid')} AS d"
            f" FROM q{m} q CROSS JOIN af_{m} a"
            f" JOIN c{n_iter}_{m} c ON c.cell = a.cell)"
        )
    adc = "s0.d"
    for m in range(1, num_subspaces):
        adc = f"({adc} + s{m}.d)"
    joins = " ".join(
        f"JOIN s{m} ON s{m}.query_id = s0.query_id AND s{m}.id = s0.id"
        for m in range(1, num_subspaces)
    )
    parts.append(
        f"s AS (SELECT s0.query_id, s0.id AS neighbor_id,"
        f" floor({adc} * 1000000.0 + 0.5) / 1000000.0 AS adc_dist2"
        f" FROM s0 {joins} WHERE s0.id != s0.query_id)"
    )
    parts.append(
        "r AS (SELECT query_id, neighbor_id, adc_dist2, row_number() OVER ("
        "PARTITION BY query_id ORDER BY adc_dist2 ASC, neighbor_id) AS rank"
        " FROM s)"
    )
    if rerank is None:
        return (
            "WITH "
            + ",\n".join(parts)
            + f"\nSELECT query_id, neighbor_id, adc_dist2, rank FROM r"
            f" WHERE rank <= {k} ORDER BY query_id, rank"
        )
    cos = (
        "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v))"
        " * sqrt(list_dot_product(c.v, c.v)))"
    )
    parts += [
        f"short AS (SELECT query_id, neighbor_id FROM r"
        f" WHERE rank <= {rerank})",
        f"rr AS (SELECT short.query_id, short.neighbor_id,"
        f" floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS cosine"
        f" FROM short JOIN e c ON c.id = short.neighbor_id"
        f" JOIN e q ON q.id = short.query_id)",
        "r2 AS (SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank"
        " FROM rr)",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT query_id, neighbor_id, cosine, rank FROM r2"
        f" WHERE rank <= {k} ORDER BY query_id, rank"
    )


# --------------------------------------------------------------------------
# IVFPQ: coarse quantizer + PQ on RESIDUALS + cell-probed ADC + rerank
# --------------------------------------------------------------------------

def ivfpq_top_k(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_cells: int = 8,
    nprobe: int = 3,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    n_iter: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_max_rows: int = 1_000_000,
) -> DataFrame:
    """The full FAISS-style IVFPQ index, value-checkable end to end:

    1. COARSE: deterministic Lloyd quantizer over full vectors
       (:func:`lloyd_fit`); every corpus vector is assigned map-only.
    2. RESIDUAL ENCODE: r = v - coarse_centroid(cell), then one PQ
       codebook per subspace trained ON THE RESIDUALS
       (:func:`pq_fit_codebooks`) -- residuals are far more compact
       than raw vectors, which is why real IVFPQ encodes them.
    3. SEARCH: each query probes the ``nprobe`` cells of smallest
       dist2(q, coarse centroid); within probed cells candidates are
       ranked by the ADC sum over the QUERY'S OWN residual against
       that cell (q - centroid(cell), one lookup table per
       (query, cell, subspace)); the top-``rerank`` shortlist is
       re-scored with exact cosine.  Returns (query_id, neighbor_id,
       cosine, rank).

    100 TB shape: fit = bounded driver-side numpy (over
    ``fit_max_rows`` the fit set is a deterministic hash-gated
    subsample, :func:`_bounded_fit_rows`); coarse assignment +
    residual + PQ encode are ONE
    map-only pass (broadcast centroid struct + literal codebooks in
    codegen); the ADC scan touches only probed cells (the coarse cell
    is the natural partition key, so each probe reads a bounded
    partition set) with a broadcast (query, cell) table; rerank reads
    ``rerank`` full vectors per query.  Storage per vector: one small
    cell id + ``num_subspaces`` codes.

    Determinism: every stage inherits the Lloyd/PQ bit-identity
    conventions; probes order by dist2 ASC with cell tie-break; the
    numpy residuals used for fitting are the identical doubles the
    plan's zip_with subtraction produces."""
    import numpy as np

    query_ids = _validated_query_ids(query_ids)
    spark = embeddings.sparkSession

    # Spread (r10): the single map-only encode pass below (coarse
    # assign + residual + per-subspace argmins) is the heavy stage.
    e = spread_input(
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ),
        "id",
    )
    _, V = _fit_arrays(e, fit_max_rows, "ivfpq-fit", count_df=embeddings)
    if not len(V):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank bigint"
        )
    dim = V.shape[1]
    sub = dim // num_subspaces

    # r11: coarse fit, residuals and every per-subspace PQ fit all run
    # off the ONE id-sorted matrix the Arrow collect produced -- no
    # per-stage Python row lists (guide §4).
    coarse = _lloyd_fit_np(V, num_cells, n_iter)
    a = _assign_np(V, coarse)
    C = np.array([c for _, c in coarse], dtype=np.float64)
    R = V - C[a]
    books = _pq_fit_codebooks_np(R, num_subspaces, num_centroids, n_iter)

    cents_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in coarse],
        "cell int, centroid array<double>",
    )
    cents_arr = cents_df.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
        ).alias("__cs")
    )

    def pick_cell(vcol):
        scored = F.transform(
            F.col("__cs"),
            lambda c: F.struct(
                _dist2_cols(vcol, c["centroid"]).alias("d"),
                c["cell"].alias("cell"),
                c["centroid"].alias("centroid"),
            ),
        )
        return F.element_at(F.array_sort(scored), 1)

    # One map-only pass: coarse assign + residual + per-subspace codes.
    enc = (
        e.crossJoin(F.broadcast(cents_arr))
        .withColumn("__pick", pick_cell(F.col("v")))
        .withColumn("cell", F.col("__pick")["cell"])
        .withColumn(
            "r",
            F.zip_with(
                F.col("v"), F.col("__pick")["centroid"], lambda x, y: x - y
            ),
        )
    )
    for m, book in enumerate(books):
        enc = enc.withColumn(
            f"pos_{m}",
            F.expr(_sql_argmin_pos(_sql_darr("r", m * sub + 1, sub, book))),
        )
    codes = enc.select(
        F.col("id").alias("neighbor_id"),
        "cell",
        *[F.col(f"pos_{m}") for m in range(num_subspaces)],
    )

    # Probes: nprobe nearest coarse cells per query, each carrying the
    # query's residual against THAT cell and its ADC lookup tables.
    # (limit = explicit value-no-op bound for the corpus-broadcast guard)
    q = (
        e.filter(F.col("id").isin(query_ids))
        .limit(len(query_ids))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
    )
    probes = (
        q.crossJoin(F.broadcast(cents_df))
        .withColumn("d2", _dist2_cols(F.col("qv"), F.col("centroid")))
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "cell")
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .withColumn(
            "qr",
            F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: x - y),
        )
    )
    for m, book in enumerate(books):
        probes = probes.withColumn(
            f"tab_{m}", F.expr(_sql_darr("qr", m * sub + 1, sub, book))
        )
    ptabs = probes.select(
        "query_id", "cell", *[f"tab_{m}" for m in range(num_subspaces)]
    )

    joined = codes.join(F.broadcast(ptabs), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = F.element_at(F.col("tab_0"), F.col("pos_0"))
    for m in range(1, num_subspaces):
        adc = adc + F.element_at(F.col(f"tab_{m}"), F.col(f"pos_{m}"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        portable_round(adc, 6).cast("double").alias("adc_dist2"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
        .limit(len(query_ids) * rerank)  # value no-op explicit bound
    )
    return _rerank_shortlist(e, shortlist, query_ids, k)


def duck_ivfpq_sql(
    query_ids: list[int],
    k: int = 10,
    num_cells: int = 8,
    nprobe: int = 3,
    num_subspaces: int = 4,
    num_centroids: int = 8,
    n_iter: int = 2,
    rerank: int = 50,
    dim: int = 64,
) -> str:
    """Generated unrolled DuckDB twin of :func:`ivfpq_top_k`: coarse
    Lloyd loop on full vectors, residuals via elementwise subtraction,
    one PQ Lloyd loop per residual subspace, dist2-ordered probes,
    per-(query, cell) residual ADC terms joined per subspace with the
    left-associated sum, shortlist, exact-cosine rerank."""
    ids_sql = ", ".join(str(i) for i in query_ids)
    sub = dim // num_subspaces
    dist2, assign, update = _duck_dist2, _duck_assign, _duck_update

    def lloyd_loop(src_e: str, prefix: str) -> list[str]:
        out = [
            f"{prefix}c0 AS MATERIALIZED (SELECT row_number() OVER"
            f" (ORDER BY id) - 1 AS cell, v AS centroid FROM {src_e}"
            f" ORDER BY id LIMIT "
            + str(num_cells if prefix == "" else num_centroids)
            + ")"
        ]
        for i in range(1, n_iter + 1):
            out.append(assign(src_e, f"{prefix}c{i - 1}", f"{prefix}a{i}"))
            out.append(update(f"{prefix}a{i}", f"{prefix}c{i}"))
        out.append(assign(src_e, f"{prefix}c{n_iter}", f"{prefix}af"))
        return out

    parts = [
        "e AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
    ]
    parts += lloyd_loop("e", "")
    parts.append(
        f"res AS MATERIALIZED (SELECT a.id, a.cell,"
        f" list_transform(generate_series(1, {dim}),"
        f" i -> a.v[i] - c.centroid[i]) AS r"
        f" FROM af a JOIN c{n_iter} c ON c.cell = a.cell)"
    )
    for m in range(num_subspaces):
        lo, hi = m * sub + 1, (m + 1) * sub
        parts.append(
            f"rs{m} AS MATERIALIZED (SELECT id, r[{lo}:{hi}] AS v FROM res)"
        )
        parts += lloyd_loop(f"rs{m}", f"p{m}_")
    parts += [
        f"q AS (SELECT id AS query_id, v AS qv FROM e"
        f" WHERE id IN ({ids_sql}))",
        f"probe AS (SELECT query_id, qv, cell, centroid FROM ("
        f"SELECT q.query_id, q.qv, c.cell, c.centroid, row_number() OVER ("
        f"PARTITION BY q.query_id ORDER BY {dist2('q.qv', 'c.centroid')} ASC,"
        f" c.cell) AS cr FROM q CROSS JOIN c{n_iter} c) WHERE cr <= {nprobe})",
        f"qres AS (SELECT query_id, cell,"
        f" list_transform(generate_series(1, {dim}),"
        f" i -> qv[i] - centroid[i]) AS qr FROM probe)",
    ]
    for m in range(num_subspaces):
        lo, hi = m * sub + 1, (m + 1) * sub
        parts.append(
            f"s{m} AS MATERIALIZED (SELECT g.query_id, ra.id,"
            f" {dist2(f'g.qr[{lo}:{hi}]', 'c.centroid')} AS d"
            f" FROM qres g JOIN res ra ON ra.cell = g.cell"
            f" JOIN p{m}_af a ON a.id = ra.id"
            f" JOIN p{m}_c{n_iter} c ON c.cell = a.cell)"
        )
    adc = "s0.d"
    for m in range(1, num_subspaces):
        adc = f"({adc} + s{m}.d)"
    joins = " ".join(
        f"JOIN s{m} ON s{m}.query_id = s0.query_id AND s{m}.id = s0.id"
        for m in range(1, num_subspaces)
    )
    cos = (
        "list_dot_product(qq.v, cc.v) / (sqrt(list_dot_product(qq.v, qq.v))"
        " * sqrt(list_dot_product(cc.v, cc.v)))"
    )
    parts += [
        f"s AS (SELECT s0.query_id, s0.id AS neighbor_id,"
        f" floor({adc} * 1000000.0 + 0.5) / 1000000.0 AS adc_dist2"
        f" FROM s0 {joins} WHERE s0.id != s0.query_id)",
        "r1 AS (SELECT query_id, neighbor_id, adc_dist2, row_number() OVER ("
        "PARTITION BY query_id ORDER BY adc_dist2 ASC, neighbor_id) AS rank"
        " FROM s)",
        f"short AS (SELECT query_id, neighbor_id FROM r1"
        f" WHERE rank <= {rerank})",
        f"rr AS (SELECT short.query_id, short.neighbor_id,"
        f" floor(({cos}) * 1000000.0 + 0.5) / 1000000.0 AS cosine"
        f" FROM short JOIN e cc ON cc.id = short.neighbor_id"
        f" JOIN e qq ON qq.id = short.query_id)",
        "r2 AS (SELECT query_id, neighbor_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank"
        " FROM rr)",
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT query_id, neighbor_id, cosine, rank FROM r2"
        f" WHERE rank <= {k} ORDER BY query_id, rank"
    )
