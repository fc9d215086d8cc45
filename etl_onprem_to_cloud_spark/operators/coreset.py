"""k-center greedy coreset selection (farthest-point traversal).

Diversity sampling for training data: pick k points such that every
point is close to some pick -- the greedy farthest-point algorithm is
the classic 2-approximation to the k-center objective (Gonzalez 1985)
and the standard "coreset / diverse subset" selector over embedding
columns.

Determinism contract: the seed is the minimum-id vector, every step's
candidate distance is the squared L2 expressed through the SAME
sequential-fold dot products as the rest of the vector stack
(``functions/vectors.dot_product`` <-> DuckDB ``list_dot_product`` over
``CAST(... AS DOUBLE[])``), and argmax ties break on vector id -- so an
unrolled SQL twin reproduces the selection bit-for-bit.

Scale shape: each of the k steps is ONE full scan computing
``least(d_prev, dist2(v, new_center))`` plus a TakeOrdered(1) -- the
selected center (a single row) is the only thing that ever reaches the
driver, the same bounded-collect pattern as the Bloom-filter build.
Lineage is cut every few steps.  k is small by construction (a coreset
is a handful of exemplars per stratum); for k in the thousands you
switch to the sampled variant (pick from a hash-gate subsample per
step), which keeps the same per-step plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.vectors import dot_product


def _dist2_to_literal(vec_col, center: list[float]):
    """Squared L2 via three dot products: dot(v,v) - 2*dot(v,c) +
    dot(c,c) -- the exact expression the SQL twin uses."""
    c = F.array(*[F.lit(float(x)).cast("double") for x in center])
    return (
        dot_product(vec_col, vec_col)
        - F.lit(2.0) * dot_product(vec_col, c)
        + dot_product(c, c)
    )


def k_center_greedy(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rate: float | None = None,
    sample_salt: str = "kcenter",
) -> DataFrame:
    """Returns a (<= k)-row DataFrame ``(step, id, dist)``: the
    selection order, the chosen vector id, and its distance-squared to
    the already-selected set at selection time (0.0 for the seed).

    Already-picked ids are EXCLUDED from later steps, so exact-
    duplicate vectors (distance 0 to a center) are still selected at
    most once each, and when k exceeds the number of rows the
    traversal stops early with fewer than k rows instead of silently
    re-picking the seed (ADVICE r3).  Raises on empty input.

    ``sample_rate`` enables the sampled variant the class docstring
    promises for k in the thousands: each step's ARGMAX considers only
    a deterministic per-step hash-gate subsample (md5-content gate,
    ``operators/sampling.hash_gate`` with salt ``{salt}|{step}``), so
    the TakeOrdered scans rate*n candidates instead of n while the
    distance array stays exact over all points.  If a step's subsample
    is empty the step falls back to the full candidate set -- expressed
    as ``ORDER BY in_sample DESC, d DESC, id``, one TakeOrdered either
    way, which is how the SQL twin mirrors it.  ``sample_rate=1.0``
    reproduces the exact variant bit-for-bit (differential-tested)."""
    spark: SparkSession = emb.sparkSession
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seed_rows = base.orderBy("id").limit(1).select("id", "v").collect()
    if not seed_rows:
        raise ValueError("k_center_greedy: empty input DataFrame")
    seed = seed_rows[0]
    picked = [(0, int(seed["id"]), 0.0)]
    center = list(seed["v"])

    d = base.filter(F.col("id") != int(seed["id"])).select(
        "id", "v", _dist2_to_literal(F.col("v"), center).alias("d")
    )
    for step in range(1, k):
        if sample_rate is None:
            order = [F.desc("d"), F.asc("id")]
            cand = d
        else:
            from .sampling import _MOD, hash_gate

            in_sample = (
                hash_gate(
                    F.col("id").cast("string"), f"{sample_salt}|{step}"
                )
                < int(sample_rate * _MOD)
            ).cast("int")
            cand = d.withColumn("in_sample", in_sample)
            order = [F.desc("in_sample"), F.desc("d"), F.asc("id")]
        top_rows = cand.orderBy(*order).limit(1).select("id", "v", "d").collect()
        if not top_rows:
            break  # k exceeds the number of distinct rows
        top = top_rows[0]
        picked.append((step, int(top["id"]), float(top["d"])))
        center = list(top["v"])
        d = d.filter(F.col("id") != int(top["id"])).select(
            "id",
            "v",
            F.least(F.col("d"), _dist2_to_literal(F.col("v"), center)).alias("d"),
        )
        if step % 4 == 0 and step + 1 < k:
            d = d.localCheckpoint(eager=True)
    return spark.createDataFrame(picked, "step int, id bigint, dist double")


def duck_k_center_sql(
    k: int = 8,
    round_to: int = 6,
    sample_rate: float | None = None,
    sample_salt: str = "kcenter",
) -> str:
    """Unrolled DuckDB twin of :func:`k_center_greedy` over the
    ``embeddings`` table (vec_id, embedding).  Generated, like the
    PageRank oracle, so the two loop bodies cannot drift.  Mirrors the
    Spark loop exactly: picked ids are excluded from later stages, and
    with ``sample_rate`` each stage's argmax orders by the same
    per-step md5 hash-gate flag first (empty-subsample fallback
    included, since unsampled rows sort after sampled ones)."""
    p = float(10**round_to)

    def dist2(v: str, c: str) -> str:
        return (
            f"(list_dot_product({v}, {v}) - 2.0 * list_dot_product({v}, {c})"
            f" + list_dot_product({c}, {c}))"
        )

    def order_by(step: int) -> str:
        if sample_rate is None:
            return "ORDER BY d DESC, id"
        from .sampling import _MOD, duck_hash_gate

        gate = duck_hash_gate("CAST(id AS VARCHAR)", f"{sample_salt}|{step}")
        thresh = int(sample_rate * _MOD)
        return (
            f"ORDER BY (CASE WHEN {gate} < {thresh} THEN 1 ELSE 0 END) DESC,"
            " d DESC, id"
        )

    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs, and each
    # d_i references d_{i-1} twice (directly + through c_i), so the
    # inlined plan -- and its parquet scans -- grow 2^k-fold (k=8 blew
    # the process fd limit).  Materialization makes each stage compute
    # once, mirroring the Spark loop's checkpoint structure.
    parts = [
        "e AS MATERIALIZED (SELECT vec_id AS id,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT id, v FROM e ORDER BY id LIMIT 1)",
        f"d0 AS MATERIALIZED (SELECT e.id, e.v,"
        f" {dist2('e.v', '(SELECT v FROM c0)')} AS d FROM e"
        f" WHERE e.id != (SELECT id FROM c0))",
        "s0 AS (SELECT 0 AS step, id, 0.0 AS dist FROM c0)",
    ]
    for i in range(1, k):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT id, v, d FROM d{i - 1} "
            + order_by(i)
            + " LIMIT 1)"
        )
        parts.append(
            f"s{i} AS (SELECT {i} AS step, id, d AS dist FROM c{i})"
        )
        if i + 1 < k:
            parts.append(
                f"d{i} AS MATERIALIZED (SELECT t.id, t.v,"
                f" least(t.d, {dist2('t.v', f'(SELECT v FROM c{i})')}) AS d"
                f" FROM d{i - 1} t"
                f" WHERE t.id != (SELECT id FROM c{i}))"
            )
    union = "\nUNION ALL\n".join(f"SELECT * FROM s{i}" for i in range(k))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT step, id, floor(dist * {p} + 0.5) / {p} AS dist FROM ("
        + union
        + ")\nORDER BY step"
    )
