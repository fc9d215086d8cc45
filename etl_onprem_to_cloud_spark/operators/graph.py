"""Fixed-point (integer-arithmetic) PageRank over an edge DataFrame.

PageRank in floating point is NOT reproducible across engines or even
across reruns at scale: the per-node sum of neighbor contributions is
order-dependent in IEEE double, and partial-aggregation order changes
with partitioning.  This implementation therefore runs the entire
iteration in scaled BIGINT arithmetic:

    R0       = SCALE div N
    BASE     = (R0 * (100 - d)) div 100
    R'(v)    = BASE + (d * sum_{u->v}(R(u) div outdeg(u))) div 100

with ``d`` the damping percentage (85 = the classic 0.85).  Every
operation is exact integer math, so Spark and any ANSI engine produce
bit-identical ranks -- which is how the DuckDB oracle can value-check an
iterative graph algorithm (same trick as the md5-derived sketches).

Scale shape per iteration: one join of ranks to edges on src (both
sides hash-partitioned on the same key, so consecutive iterations reuse
the exchange), one groupBy dst with map-side partial sums, one left
join back to the node set for dangling-in-degree nodes.  Lineage is cut
every 4 supersteps by ``operators/fixpoint.iterate`` (the
GraphFrames/Pregel pattern).  Iteration count is fixed -- at 100 TB you
run a budgeted number of supersteps, not to convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .fixpoint import iterate
from .layout import spread_input

SCALE = 10**9


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 8,
    damping_pct: int = 85,
) -> DataFrame:
    """Ranks for the directed graph in ``edges`` (columns src, dst).

    Edges must be pre-deduplicated; every node is expected to appear as
    a source at least once (an undirected co-occurrence graph satisfies
    this by construction).  Returns ``(node, rank)`` with rank in
    SCALE-scaled fixed point.
    """
    # Checkpoint the static relations ONCE (same as connected_components
    # does for its edge list): every superstep -- and every eager
    # checkpoint of the rank chain -- would otherwise re-derive the
    # edge construction subtree (explode + distinct over the raw input)
    # from scratch.
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # bounded driver scalar: one integer
    r0 = SCALE // n_nodes
    base = (r0 * (100 - damping_pct)) // 100

    ranks = nodes.withColumn("rank", F.lit(r0).cast("bigint"))
    contrib_edges = e.join(deg, "src").localCheckpoint(eager=True)

    def step(ranks: DataFrame, _: int) -> DataFrame:
        inbound = (
            ranks.join(contrib_edges, ranks.node == contrib_edges.src)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(inbound, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("bigint").alias("rank"),
        )

    ranks, _ = iterate(ranks, step, iterations, every=4)
    return ranks


def duck_pagerank_sql(
    edges_cte: str,
    iterations: int = 8,
    damping_pct: int = 85,
) -> str:
    """Unrolled DuckDB twin of :func:`pagerank_fixed_point`.

    ``edges_cte`` is a SQL fragment producing (src, dst).  Unrolling a
    fixed iteration count sidesteps engine-specific recursive-CTE
    aggregate restrictions; the text is generated, not hand-kept, so it
    cannot drift from the Spark loop.  Final ranks are CAST to BIGINT
    (DuckDB sums integers into HUGEINT -- the q12 lesson).
    """
    parts = [
        f"e AS ({edges_cte})",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        f"c0 AS (SELECT {SCALE} // count(*) AS r0,"
        f" (({SCALE} // count(*)) * {100 - damping_pct}) // 100 AS base"
        " FROM nodes)",
        "r0 AS (SELECT node, (SELECT r0 FROM c0) AS rank FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, CAST((SELECT base FROM c0)"
            f" + ({damping_pct} * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank"
            " FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank // deg.outdeg) AS c"
            f" FROM r{i} r JOIN e ON r.node = e.src"
            " JOIN deg ON deg.src = e.src GROUP BY e.dst) s"
            " ON n.node = s.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iterations}"
    )


def copurchase_edges(lineitem, min_support: int = 2, weight: bool = False):
    """Support-thresholded part co-purchase edge list (x < y), the
    shared substrate of the support-2 graph queries (LPA, Adamic-Adar,
    Bellman-Ford, Hill alpha).  k-core and the BFS rings run on the
    UNTHRESHOLDED distinct-pair variant and keep their own builds.

    Checkpointed EAGERLY before returning: the edge list is always
    consumed through several different projections (und directions,
    degree rollups, anti-join legs), which defeats exchange reuse and
    re-executed the lineitem self-join once PER CONSUMER before the
    cut -- the round-4 rehearsal measured 24 GB of spill from exactly
    that in the first Adamic-Adar cut.  With ``weight=True`` the edge
    carries ``w = 1000000 DIV support`` (integer, strong ties cheap --
    the Bellman-Ford cost) instead of being support-filtered only.
    """
    from pyspark.sql import functions as F

    li = spread_input(
        lineitem.select("l_orderkey", "l_partkey"), "l_orderkey"
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    base = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("x"), F.col("pb").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= min_support)
    )
    if weight:
        base = base.select(
            "x", "y", F.expr("CAST(1000000 DIV cnt AS BIGINT)").alias("w")
        )
    return base.localCheckpoint(eager=True)
