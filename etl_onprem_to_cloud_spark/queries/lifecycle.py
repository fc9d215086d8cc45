"""Table-lifecycle queries: SCD2 history, snapshot diff, CDC apply
(operators/lifecycle.py), each with a DuckDB oracle.

The reference pipeline is overwrite-only (reference etl/transform.py:205,
etl/load.py:80-84); these queries declare the incremental-table surface
a warehouse-grade engine needs on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.fixpoint import iterate
from ..operators.lifecycle import cdc_apply, scd2_build, table_diff
from ._util import cat, fmt_ts
from . import query


@query(
    "q_scd2_order_status_history",
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(1) OVER w IS NULL AS first_row,
         lag(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
),
compressed AS (
  SELECT * FROM ordered
  WHERE first_row OR prev_status IS DISTINCT FROM o_orderstatus
)
SELECT o_custkey, o_orderstatus,
  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
  strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
  CAST(lead(o_orderdate) OVER w2 IS NULL AS INT) AS is_current
FROM compressed
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
    tags=("scd2", "lifecycle", "window"),
    description="SCD Type-2 build (operators/lifecycle.scd2_build): compress "
    "each customer's order-status observations into change intervals with "
    "valid_from/valid_to/is_current. One keyed window shuffle, no joins.",
)
def q_scd2_order_status_history(spark, sf_dir):
    orders = cat(spark, sf_dir).orders
    hist = scd2_build(
        orders,
        keys=["o_custkey"],
        version_col="o_orderdate",
        attrs=["o_orderstatus"],
        tiebreakers=["o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "o_orderstatus",
        fmt_ts("valid_from", "valid_from"),
        fmt_ts("valid_to", "valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


@query(
    "q_table_diff_orders",
    oracle="""
WITH old_snap AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0
),
new_snap AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
         ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
)
SELECT * FROM (
  SELECT
    COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
    CASE
      WHEN n.o_orderkey IS NULL THEN 'delete'
      WHEN o.o_orderkey IS NULL THEN 'insert'
      WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
       AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        THEN 'unchanged'
      ELSE 'update'
    END AS change_type,
    o.o_orderstatus AS o_orderstatus_old,
    n.o_orderstatus AS o_orderstatus_new,
    o.o_totalprice AS o_totalprice_old,
    n.o_totalprice AS o_totalprice_new
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
) WHERE change_type <> 'unchanged'
""",
    tags=("diff", "lifecycle", "join"),
    description="Snapshot diff (operators/lifecycle.table_diff): classify "
    "keys as insert/delete/update between two deterministic order "
    "snapshots. One full-outer join; change test in the join projection.",
)
def q_table_diff_orders(spark, sf_dir):
    orders = cat(spark, sf_dir).orders
    old = orders.filter(F.col("o_orderkey") % 5 != 0)
    new = orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + F.lit(1000.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(
        old, new, keys=["o_orderkey"], compare=["o_orderstatus", "o_totalprice"]
    )


@query(
    "q_cdc_apply_user_state",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type, value, 'U' AS op, 0 AS origin
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT user_id, event_id, ts, event_type, value,
    CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END, 1
  FROM events WHERE event_id % 2 = 1
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, origin DESC, event_id DESC) AS rn
  FROM tagged
)
SELECT user_id, event_id,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts,
  event_type, value
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
    tags=("cdc", "lifecycle", "merge"),
    description="CDC apply (operators/lifecycle.cdc_apply): even events as "
    "the base snapshot, odd events as an I/U/D changelog (every 7th is a "
    "delete); latest op per user wins, deleted users disappear. Single "
    "union + keyed window shuffle.",
)
def q_cdc_apply_user_state(spark, sf_dir):
    ev = cat(spark, sf_dir).events.select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    base = ev.filter(F.col("event_id") % 2 == 0)
    changes = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "op",
        F.when(F.col("event_id") % 7 == 0, F.lit("D")).otherwise(F.lit("U")),
    )
    applied = cdc_apply(
        base,
        changes,
        keys=["user_id"],
        op_col="op",
        version_col="ts",
        tiebreakers=["event_id"],
    )
    return applied.select(
        "user_id", "event_id", fmt_ts("ts", "latest_ts"), "event_type", "value"
    )


@query(
    "q_scd2_point_in_time_join",
    oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         lag(1) OVER w IS NULL AS first_row,
         lag(o_orderstatus) OVER w AS prev_status
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
),
compressed AS (
  SELECT * FROM ordered
  WHERE first_row OR prev_status IS DISTINCT FROM o_orderstatus
),
hist AS (
  SELECT o_custkey, o_orderstatus AS status,
    o_orderdate AS valid_from,
    lead(o_orderdate) OVER w2 AS valid_to
  FROM compressed
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
),
probe AS (
  SELECT o.o_custkey, l.l_shipdate AS at_ts, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ptj AS (
  SELECT h.status, p.l_extendedprice
  FROM probe p JOIN hist h
    ON h.o_custkey = p.o_custkey
   AND p.at_ts >= h.valid_from
   AND (h.valid_to IS NULL OR p.at_ts < h.valid_to)
)
SELECT status AS status_at_ship,
  CAST(count(*) AS BIGINT) AS n_lineitems,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
    AS revenue
FROM ptj GROUP BY status ORDER BY status
""",
    tags=("scd2", "lifecycle", "temporal-join", "range-join"),
    description=(
        "Point-in-time (effective-dated) join against the SCD2 "
        "dimension: each lineitem is matched to the status interval of "
        "its customer that was CURRENT at l_shipdate "
        "(valid_from <= ship < valid_to, open-ended current rows), "
        "then revenue rolls up by status-at-ship-time -- the classic "
        "as-of-dimension lookup every warehouse needs and the reason "
        "SCD2 history exists.  Zero-length intervals (two changes on "
        "one date) are skipped identically in both engines."
    ),
)
def q_scd2_point_in_time_join(spark, sf_dir):
    """The temporal lookup is an EQUI-join on the customer key (one
    shuffle co-partitions probe and history) with the interval
    predicate applied inside the join -- never a cross product; at
    100 TB the history side is change-compressed (SCD2's whole point)
    and orders of magnitude smaller than the probe."""
    c = cat(spark, sf_dir)
    orders, lineitem = c.orders, c.lineitem
    hist = scd2_build(
        orders,
        keys=["o_custkey"],
        version_col="o_orderdate",
        attrs=["o_orderstatus"],
        tiebreakers=["o_orderkey"],
    ).select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        "valid_to",
    )
    probe = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    ).select("o_custkey", F.col("l_shipdate").alias("at_ts"), "l_extendedprice")
    ptj = probe.join(
        hist,
        (probe["o_custkey"] == hist["o_custkey"])
        & (F.col("at_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("at_ts") < F.col("valid_to"))),
    )
    from ..functions.numeric import dec

    return (
        ptj.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.round(F.sum(dec("l_extendedprice")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .select(F.col("status").alias("status_at_ship"), "n_lineitems", "revenue")
        .orderBy("status_at_ship")
    )


_HIER_ROUNDS = 6  # part keys < 10^7 at any fixture SF -> depth <= 6


@query(
    "q_hierarchy_revenue_rollup",
    oracle="""
WITH RECURSIVE parts_n AS (
  SELECT DISTINCT l_partkey AS p FROM lineitem
),
anc AS (
  SELECT p AS node, p AS ancestor FROM parts_n
  UNION
  SELECT node, ancestor // 10 FROM anc WHERE ancestor >= 10
),
rev AS (
  SELECT l_partkey AS p,
    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
  FROM lineitem GROUP BY l_partkey
)
SELECT a.ancestor AS node,
  CAST(count(*) AS BIGINT) AS n_parts,
  CAST(round(sum(rev.r), 2) AS DOUBLE) AS subtree_revenue
FROM anc a JOIN rev ON rev.p = a.node
GROUP BY a.ancestor
HAVING count(*) >= 2
ORDER BY node
""",
    tags=("hierarchy", "recursive", "rollup", "iterative"),
    description=(
        "Hierarchical (BOM/org-style) subtree rollup: parts form a "
        "derived tree (parent = key div 10, keys < 10 are roots) and "
        "every node aggregates the revenue of its whole subtree.  "
        "Spark, which lacks recursive CTEs, runs the ancestor closure "
        "as an UNROLLED iterative expansion (6 rounds covers depth at "
        "any fixture SF; extra rounds are no-ops at a fixpoint); the "
        "DuckDB oracle is a genuine WITH RECURSIVE -- two formally "
        "different formulations proving the same fixpoint.  Exact "
        "DECIMAL revenue makes the subtree sums order-independent."
    ),
)
def q_hierarchy_revenue_rollup(spark, sf_dir):
    """Closure rounds are join-free ARITHMETIC on the ancestor column
    (parent = div 10), so each round is a map + union + distinct --
    one shuffle per round on the (node, ancestor) pair, size bounded
    by parts x depth, cut every other round by
    :func:`operators.fixpoint.iterate`.  The revenue join and final
    rollup shuffle on the part/ancestor keys.  For an arbitrary edge
    table the same loop shape swaps the arithmetic for an equi-join per
    round (the k-core / CC pattern)."""
    li = cat(spark, sf_dir).lineitem
    from ..functions.numeric import dec

    parts = li.select(F.col("l_partkey").alias("p")).distinct()
    anc = parts.select(F.col("p").alias("node"), F.col("p").alias("ancestor"))

    def step(closure: DataFrame, _: int) -> DataFrame:
        nxt = (
            closure.filter(F.col("ancestor") >= 10)
            .select("node", F.expr("ancestor div 10").alias("ancestor"))
        )
        return closure.unionByName(nxt).distinct()

    closure, _ = iterate(anc, step, _HIER_ROUNDS, every=2)
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(dec("l_extendedprice")).alias("r")
    )
    return (
        closure.join(rev, closure["node"] == rev["p"])
        .groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("r"), 2).cast("double").alias("subtree_revenue"),
        )
        .filter(F.col("n_parts") >= 2)
        .select(F.col("ancestor").alias("node"), "n_parts", "subtree_revenue")
        .orderBy("node")
    )
