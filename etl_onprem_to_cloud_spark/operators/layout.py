"""Data-layout operators: Z-order (Morton) clustering for scan pruning.

At 100 TB the dominant cost is the scan, and the scan is only as good
as the file-level min/max statistics parquet gives the reader.  Sorting
by ONE column clusters that column but scatters every other; a Z-order
(Morton) interleave of two columns' bits gives files that are tight in
BOTH dimensions, so predicates on either column prune files.

``morton_code`` is pure integer arithmetic (mask + shift per bit,
unrolled), fully inside whole-stage codegen and bit-identical in any
engine -- the DuckDB oracle recomputes it with the same formula
(queries/scale.py builds both expression trees from one generator).

``zorder_write`` is the actual layout pass: ``repartitionByRange`` on
the code (one range-exchange; sampled bounds, so no driver sort) then
``sortWithinPartitions`` so every output file covers a contiguous
Z-range.  The reference has no layout surface at all (it writes one
unpartitioned overwrite, etl/transform.py:205); this is Ring C scale
work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def spread_input(df: DataFrame, key_col: str) -> DataFrame:
    """Spread an under-partitioned input across the cluster parallelism
    before a CPU-heavy map/explode stage (r10 optimization, guide §2.5
    "input skew": one compact file -> one scan task that no core count
    can split, because parquet scans are row-group-atomic).  The
    canonical form of the auto-detect idiom also inlined in
    ``llm/dedup._exploded_shingles``: well-partitioned inputs -- the
    100 TB case -- skip the shuffle entirely, so nothing here is tuned
    to local mode.  Hashing on a stable key keeps the spread
    deterministic under retries; hashing on a self-join's key also
    lets both join sides share the one (reused) exchange.

    Cost note (r11 ADVICE): ``df.rdd.getNumPartitions()`` forces a
    full non-AQE physical planning of the input subtree at query-BUILD
    time (no job runs).  Acceptable for the scan-adjacent projections
    every current call site passes; if this is ever applied
    mid-pipeline to a deep subtree, derive the partition count from
    the leaf scan instead of planning the whole tree."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(key_col))
    return df


def ckpt_partitioned(
    df: DataFrame,
    key_col: str,
    num_partitions: int | None = None,
    storage_level=None,
) -> DataFrame:
    """Eager localCheckpoint hash-partitioned by ``key_col`` with the
    partitioning VISIBLE to downstream planning (r11 optimization,
    guide §2.4 "two operations keyed the same way can share one
    exchange").

    The iterative graph loops (CC min-label, LPA, BFS, Bellman-Ford)
    join a STATIC checkpointed relation on the SAME key every round,
    yet re-shuffled it every round: ``Dataset.localCheckpoint``
    captures ``physicalPlan.outputPartitioning``, and under AQE the
    physical plan is an ``AdaptiveSparkPlanExec`` whose partitioning
    reports ``UnknownPartitioning`` -- so the checkpoint forgets its
    layout and EnsureRequirements re-inserts an edge-wide Exchange in
    every consumer (``tests/test_plans.py::
    test_ckpt_partitioned_skips_exchange_on_checkpointed_side`` pins
    this: the plain checkpoint side is re-shuffled, this helper's is
    not).  Planning this one repartition-then-checkpoint with AQE
    momentarily OFF makes the stored ``hashpartitioning(key, n)``
    stick, so per-round joins shuffle only the side that changed.
    The AQE loss is confined to the trivial plan built here (a scan +
    one exchange -- nothing for AQE to do); callers checkpoint any
    expensive build subtree FIRST, with AQE on, as before.

    Scale shape: the partition count defaults to the relation's OWN
    current partition count -- i.e. whatever AQE already sized the
    upstream materialization to -- so the stored layout is
    scale-adaptive by construction (a handful of partitions at bench
    density, cluster-wide at 100 TB; a fixed defaultParallelism here
    measured ~0.4 s SLOWER per iterative query at sf0.1 from 32-task
    round stages over KB-sized data).  Each round's node-sized side
    shuffles TO the stored layout, which is exactly the Pregel-style
    static-edge placement.  Deterministic: hash partitioning on a
    stable key."""
    spark = df.sparkSession
    n = num_partitions or max(1, df.rdd.getNumPartitions())
    kwargs = {"eager": True}
    if storage_level is not None:
        kwargs["storageLevel"] = storage_level
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.repartition(n, F.col(key_col)).localCheckpoint(**kwargs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def morton_code(x: Column, y: Column, bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints.

    Bit ``b`` of ``x`` lands at position ``2b``, of ``y`` at ``2b+1``:
    ``sum_b (x & 2^b) * 2^b + (y & 2^b) * 2^(b+1)``.  Inputs must be
    pre-reduced to ``[0, 2^bits)`` (e.g. ``col % 256``) by the caller.
    """
    terms: list[Column] = []
    for b in range(bits):
        terms.append(x.bitwiseAND(F.lit(1 << b)) * F.lit(1 << b))
        terms.append(y.bitwiseAND(F.lit(1 << b)) * F.lit(1 << (b + 1)))
    code = terms[0]
    for t in terms[1:]:
        code = code + t
    return code.cast("bigint")


def morton_sql(x: str, y: str, bits: int = 8) -> str:
    """The identical interleave as a DuckDB/ANSI SQL expression string
    (kept next to :func:`morton_code` so the two can never drift)."""
    terms = []
    for b in range(bits):
        terms.append(f"(({x} & {1 << b}) * {1 << b})")
        terms.append(f"(({y} & {1 << b}) * {1 << (b + 1)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_write(
    df: DataFrame,
    x_col: str,
    y_col: str,
    path: str,
    num_files: int = 16,
    bits: int = 8,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of two columns.

    Range-partition on the code (num_files ranges from a sample -- no
    global sort, no single-task bottleneck), sort within each partition,
    drop the helper column, write.  Each file's (x, y) min/max footer
    stats then cover a compact rectangle, so a reader filtering on
    either column skips most files.
    """
    # pmod, not %: Spark's % is sign-preserving, and a negative
    # remainder fed into morton_code's bitwiseAND operates on
    # two's-complement bits, collapsing all negative keys onto
    # degenerate max-valued codes (morton_code documents a non-negative
    # precondition; enforce it here).
    code = morton_code(
        F.pmod(F.col(x_col), F.lit(1 << bits)).cast("int"),
        F.pmod(F.col(y_col), F.lit(1 << bits)).cast("int"),
        bits,
    )
    (
        df.withColumn("__z", code)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_files(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sample_rows: int = 10_000,
    compression_ratio: float = 0.35,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: write ``df`` as parquet in files sized
    near ``target_file_bytes``; returns the file count used.

    The small-files problem is the classic silent killer of 100 TB
    lakes: a streaming or per-partition ingest leaves thousands of
    KB-sized files, and every later scan pays task-scheduling and
    footer-read overhead per file.  The fix is one range-free
    ``repartition(n)`` (round-robin, so output files are uniformly
    sized -- no skew even when the input is) with ``n`` derived from
    the data, not hard-coded.

    Sizing pass: one cheap job computes the row count and the average
    in-memory row width of a ``sample_rows``-row head (via the
    to-internal-row byte size of a LIMIT sample); the on-disk estimate
    applies ``compression_ratio`` (parquet columnar + snappy typically
    lands 0.2-0.5 of in-memory width).  An estimate is the right tool:
    file-size targets are soft, and an exact pre-serialization pass
    would cost a full extra write.

    The reference writes exactly one unpartitioned file per dataset
    (/root/reference/etl/load.py:80-84), which at 100 TB is the
    OPPOSITE failure mode (one writer task); ``compact_files`` is the
    scale-correct generalization of that sink.
    """
    import math

    n_rows = df.count()
    if n_rows == 0:
        df.limit(0).write.mode(mode).parquet(path)
        return 1
    sample = df.limit(min(sample_rows, n_rows)).toPandas()
    mem_row_bytes = max(
        1.0,
        float(sample.memory_usage(index=False, deep=True).sum())
        / max(len(sample), 1),
    )
    est_disk_bytes = n_rows * mem_row_bytes * compression_ratio
    n_files = max(1, math.ceil(est_disk_bytes / target_file_bytes))
    df.repartition(n_files).write.mode(mode).parquet(path)
    return n_files


def stats_manifest(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max/row-count manifest for ``cols`` over a parquet
    directory -- the Delta/Iceberg data-skipping index, built with one
    aggregation keyed on ``input_file_name()``.

    At 100 TB the manifest is written once per ingest batch and stored
    as a table (one row per file -- millions of rows, not billions);
    queries consult it instead of listing+footer-reading every file.
    Pair with :func:`zorder_write`: tight per-file bounding boxes are
    exactly what make these ranges selective."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def pruned_read(
    spark,
    path: str,
    col: str,
    lo,
    hi,
    manifest: DataFrame | None = None,
) -> tuple[DataFrame, int, int]:
    """Range-predicate read that SKIPS files whose [min, max] for
    ``col`` cannot overlap [lo, hi].  Returns (df, files_read,
    files_total); the residual filter is re-applied, so the result is
    exactly ``read(path).filter(col between lo and hi)`` regardless of
    how coarse the file stats are.

    The one driver-side ``collect()`` is the manifest scan itself --
    bounded at one row per FILE (the same bounded-broadcast shape as
    the Bloom semi-join's filter build), which is the standard
    data-skipping architecture: Delta/Iceberg also resolve the file
    list driver-side before task planning."""
    m = manifest if manifest is not None else stats_manifest(spark, path, [col])
    rows = m.select("file", f"min_{col}", f"max_{col}").collect()
    keep = [
        r["file"]
        for r in rows
        if r[f"min_{col}"] is not None
        and not (r[f"max_{col}"] < lo or r[f"min_{col}"] > hi)
    ]
    predicate = (F.col(col) >= lo) & (F.col(col) <= hi)
    if not keep:
        empty = spark.read.parquet(path).filter(F.lit(False))
        return empty, 0, len(rows)
    out = spark.read.parquet(*keep).filter(predicate)
    return out, len(keep), len(rows)
