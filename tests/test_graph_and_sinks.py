"""Round-5 additions: large-star/small-star connected components,
span-level corpus analysis, small-file compaction, and the idempotent
foreachBatch sink.

The three new oracled queries (q_repeated_spans, q_span_doc_coverage,
q_bigram_pmi, q_dedup_clusters_star) are value-checked against DuckDB
by tests/test_oracle_parity.py automatically; the tests here cover the
semantics the oracle can't see -- algorithm agreement on adversarial
graph shapes, file layout effects, and crash-replay behavior.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from etl_onprem_to_cloud_spark.llm.dedup import (
    connected_components,
    connected_components_star,
    minhash_lsh_candidate_pairs,
)
from etl_onprem_to_cloud_spark.operators.layout import compact_files
from etl_onprem_to_cloud_spark.sources.io import load_table
from etl_onprem_to_cloud_spark.streaming.sinks import (
    idempotent_foreach_batch,
    partitioned_parquet_writer,
)


def _labels(df):
    return {(r.node, r.component) for r in df.collect()}


def test_star_cc_long_chain(spark):
    """A 40-node path has diameter 39: min-label would need 39 rounds,
    large-star/small-star must finish in its default 25 (O(log^2 n))."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    got = _labels(connected_components_star(pairs))
    assert got == {(i, 0) for i in range(41)}


def test_star_cc_multiple_components_and_dups(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (10, 11), (11, 12), (20, 21), (2, 3)],
        ["id_a", "id_b"],
    )
    got = _labels(connected_components_star(pairs))
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_star_cc_agrees_with_label_propagation(spark, sf_dir):
    """Both algorithms, same real pair input -> identical labeling."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidate_pairs(
        docs, num_hashes=9, bands=3, jaccard_threshold=0.5
    )
    star = _labels(connected_components_star(pairs))
    prop = _labels(connected_components(pairs))
    assert star == prop and len(star) > 0


def test_star_cc_nonconvergence_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, max_iterations=1)


def test_compact_files_file_count(spark, tmp_path):
    df = spark.range(0, 50_000).withColumn(
        "payload", F.concat_ws("-", F.col("id"), F.lit("x" * 64))
    )
    out = str(tmp_path / "compacted")
    # Tiny target -> several files; returned count == files on disk.
    n = compact_files(df, out, target_file_bytes=256 * 1024)
    files = glob.glob(os.path.join(out, "part-*.parquet"))
    assert len(files) == n > 1
    # Round-trip integrity.
    assert spark.read.parquet(out).count() == 50_000
    # Uniform sizing: round-robin repartition keeps the max/min file
    # size ratio tight (no skewed writer).
    sizes = sorted(os.path.getsize(f) for f in files)
    assert sizes[-1] < sizes[0] * 2.5


def test_compact_files_single_file_for_small_input(spark, tmp_path):
    df = spark.range(0, 10).repartition(8)
    out = str(tmp_path / "small")
    n = compact_files(df, out)
    assert n == 1
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) == 1


def test_idempotent_sink_skips_replayed_batch(spark, tmp_path):
    data = str(tmp_path / "data")
    ledger = str(tmp_path / "ledger")
    writes = []

    def record(df, bid):
        partitioned_parquet_writer(data)(df, bid)
        writes.append(bid)

    sink = idempotent_foreach_batch(record, ledger)
    df = spark.range(0, 100)
    sink(df, 0)
    sink(df, 1)
    sink(df, 0)  # replay -- must be a no-op
    assert writes == [0, 1]
    assert spark.read.parquet(data).count() == 200


def test_idempotent_sink_crash_between_write_and_marker(spark, tmp_path):
    """Crash after data write but before marker: replay overwrites the
    batch directory instead of duplicating rows."""
    data = str(tmp_path / "data")
    ledger = str(tmp_path / "ledger")
    df = spark.range(0, 50)

    class Boom(RuntimeError):
        pass

    def crashing(d, bid):
        partitioned_parquet_writer(data)(d, bid)
        raise Boom()

    with pytest.raises(Boom):
        idempotent_foreach_batch(crashing, ledger)(df, 7)
    # Replay with the healthy writer: same batch id, overwrite path.
    idempotent_foreach_batch(
        partitioned_parquet_writer(data), ledger
    )(df, 7)
    assert spark.read.parquet(data).count() == 50


def test_idempotent_sink_in_real_stream(spark, tmp_path):
    """End-to-end: file-source stream -> foreachBatch(idempotent) with
    availableNow, then a second identical run over the same checkpoint
    is a no-op (offsets committed) and a run with a FRESH checkpoint
    replays batch ids but the ledger absorbs them."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    ckpt1, ckpt2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).write.parquet(src)

    sink = idempotent_foreach_batch(partitioned_parquet_writer(out), ledger)
    stream = spark.readStream.schema("id bigint, k bigint").parquet(src)

    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt1
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1000

    # Fresh checkpoint: Spark re-delivers batch 0; the ledger de-dupes.
    q2 = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt2
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1000


def test_streaming_incremental_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Incremental view maintenance end-to-end: a file stream feeds
    per-batch aggregate PARTIALS through the idempotent sink (one
    partial file set per micro-batch), and the merge-on-read
    re-aggregation of those partials equals the flat batch rollup over
    all data -- the q_incremental_rollup_merge contract driven through
    a real stream instead of two synthetic slices."""
    from etl_onprem_to_cloud_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    # Three input files -> three micro-batches with maxFilesPerTrigger=1.
    ev.filter(F.col("event_id") % 3 == 0).write.parquet(src + "/f0")
    ev.filter(F.col("event_id") % 3 == 1).write.parquet(src + "/f1")
    ev.filter(F.col("event_id") % 3 == 2).write.parquet(src + "/f2")

    partials_dir = str(tmp_path / "partials")
    ledger = str(tmp_path / "ledger")

    def write_partials(batch_df, batch_id):
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(partials_dir, f"batch_id={batch_id}")
        )

    sink = idempotent_foreach_batch(write_partials, ledger)
    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    merged = (
        spark.read.parquet(partials_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )
    got = {
        r.event_type: (r.n_events, round(r.sum_value, 6))
        for r in merged.collect()
    }
    flat = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    want = {
        r.event_type: (r.n_events, round(r.sum_value, 6))
        for r in flat.collect()
    }
    assert got == want and len(got) > 0


def test_prefix_bound_float_regression(spark):
    """floor((1-t)*n) with t=0.8 computes floor(1.9999999999999996)=1
    and shrinks the prefix below the pigeonhole bound: doc A (10
    shingles, 2 unique-to-A) contained at exactly 0.8 in doc B used to
    vanish from the prefix variant because A's two rarest shingles are
    exactly its two non-shared ones.  The safe-side bound must keep the
    pair, for containment AND for jaccard at a non-binary threshold."""
    from etl_onprem_to_cloud_spark.llm.dedup import (
        containment_pairs,
        containment_pairs_prefix,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    w = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(w[:12])),   # shingles s0..s9
            (2, " ".join(w[:10])),   # shingles s0..s7 (8 shared)
        ],
        ["doc_id", "text"],
    )
    naive = {(r.contained_id, r.container_id)
             for r in containment_pairs(docs, threshold=0.8).collect()}
    pref = {(r.contained_id, r.container_id)
            for r in containment_pairs_prefix(docs, threshold=0.8).collect()}
    assert (1, 2) in naive
    assert naive == pref
    jn = sorted(tuple(r) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect())
    jp = sorted(tuple(r) for r in ngram_jaccard_pairs_prefix(docs, threshold=0.8).collect())
    assert jn == jp


class TestStreamingQualityMonitor:
    def test_per_batch_reports_match_batch_suite(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from etl_onprem_to_cloud_spark.operators.quality import (
            completeness,
            in_set,
        )
        from etl_onprem_to_cloud_spark.sources.io import read_parquet
        from etl_onprem_to_cloud_spark.streaming.quality import (
            monitor_stream_quality,
        )

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        src = str(tmp_path / "src")
        ev.repartition(3).write.mode("overwrite").parquet(src)
        checks = [
            completeness("value.complete", "value"),
            in_set("type.known", "event_type",
                   ["click", "view", "purchase", "signup", "error"]),
        ]
        report = str(tmp_path / "report")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = monitor_stream_quality(
            stream, checks, report, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

        got = spark.read.option("basePath", report).parquet(report)
        rows = got.collect()
        # one row per (batch, check); batch count = number of files
        assert {r["check"] for r in rows} == {"value.complete", "type.known"}
        n_batches = got.select("batch_id").distinct().count()
        assert n_batches >= 2  # maxFilesPerTrigger=1 over 3 files
        # summed per-check totals across batches == full-table totals
        sums = (
            got.groupBy("check")
            .agg(
                F.sum("violations").alias("v"),
                F.sum("total").alias("t"),
            )
            .collect()
        )
        full = ev.count()
        for r in sums:
            assert r["t"] == full
            assert r["v"] == 0  # fixture data is clean for these checks

    def test_streamed_reports_equal_grouped_batch_twin(
        self, spark, sf_dir, tmp_path
    ):
        """The foreachBatch monitor's per-batch rows must equal the
        grouped batch suite (predicate_report_grouped) evaluated per
        source file -- checks chosen so violations are NONZERO, making
        this a value comparison, not just a delivery check.  Batch ids
        and file names don't correspond deterministically, so the
        comparison is by multiset of (check, violations, total,
        passed)."""
        from collections import Counter

        from pyspark.sql import functions as F

        from etl_onprem_to_cloud_spark.operators.quality import (
            in_range,
            in_set,
            predicate_report_grouped,
        )
        from etl_onprem_to_cloud_spark.sources.io import read_parquet
        from etl_onprem_to_cloud_spark.streaming.quality import (
            monitor_stream_quality,
        )

        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        src = str(tmp_path / "src")
        ev.repartition(3).write.mode("overwrite").parquet(src)
        checks = [
            in_set("type.allowed", "event_type",
                   ["click", "view", "purchase", "signup"]),  # 'error' fails
            in_range("value.in_range", "value", 0, 200),      # max > 200
        ]
        report = str(tmp_path / "report")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = monitor_stream_quality(
            stream, checks, report, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

        streamed = Counter(
            (r["check"], r["violations"], r["total"], r["passed"])
            for r in spark.read.option("basePath", report)
            .parquet(report)
            .collect()
        )
        static = spark.read.parquet(src).withColumn(
            "__file", F.input_file_name()
        )
        grouped = Counter(
            (r["check"], r["violations"], r["total"], r["passed"])
            for r in predicate_report_grouped(static, checks, ["__file"])
            .collect()
        )
        assert streamed == grouped
        assert any(v > 0 for (_, v, _, _) in streamed)  # violations bite


def test_count_carry_respects_caller_persisted_cand(spark):
    """ADVICE r7: count_carry_jaccard pins cand only when the caller
    has NOT already persisted it -- re-persisting at a different level
    raises Spark's 'cannot change storage level', and a registry pin
    of a caller-owned cache would double-release it.  A pre-persisted
    cand must flow through untouched (same values, same level, still
    cached after release_pinned()); an unpersisted cand must still get
    the registry pin the sf100 probe proved decisive."""
    from pyspark.storagelevel import StorageLevel

    from etl_onprem_to_cloud_spark.llm.dedup import count_carry_jaccard
    from etl_onprem_to_cloud_spark.pinned import release_pinned

    postings = spark.createDataFrame(
        [(1, "a", 3), (1, "b", 3), (1, "c", 3),
         (2, "a", 3), (2, "b", 3), (2, "d", 3)],
        ["id", "shingle", "n_sh"],
    )
    cand = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])

    baseline = sorted(
        tuple(r) for r in count_carry_jaccard(cand, postings, 0.4).collect()
    )
    # Exactly ONE pin on the unpersisted path -- if the storage-level
    # guard ever stops matching, the decisive cand pin silently
    # disappears and only this assertion notices.
    assert release_pinned() == 1
    assert baseline == [(1, 2, 0.5)]

    pre = cand.persist(StorageLevel.DISK_ONLY)
    try:
        got = sorted(
            tuple(r)
            for r in count_carry_jaccard(pre, postings, 0.4).collect()
        )
        assert got == baseline
        # nothing registered on this path; the caller's cache survives
        assert release_pinned() == 0
        assert pre.storageLevel == StorageLevel.DISK_ONLY
    finally:
        pre.unpersist()


def test_containment_fanout_is_4x_parallelism(spark):
    """The incidence repartition width is pinned at 4 x the default
    parallelism: each partition's incidences are buffered in one Python
    worker, so the width is that worker's memory bound."""
    import re

    from etl_onprem_to_cloud_spark.llm.dedup import containment_pairs
    from etl_onprem_to_cloud_spark.plans import explain_str

    w = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(w[:12])), (2, " ".join(w[:10]))], ["doc_id", "text"]
    )
    widths = re.findall(
        r"hashpartitioning\(id_a#\d+L?, id_b#\d+L?, (\d+)\)",
        explain_str(containment_pairs(docs, threshold=0.8), "simple"),
    )
    assert widths, "incidence pair-key repartition missing from plan"
    assert {int(x) for x in widths} == {4 * spark.sparkContext.defaultParallelism}
