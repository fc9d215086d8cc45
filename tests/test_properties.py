"""Property-based spot checks (SURVEY.md section 5, test plan item 4):
row-count conservation, filter monotonicity, dedup idempotence, merge
key-uniqueness, as-of left preservation -- over hypothesis-generated
micro-tables.  Example counts are small: each example is a full Spark
job round-trip."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from etl_onprem_to_cloud_spark.llm.dedup import exact_dedup
from etl_onprem_to_cloud_spark.operators.asof import asof_join_backward
from etl_onprem_to_cloud_spark.operators.maintenance import merge_upsert

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.text(
    alphabet=st.sampled_from("ab c"), min_size=0, max_size=30
)
rows = st.lists(
    st.tuples(st.integers(0, 50), texts), min_size=0, max_size=25
)


@given(data=rows)
@SETTINGS
def test_projection_conserves_rows(spark, data):
    df = spark.createDataFrame(data, "id: bigint, text: string") if data else None
    if df is None:
        return
    assert df.select("id").count() == len(data)


@given(data=rows, cut=st.integers(0, 50))
@SETTINGS
def test_filter_monotonicity(spark, data, cut):
    if not data:
        return
    df = spark.createDataFrame(data, "id: bigint, text: string")
    a = df.filter(F.col("id") <= cut)
    ab = a.filter(F.length("text") > 2)
    assert ab.count() <= a.count() <= df.count()


@given(data=rows)
@SETTINGS
def test_exact_dedup_idempotent_and_keyed(spark, data):
    if not data:
        return
    # unique ids, duplicated-on-purpose texts
    df = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(data)], "doc_id: bigint, text: string"
    )
    once = exact_dedup(df)
    twice = exact_dedup(once)
    got_once = sorted(tuple(r) for r in once.collect())
    got_twice = sorted(tuple(r) for r in twice.collect())
    assert got_once == got_twice, "dedup must be idempotent"
    # one survivor per normalized fingerprint, and it is the min id
    norm = lambda t: " ".join(t.lower().split())
    by_fp: dict[str, int] = {}
    for i, (_, t) in enumerate(data):
        by_fp.setdefault(norm(t), i)
    assert sorted(r.doc_id for r in once.collect()) == sorted(by_fp.values())


@given(
    base=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=15),
    upd=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=15),
)
@SETTINGS
def test_merge_upsert_unique_keys_latest_wins(spark, base, upd):
    if not base and not upd:
        return
    b = spark.createDataFrame(base, "k: bigint, v: bigint") if base else None
    u = spark.createDataFrame(upd, "k: bigint, v: bigint") if upd else None
    if b is None:
        b = u.limit(0)
    if u is None:
        u = b.limit(0)
    merged = merge_upsert(b, u, keys=["k"], version_col="v").collect()
    ks = [r.k for r in merged]
    assert len(ks) == len(set(ks)), "exactly one row per key"
    expect_max = {}
    for k, v in base + upd:
        expect_max[k] = max(expect_max.get(k, -1), v)
    assert {r.k: r.v for r in merged} == expect_max


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)), max_size=12
    ),
)
@SETTINGS
def test_asof_preserves_left_and_bounds_match(spark, left, right):
    epoch = dt.datetime(2024, 1, 1)
    l = spark.createDataFrame(
        [(k, epoch + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)],
        "k: bigint, ts: timestamp, lid: bigint",
    )
    r_rows = [
        (k, epoch + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(right)
    ]
    r = (
        spark.createDataFrame(r_rows, "k: bigint, ts: timestamp, rid: bigint")
        if r_rows
        else l.select("k", "ts", F.col("lid").alias("rid")).limit(0)
    )
    out = asof_join_backward(
        l, r, on=["k"], left_ts="ts", right_ts="ts", right_cols=["rid"], tiebreak="rid"
    ).collect()
    assert len(out) == len(left), "every left row survives"
    rmap = {i: (k, epoch + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(right)}
    lmap = {i: (k, epoch + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)}
    for row in out:
        lk, lts = lmap[row.lid]
        if row.rid is not None:
            rk, rts = rmap[row.rid]
            assert rk == lk and rts <= lts, "match must be same-key, at-or-before"
        else:
            assert not any(
                rk == lk and rts <= lts for (rk, rts) in rmap.values()
            ), "null only when no eligible right row exists"


def test_connected_components_chain_and_islands(spark):
    from etl_onprem_to_cloud_spark.llm.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), island {10,11}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a: bigint, id_b: bigint",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_merge_upsert_tiebreaker_is_deterministic(spark):
    # Two updates with the same key AND version: the tiebreaker column
    # must pick one reproducible survivor (ADVICE r01).
    base = spark.createDataFrame([(1, 5, 100)], "k: bigint, v: bigint, id: bigint")
    upd = spark.createDataFrame(
        [(1, 9, 201), (1, 9, 202)], "k: bigint, v: bigint, id: bigint"
    )
    outs = {
        tuple(
            merge_upsert(base, upd, keys=["k"], version_col="v", tiebreakers=["id"])
            .collect()[0]
        )
        for _ in range(3)
    }
    assert outs == {(1, 9, 202)}, "max-id update must win every rerun"


def test_connected_components_raises_without_convergence(spark):
    import pytest

    from etl_onprem_to_cloud_spark.llm.dedup import connected_components

    # chain 1-2-3-4-5 needs >1 round; max_iterations=1 cannot converge
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a: bigint, id_b: bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)


def test_connected_components_fewer_jobs_than_two_action_loop(spark):
    """The changed-flag fold must spend fewer Spark jobs per round than
    the r01 shape (eager checkpoint + separate comparison-join count).
    Counts are compared, not pinned: AQE splits one action into several
    jobs, so absolute numbers are plan-internal."""
    from etl_onprem_to_cloud_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: bigint, id_b: bigint"
    )
    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def old_style():
        # r01 implementation: eager checkpoint, then a join+count action
        # per round for convergence detection.
        edges = (
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )
        while True:
            nbr = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            updated = (
                labels.join(nbr, labels.node == nbr.src, "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                updated.alias("u")
                .join(labels.alias("l"), F.col("u.node") == F.col("l.node"))
                .filter(F.col("u.component") != F.col("l.component"))
                .count()
            )
            labels = updated
            if changed == 0:
                return labels

    old_labels, old_jobs = count_jobs("cc-old", lambda: old_style().collect())
    new_labels, new_jobs = count_jobs(
        "cc-new", lambda: connected_components(pairs).collect()
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert {r.node: r.component for r in old_labels} == want
    assert {r.node: r.component for r in new_labels} == want
    assert new_jobs < old_jobs, (
        f"folded changed-flag should cost fewer jobs: new={new_jobs} old={old_jobs}"
    )


def test_split_assignment_proportions_and_stability(spark, sf_dir):
    """80/10/10 hash split: proportions near-nominal, and every doc's
    assignment is unchanged when the corpus is subset (growth-stable
    eval sets)."""
    from etl_onprem_to_cloud_spark.queries import QUERIES

    full = QUERIES["q_split_train_val_test"].fn(spark, sf_dir)
    counts = {r["split"]: r["n"] for r in full.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    assert 0.7 < counts["train"] / total < 0.9
    assert 0.05 < counts["val"] / total < 0.15
    assert 0.05 < counts["test"] / total < 0.15
    sub = {r.doc_id: r["split"] for r in full.filter(F.col("doc_id") % 3 == 0).collect()}
    again = {r.doc_id: r["split"] for r in full.collect() if r.doc_id % 3 == 0}
    assert sub == again


def test_token_budget_never_exceeded_and_prefix(spark, sf_dir):
    from etl_onprem_to_cloud_spark.queries import QUERIES
    from etl_onprem_to_cloud_spark.queries.datamix import _SOURCE_BUDGET

    rows = QUERIES["q_token_budget_per_source"].fn(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        run = 0
        for r in rs:
            run += r.n_tokens
            assert r.cum_tokens == run, "cum must be a contiguous prefix sum"
        assert run <= _SOURCE_BUDGET


def test_pack_contexts_bins_are_offset_consistent(spark, sf_dir):
    from etl_onprem_to_cloud_spark.queries import QUERIES
    from etl_onprem_to_cloud_spark.queries.datamix import _PACK_CAPACITY

    rows = QUERIES["q_pack_contexts"].fn(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        offset = 0
        for r in rs:
            assert r.token_offset == offset
            assert r.bin_id == offset // _PACK_CAPACITY
            offset += r.n_tokens


@given(data=rows)
@SETTINGS
def test_containment_dominates_jaccard_and_identity(spark, data):
    """For every pair: containment(A->B) >= jaccard(A,B) (the
    intersection is divided by the smaller-or-equal denominator), and
    identical texts have containment 1.0 in both directions."""
    from etl_onprem_to_cloud_spark.llm.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, (_k, t) in enumerate(data)] or [(0, "a b c")],
        ["doc_id", "text"],
    )
    cont = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(docs, threshold=0.0).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    for (a, b), j in jac.items():
        c = max(cont.get((a, b), 0.0), cont.get((b, a), 0.0))
        assert c >= j - 1e-9, (a, b, c, j)
    texts_by_id = {i: t for i, (_k, t) in enumerate(data)}
    for (a, b), c in cont.items():
        if texts_by_id.get(a) is not None and texts_by_id.get(a) == texts_by_id.get(b):
            assert c == 1.0


@given(data=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                     min_size=1, max_size=20))
@SETTINGS
def test_star_cc_matches_label_propagation_on_random_graphs(spark, data):
    """Both CC algorithms agree on arbitrary small graphs (self-loops
    and duplicate edges included)."""
    from etl_onprem_to_cloud_spark.llm.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(a, b) for a, b in data if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    star = {(r.node, r.component)
            for r in connected_components_star(pairs).collect()}
    prop = {(r.node, r.component)
            for r in connected_components(pairs).collect()}
    assert star == prop


@given(data=st.lists(
    st.tuples(st.integers(0, 100),
              st.floats(min_value=-100, max_value=100, allow_nan=False)),
    min_size=1, max_size=20))
@SETTINGS
def test_gapfill_interp_brackets_and_matches_observations(spark, data):
    """Linear interpolation invariants on an arbitrary hourly series:
    observed buckets echo their own value; interior gap estimates lie
    within [min(prev, next), max(prev, next)]; leading/trailing gaps
    (nothing to bracket) stay NULL."""
    import datetime as _dt

    from etl_onprem_to_cloud_spark.operators.timeseries import (
        resample_gapfill_interp,
    )

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (1, base + _dt.timedelta(hours=h % 200), float(v)) for h, v in data
    ]
    df = spark.createDataFrame(rows, "key: int, ts: timestamp, v: double")
    out = resample_gapfill_interp(
        df, key_col="key", ts_col="ts", value_col="v", step="1 hour", agg="sum"
    ).collect()
    by_bucket = sorted(out, key=lambda r: r.bucket_start)
    obs = [(i, r) for i, r in enumerate(by_bucket) if r.value is not None]
    first_obs, last_obs = obs[0][0], obs[-1][0]
    for i, r in enumerate(by_bucket):
        if r.value is not None:
            assert r.value_interp == float(r.value)
        elif i < first_obs or i > last_obs:
            assert r.value_interp is None
        else:
            prev_v = next(
                float(p.value) for _j, p in reversed(obs) if _j < i
            )
            next_v = next(float(p.value) for _j, p in obs if _j > i)
            lo, hi = min(prev_v, next_v), max(prev_v, next_v)
            assert lo - 1e-9 <= r.value_interp <= hi + 1e-9


@given(data=st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=8),
    min_size=1, max_size=12))
@SETTINGS
def test_chunk_rewrite_conserves_and_removes_only_duplicates(spark, data):
    """Chunk-dedup rewrite invariants on arbitrary corpora (chunk = 16
    tokens, so most docs here are single-chunk): kept <= total chunks,
    every distinct chunk survives somewhere exactly once across the
    corpus, and a corpus with no duplicate chunks is returned intact."""
    from etl_onprem_to_cloud_spark.queries.curation import CHUNK  # noqa: F401
    from etl_onprem_to_cloud_spark.queries import QUERIES
    import tempfile

    docs = [(i, " ".join(toks)) for i, toks in enumerate(data)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "src", len(t)) for i, t in docs],
            "doc_id: bigint, text: string, lang: string, source: string, n_chars: bigint",
        ).write.parquet(f"{d}/documents.parquet")
        out = QUERIES["q_dedup_chunk_rewrite"].fn(spark, d).collect()
    total_kept = sum(r.kept_chunks for r in out)
    assert all(r.kept_chunks <= r.n_chunks for r in out)
    # chunks actually present (single-chunk docs: the chunk is the text)
    distinct_chunks = {t for _i, t in docs}
    surviving = [r.new_text for r in out if r.new_text]
    assert total_kept == len(distinct_chunks)
    # every doc whose text is globally unique must be untouched
    from collections import Counter

    counts = Counter(t for _i, t in docs)
    for i, t in docs:
        if counts[t] == 1:
            assert any(r.doc_id == i and r.new_text == t for r in out)


def test_lloyd_cells_invariant_under_repartition(spark, sf_dir):
    """The deterministic-Lloyd contract: cell assignment and centroids
    are CONTENT-derived (min-id init, fixed-point means), so a
    different physical partitioning must produce the identical
    quantizer -- the property that makes q_ann_ivf_topk value-
    oracle-able at all."""
    from etl_onprem_to_cloud_spark.llm.similarity import lloyd_cells
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    a_asgn, a_cents = lloyd_cells(emb, num_cells=6, n_iter=2)
    b_asgn, b_cents = lloyd_cells(
        emb.repartition(7, "label"), num_cells=6, n_iter=2
    )
    pa = sorted((r["vec_id"], r["__cell"]) for r in a_asgn.collect())
    pb = sorted((r["vec_id"], r["__cell"]) for r in b_asgn.collect())
    assert pa == pb
    ca = sorted((r["cell"], tuple(r["centroid"])) for r in a_cents.collect())
    cb = sorted((r["cell"], tuple(r["centroid"])) for r in b_cents.collect())
    assert ca == cb


def test_sampled_kcenter_invariant_under_repartition(spark, sf_dir):
    """The per-step hash gate is md5-content-derived, so the sampled
    selection must not depend on physical layout."""
    from etl_onprem_to_cloud_spark.operators.coreset import k_center_greedy
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    a = [
        (r["step"], r["id"])
        for r in k_center_greedy(emb, k=4, sample_rate=0.25)
        .orderBy("step")
        .collect()
    ]
    b = [
        (r["step"], r["id"])
        for r in k_center_greedy(
            emb.repartition(5, "vec_id"), k=4, sample_rate=0.25
        )
        .orderBy("step")
        .collect()
    ]
    assert a == b


def test_nb_classifier_invariant_under_repartition(spark, sf_dir, tmp_path):
    """Hash-gate split + integer-quantized scores: the confusion matrix
    must be layout-independent.  The query reads documents.parquet from
    its sf_dir, so the re-laid-out run goes through a temp dir holding
    a repartitioned rewrite of the same table -- a genuinely different
    physical layout (different file count, row order, partitioning)."""
    from etl_onprem_to_cloud_spark.queries import QUERIES
    from etl_onprem_to_cloud_spark.sources.io import read_parquet

    base = QUERIES["q_nb_lang_classifier"].fn(spark, sf_dir).collect()
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(7, "lang").write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    again = QUERIES["q_nb_lang_classifier"].fn(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


# --------------------------------------------------------------------------
# Codec properties (pure Python -- no Spark session needed)
# --------------------------------------------------------------------------

@given(
    samples=st.lists(st.integers(0, 255), min_size=0, max_size=200),
    rate=st.sampled_from([8000, 11025, 16000, 44100]),
)
@SETTINGS
def test_wav_8bit_roundtrip_exact(samples, rate):
    """Any 8-bit PCM stream survives header-build -> parse exactly."""
    from etl_onprem_to_cloud_spark.llm.multimodal import (
        _wav_header,
        wav_decoder,
    )

    payload = _wav_header(len(samples), rate, bits=8) + bytes(samples)
    got_rate, got_bits, got = wav_decoder(payload)
    assert (got_rate, got_bits) == (rate, 8)
    assert got == samples


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=100),
    rate=st.sampled_from([8000, 16000]),
)
@SETTINGS
def test_wav_16bit_roundtrip_exact(samples, rate):
    import struct

    from etl_onprem_to_cloud_spark.llm.multimodal import (
        _wav_header,
        wav_decoder,
    )

    payload = _wav_header(len(samples), rate, bits=16) + b"".join(
        struct.pack("<h", s) for s in samples
    )
    got_rate, got_bits, got = wav_decoder(payload)
    assert (got_rate, got_bits) == (rate, 16)
    assert got == samples


@given(blob=st.binary(max_size=400))
@SETTINGS
def test_parsers_total_on_arbitrary_bytes(blob):
    """Fuzz totality: the three real codecs either decode or raise
    ValueError -- never IndexError / struct.error / UnicodeDecodeError,
    and never hang.  The contract that makes them safe to run inside a
    mapInPandas pass over untrusted payload bytes."""
    from etl_onprem_to_cloud_spark.llm.multimodal import (
        pgm_decoder,
        ppm_decoder,
        wav_decoder,
    )

    for decode in (
        lambda b: wav_decoder(b),
        lambda b: ppm_decoder(b, 8),
        lambda b: pgm_decoder(b, 8),
    ):
        try:
            decode(blob)
        except ValueError:
            pass


@given(
    blob=st.binary(max_size=300),
    magic=st.sampled_from([b"RIFF", b"P6\n", b"P5\n"]),
)
@SETTINGS
def test_parsers_total_on_magic_prefixed_bytes(blob, magic):
    """Same totality contract past the magic check (the deeper parse
    paths: header ints, chunk walks, raster/data slicing)."""
    from etl_onprem_to_cloud_spark.llm.multimodal import (
        pgm_decoder,
        ppm_decoder,
        wav_decoder,
    )

    payload = magic + blob
    for decode in (
        lambda b: wav_decoder(b),
        lambda b: ppm_decoder(b, 4),
        lambda b: pgm_decoder(b, 4),
    ):
        try:
            decode(payload)
        except ValueError:
            pass


@given(
    pixels=st.lists(st.integers(0, 255), min_size=1, max_size=120),
    maxval_extra=st.integers(0, 55),
    feat_dim=st.integers(1, 16),
)
@SETTINGS
def test_pool_raster_bounds_on_valid_samples(pixels, maxval_extra, feat_dim):
    """For spec-valid rasters (every sample <= maxval) pooled features
    stay in [-1, 1]."""
    from etl_onprem_to_cloud_spark.llm.multimodal import _pool_raster

    maxval = max(pixels) + maxval_extra
    if maxval == 0:
        maxval = 1
    feats = _pool_raster(bytes(pixels), maxval, feat_dim)
    assert len(feats) == feat_dim
    assert all(-1.0 <= f <= 1.0 for f in feats)
