"""Unit tests for the as-of join operator (operators/asof.py) on tiny
literal frames: inclusive >= semantics, tie-breaking, tolerance, and
no-match NULLs.
"""

from __future__ import annotations

import datetime as dt

import pytest

from etl_onprem_to_cloud_spark.operators.asof import asof_join_backward


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "L1"),
            (1, _ts("2024-01-01 12:00:00"), "L2"),
            (2, _ts("2024-01-01 09:00:00"), "L3"),  # before any right row
            (3, _ts("2024-01-01 10:00:00"), "L4"),  # key with no right rows
        ],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), 100),
            (1, _ts("2024-01-01 10:00:00"), 200),  # equal ts -> inclusive
            (1, _ts("2024-01-01 11:00:00"), 300),
            (2, _ts("2024-01-01 09:30:00"), 400),
        ],
        ["k", "ts", "rv"],
    )
    return left, right


def test_backward_inclusive_and_nulls(frames):
    left, right = frames
    out = asof_join_backward(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["rv"], tiebreak="rv",
    )
    got = {(r.k, r.lv): r.rv for r in out.collect()}
    assert got == {
        (1, "L1"): 200,   # equal-timestamp right row matches (>=)
        (1, "L2"): 300,   # latest at-or-before 12:00
        (2, "L3"): None,  # right rows exist but all later
        (3, "L4"): None,  # no right rows for key
    }
    assert out.count() == left.count(), "left rows must be preserved"


def test_tolerance_nulls_out_stale_matches(frames):
    left, right = frames
    out = asof_join_backward(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["rv"], tiebreak="rv",
        tolerance_us=30 * 60 * 1_000_000,  # 30 minutes
    )
    got = {(r.k, r.lv): r.rv for r in out.collect()}
    # L2's nearest match (11:00, rv=300) is 60 min old -> nulled.
    assert got[(1, "L2")] is None
    assert got[(1, "L1")] == 200


def test_tiebreak_deterministic(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), "L")], ["k", "ts", "lv"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 5), (1, _ts("2024-01-01 09:00:00"), 9)],
        ["k", "ts", "rv"],
    )
    out = asof_join_backward(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["rv"], tiebreak="rv",
    )
    assert [r.rv for r in out.collect()] == [9], "largest tiebreak wins"


def test_matched_ts_exposed(frames):
    left, right = frames
    out = asof_join_backward(
        left, right, on=["k"], left_ts="ts", right_ts="ts", right_cols=["rv"],
    )
    row = {r.lv: r for r in out.collect()}
    assert row["L2"].ts_matched == _ts("2024-01-01 11:00:00")
    assert row["L4"].ts_matched is None


def test_ewma_null_values_skip_and_propagate(spark):
    """ADVICE r2: NULL value rows must not kill the executor -- they get
    a NULL ewma and leave the recurrence state untouched."""
    from etl_onprem_to_cloud_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 20.0)],
        "k int, t int, v double",
    )
    rows = {r.t: r.ewma for r in ewma(df, ["k"], ["t"], "v", alpha=0.5).collect()}
    assert rows[1] == 10.0
    assert rows[2] is None, "null input -> null output"
    assert rows[3] == 0.5 * 10.0 + 0.5 * 20.0, "state carried past the null row"


def _ewma_fold(rows, alpha):
    """Reference EWMA: ``{(key, order): ewma}`` from ``(key, order,
    value)`` rows, folded per key in order in plain Python (skip-and-
    propagate on NULL values; NULL keys form one group)."""
    by_key: dict = {}
    for k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    out = {}
    for k, seq in by_key.items():
        s = None
        for t, v in sorted(seq):
            if v is None:
                out[(k, t)] = None
                continue
            s = v if s is None else (1.0 - alpha) * s + alpha * v
            out[(k, t)] = s
    return out


def test_ewma_matches_python_fold(spark, sf_dir):
    """The partition-streaming mapInPandas walk equals a plain Python
    fold bit for bit, with null values and keys that straddle Arrow
    batch boundaries (forced tiny batches)."""
    from etl_onprem_to_cloud_spark.operators.timeseries import ewma
    from etl_onprem_to_cloud_spark.sources.io import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.when(F.col("value") > 8, None).otherwise(F.col("value")).alias("v")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.user_id, r.event_id): r.ewma
            for r in ewma(ev, ["user_id"], ["event_id"], "v", 0.3).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = _ewma_fold([tuple(r) for r in ev.collect()], 0.3)
    assert got == want and len(got) > 0
    assert any(x is None for x in got.values()), "null rows exercised"


def test_ewma_null_keys_form_one_group(spark):
    """NULL keys form one group, as in groupBy (NaN-normalized key
    comparison in the walk, not NaN != NaN per row)."""
    from etl_onprem_to_cloud_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [(None, 1, 10.0), (None, 2, 20.0), (1, 1, 5.0)],
        "k int, t int, v double",
    )
    rows = {(r.k, r.t): r.ewma for r in ewma(df, ["k"], ["t"], "v", 0.5).collect()}
    assert rows[(None, 2)] == 0.5 * 10.0 + 0.5 * 20.0, (
        "null keys must share one recurrence"
    )


def test_clamped_running_sum_basic(spark):
    """Hand-checked clamp semantics: balance floors at 0, clamps are
    counted, peak tracks the post-clamp maximum, NULL deltas leave
    state untouched but still count as rows."""
    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    df = spark.createDataFrame(
        [
            # key a: +5, -10 (clamp), +3, NULL -> final 3, clamps 1, peak 5
            ("a", 1, 5),
            ("a", 2, -10),
            ("a", 3, 3),
            ("a", 4, None),
            # key b: -1 (clamp at start), +2 -> final 2, clamps 1, peak 2
            ("b", 1, -1),
            ("b", 2, 2),
        ],
        "k string, t int, d long",
    )
    out = {
        r.k: (r.n_rows, r.final_balance, r.n_clamps, r.peak_balance)
        for r in clamped_running_sum(df, ["k"], ["t"], "d").collect()
    }
    assert out["a"] == (4, 3, 1, 5)
    assert out["b"] == (2, 2, 1, 2)


def _clamp_fold(rows, floor, cap):
    """Reference clamped running sum: ``{key: (n_rows, final_balance,
    n_clamps, n_caps, peak_balance)}`` from ``(key, order, delta)``
    rows, folded per key in order in plain Python (NULL deltas count
    as rows and leave the balance unchanged)."""
    by_key: dict = {}
    for k, t, d in rows:
        by_key.setdefault(k, []).append((t, d))
    out = {}
    for k, seq in by_key.items():
        bal = peak = floor
        clamps = caps = 0
        for _, d in sorted(seq):
            if d is None:
                continue
            nxt = bal + d
            if nxt < floor:
                clamps += 1
                nxt = floor
            elif cap is not None and nxt > cap:
                caps += 1
                nxt = cap
            bal = nxt
            peak = max(peak, bal)
        out[k] = (len(seq), bal, clamps, caps, peak)
    return out


def test_clamped_matches_python_fold(spark):
    """The mapInPandas walk emits the same summaries as a plain Python
    fold, including null keys and null deltas, capped and uncapped,
    with keys straddling Arrow batch boundaries (forced tiny batches)."""
    import random

    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    rng = random.Random(11)
    rows = []
    for k in ("a", "b", None, "c"):
        for t in range(1, 60):
            rows.append((k, t, rng.choice([-7, -3, 0, 2, 5, 9, None])))
    df = spark.createDataFrame(rows, "k string, t int, d long").repartition(5)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for cap, floor in ((None, 0), (None, 2), (6, 0), (6, -3)):
            got = {
                r.k: (r.n_rows, r.final_balance, r.n_clamps, r.n_caps, r.peak_balance)
                for r in clamped_running_sum(
                    df, ["k"], ["t"], "d", floor_value=floor, cap_value=cap
                ).collect()
            }
            assert got == _clamp_fold(rows, floor, cap), f"cap={cap} floor={floor}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_clamped_running_sum_two_sided_cap(spark):
    """Cap semantics: the ceiling truncates, cap hits are counted
    separately from floor clamps, and peak never exceeds the cap."""
    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    df = spark.createDataFrame(
        # +8 (cap to 5), +1 (cap again), -9 (clamp to 0), +3 -> final 3
        [("a", 1, 8), ("a", 2, 1), ("a", 3, -9), ("a", 4, 3)],
        "k string, t int, d long",
    )
    r = clamped_running_sum(df, ["k"], ["t"], "d", cap_value=5).collect()[0]
    assert (r.final_balance, r.n_clamps, r.n_caps, r.peak_balance) == (3, 1, 2, 5)


def test_clamped_closed_form_matches_sequential_fold(spark):
    """The floor-only walk lands on the states of a plain sequential
    fold on adversarial deltas: runs of debits, exact-zero landings,
    repeated minima."""
    import random

    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    rng = random.Random(7)
    rows = []
    for k in ("a", "b", "c"):
        for t in range(1, 200):
            d = rng.choice([-5, -3, -1, 0, 1, 2, 3, None, -2, 4])
            rows.append((k, t, d))
    df = spark.createDataFrame(rows, "k string, t int, d long")
    got = {
        r.k: (r.n_rows, r.final_balance, r.n_clamps, r.n_caps, r.peak_balance)
        for r in clamped_running_sum(df, ["k"], ["t"], "d", floor_value=2).collect()
    }
    assert got == _clamp_fold(rows, 2, None)


def test_clamped_running_sum_order_insensitive_input(spark):
    """Result depends only on (key, order) -- shuffling the input rows
    must not change the fold."""
    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    rows = [("a", t, (-1) ** t * (t + 3)) for t in range(1, 20)]
    df1 = spark.createDataFrame(rows, "k string, t int, d long")
    df2 = spark.createDataFrame(rows[::-1], "k string, t int, d long").repartition(7)
    r1 = clamped_running_sum(df1, ["k"], ["t"], "d").collect()[0]
    r2 = clamped_running_sum(df2, ["k"], ["t"], "d").collect()[0]
    assert (r1.final_balance, r1.n_clamps, r1.peak_balance) == (
        r2.final_balance,
        r2.n_clamps,
        r2.peak_balance,
    )


def test_clamped_key_cols_order_differs_from_schema(spark):
    """key_cols in a different order than the schema must not swap the
    output key columns (the walk emits keys positionally in key_cols
    order)."""
    from etl_onprem_to_cloud_spark.operators.timeseries import clamped_running_sum

    df = spark.createDataFrame(
        [("x", 7, 1, 5), ("x", 7, 2, -9), ("y", 8, 1, 4)],
        "a string, b int, t int, d long",
    )
    rows = clamped_running_sum(df, ["b", "a"], ["t"], "d").collect()
    got = {(r.b, r.a): (r.final_balance, r.n_clamps) for r in rows}
    assert got == {(7, "x"): (0, 1), (8, "y"): (4, 0)}
