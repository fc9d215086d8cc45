"""operators/fixpoint.iterate: convergence, budget exhaustion, and the
lineage cuts it spends, on spark.range toy states; plus job bounds on
the builds of two fingerprinted queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_onprem_to_cloud_spark.operators.fixpoint import iterate
from etl_onprem_to_cloud_spark.pinned import release_pinned
from etl_onprem_to_cloud_spark.queries import QUERIES


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _top_operator(df) -> str:
    return df._jdf.queryExecution().logical().getClass().getSimpleName()


def _draining(rounds: list[int]):
    """Step that lowers every id by 3, floored at 0: range(10) reaches
    its fixpoint (all zeros) after round 3."""

    def step(df, i):
        rounds.append(i)
        return df.select(F.greatest(F.col("id") - 3, F.lit(0)).alias("id"))

    return step


def test_stops_at_first_repeated_fingerprint(spark):
    rounds: list[int] = []
    state, converged = iterate(
        spark.range(10), _draining(rounds), 20, fingerprint=F.sum("id")
    )
    # Rounds 0..2 change the sum; round 3 repeats round 2's.
    assert converged and rounds == [0, 1, 2, 3]
    assert {r.id for r in state.collect()} == {0}


def test_budget_exhausted_is_not_converged(spark):
    rounds: list[int] = []
    state, converged = iterate(
        spark.range(10), _draining(rounds), 3, fingerprint=F.sum("id")
    )
    assert not converged and rounds == [0, 1, 2]
    assert {r.id for r in state.collect()} == {0}


def test_unfingerprinted_cuts_eagerly_and_leaves_last_round_lazy(spark):
    def step(df, _):
        return df.select((F.col("id") + 1).alias("id"))

    (state, converged), jobs = _jobs(
        spark,
        "test_fixpoint_unfingerprinted",
        lambda: iterate(spark.range(4), step, 5, every=2),
    )
    assert not converged
    assert jobs == 2  # cuts after rounds 2 and 4
    assert _top_operator(state) == "Project"
    assert sorted(r.id for r in state.collect()) == [5, 6, 7, 8]


def test_fingerprinted_cuts_last_round_too(spark):
    def step(df, _):
        return df.select((F.col("id") + 1).alias("id"))

    state, converged = iterate(
        spark.range(4), step, 5, every=2, fingerprint=F.sum("id")
    )
    assert not converged
    assert _top_operator(state) == "LogicalRDD"
    assert sorted(r.id for r in state.collect()) == [5, 6, 7, 8]


@pytest.mark.parametrize(
    "name, max_jobs",
    [("q_bellman_ford_cheapest", 21), ("q_dedup_clusters_star", 35)],
)
def test_fingerprinted_query_builds_bounded_jobs(name, max_jobs, spark, sf_dir):
    """The fingerprint rides on each round's one cut: Bellman-Ford takes
    its improved flag from the round's min aggregate, and star CC spends
    no job fingerprinting its input."""
    _, jobs = _jobs(
        spark, f"test_fixpoint_{name}", lambda: QUERIES[name].fn(spark, sf_dir)
    )
    release_pinned()
    assert jobs <= max_jobs, f"{name}: {jobs} build jobs > {max_jobs}"
