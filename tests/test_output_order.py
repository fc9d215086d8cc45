"""Output order of the queries that sort without an ``orderBy``.

``q_ewma_user_values``, ``q_clamped_balance_users`` and
``q_weighted_median_price`` range-partition their input below the
pandas stage and end with a local sort, so their collected rows come
in ORDER BY order with no range exchange above the Python node.  Oracle
parity sorts rows before comparing, so it cannot see order; these
tests can.  They run in a child session with AQE partition coalescing
off, so the range exchange keeps several partitions and the order
really spans partitions."""

from __future__ import annotations

import os

import pytest

from etl_onprem_to_cloud_spark.queries import QUERIES


@pytest.fixture(scope="module")
def sf0_01_dir(sf_dir):
    """The sf0.01 fixture beside the suite's default scale."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def uncoalesced(spark):
    child = spark.newSession()
    child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    return child


@pytest.mark.parametrize("name,order_by", [
    ("q_ewma_user_values", ("user_id", "event_id")),
    ("q_clamped_balance_users", ("user_id",)),
    ("q_weighted_median_price", ("l_returnflag",)),
])
def test_rows_collect_in_order_by_order(name, order_by, uncoalesced, sf0_01_dir):
    df = QUERIES[name].fn(uncoalesced, sf0_01_dir)
    assert df.rdd.getNumPartitions() > 1
    keys = [tuple(r[c] for c in order_by) for r in df.collect()]
    assert len(keys) > 1
    assert keys == sorted(keys)


def test_ewma_null_keys_order_across_partitions(uncoalesced):
    """NULL keys sort first, as ``orderBy`` puts them, and still share
    one recurrence when the output spans several partitions."""
    from etl_onprem_to_cloud_spark.operators.timeseries import ewma

    rows = [
        (k, t, float((k or 0) * 7 + t))
        for k in [None, *range(1, 25)]
        for t in range(1, 6)
    ]
    df = uncoalesced.createDataFrame(
        rows[::-1], "k int, t int, v double"
    ).repartition(4)
    out = ewma(df, ["k"], ["t"], "v", 0.5).sortWithinPartitions("k", "t")
    assert out.rdd.getNumPartitions() > 1
    got = [(r.k, r.t, r.ewma) for r in out.collect()]
    assert [(k, t) for k, t, _ in got] == [(k, t) for k, t, _ in rows]
    nulls = [e for k, _, e in got if k is None]
    assert nulls == [1.0, 1.5, 2.25, 3.125, 4.0625]
