"""Building a query leaves shared state alone: no session-conf writes
outside ``session.py``, and pins belong to the thread that made them."""

from __future__ import annotations

import ast
import os
import sys
import threading
from pathlib import Path

from test_oracle_parity import _normalize

from etl_onprem_to_cloud_spark.pinned import pin, release_pinned
from etl_onprem_to_cloud_spark.queries import QUERIES
from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES

PKG = Path(__file__).resolve().parent.parent / "etl_onprem_to_cloud_spark"


def test_only_session_module_sets_conf():
    """No ``<x>.conf.set(...)`` call in the library outside session.py."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "session.py" and path.parent == PKG:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr == "set"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert found == []


def test_builds_and_table_loads_write_no_session_conf(spark, sf_dir, monkeypatch):
    """Loading every table through a cold table cache and building two
    loops that store checkpoints with ``ckpt_partitioned`` make no
    ``RuntimeConfig.set`` call on the shared session."""
    from pyspark.sql.conf import RuntimeConfig

    from etl_onprem_to_cloud_spark.sources import io

    shared = spark._jsparkSession.conf()
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        if self._jconf.equals(shared):
            calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(io, "_TABLE_CACHE", {})
    for t in FIXTURE_TABLES:
        io.load_table(spark, sf_dir, t)
    for name in ("q_lpa_communities", "q_bellman_ford_cheapest"):
        QUERIES[name].fn(spark, sf_dir)
    assert calls == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_pins_belong_to_the_pinning_thread(spark, sf_dir):
    """A registered query call and a release in another thread leave
    this thread's pin cached and registered."""
    mine = pin(spark.range(10))
    mine.count()

    def worker():
        QUERIES["q01_pricing_summary"].fn(spark, sf_dir).collect()
        release_pinned()

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert mine.storageLevel.useMemory
    assert release_pinned() == 1


def test_each_thread_releases_exactly_its_own_pins(spark):
    """More threads than cores pin and release at once, with a short
    switch interval: each release returns that thread's own count."""
    counts, n_threads = {}, 2 * (os.cpu_count() or 4)

    def worker(i):
        for _ in range(i + 1):
            pin(spark.range(1))
        counts[i] = release_pinned()

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert counts == {i: i + 1 for i in range(n_threads)}


def test_concurrent_queries_match_sequential(spark, sf_dir):
    """Two pinning/checkpointing queries built and run in two threads at
    once give the results they give one after the other."""
    names = ("q_lpa_communities", "q_retrieval_ndcg_eval")

    def run(name):
        df = QUERIES[name].fn(spark, sf_dir)
        return _normalize([tuple(r) for r in df.collect()], df.columns)

    want = {name: run(name) for name in names}
    got, errors = {}, []

    def worker(name):
        try:
            got[name] = run(name)
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)
        finally:
            release_pinned()

    threads = [threading.Thread(target=worker, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == want
