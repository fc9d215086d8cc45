"""Building a query leaves shared state alone: no session-conf writes
outside ``session.py``, and no cached relation left behind."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

from test_oracle_parity import _normalize

from etl_onprem_to_cloud_spark.queries import QUERIES
from etl_onprem_to_cloud_spark.schemas import FIXTURE_TABLES

PKG = Path(__file__).resolve().parent.parent / "etl_onprem_to_cloud_spark"


def _library_calls(match) -> list[str]:
    """``file:line`` of every call in the library whose ``func`` node
    satisfies ``match``."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and match(path, node.func):
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    return found


def test_only_session_module_sets_conf():
    """No ``<x>.conf.set(...)`` call in the library outside session.py."""
    assert _library_calls(
        lambda path, f: not (path.name == "session.py" and path.parent == PKG)
        and isinstance(f, ast.Attribute)
        and f.attr == "set"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    ) == []


def test_library_never_caches():
    """No ``.persist(...)`` or ``.cache(...)`` call in the library: an
    intermediate is reused through a ``localCheckpoint`` cut, whose
    blocks go when the DataFrame does, so no caller must release it."""
    assert _library_calls(
        lambda path, f: isinstance(f, ast.Attribute)
        and f.attr in ("persist", "cache")
    ) == []


def test_queries_leave_the_cache_manager_empty(spark, sf_dir):
    """Collecting queries that reuse intermediates registers nothing
    with the session's cache manager."""
    spark.catalog.clearCache()
    for name in (
        "q_dedup_minhash_lsh",
        "q_retrieval_ndcg_eval",
        "q_ml_minhash_lsh_pairs",
        "q_srp_near_dup_pairs",
    ):
        QUERIES[name].fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


def test_concurrent_queries_match_sequential(spark, sf_dir):
    """Two checkpointing queries built and run in two threads at once
    give the results they give one after the other."""
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

    threads = [threading.Thread(target=worker, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == want
