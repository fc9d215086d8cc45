"""Persist-with-release registry.

Query functions return LAZY DataFrames, so one that persists an
intermediate (shared by several downstream branches the planner won't
exchange-reuse) cannot unpersist it itself -- the cache must survive
until the caller materializes the result.  Left unreleased, those
cached relations accumulate across a 200-query bench/rehearsal run on
the shared long-lived session and hold executor memory indefinitely.

``pin(df)`` is ``df.persist()`` plus registration; harnesses call
``release_pinned()`` after materializing each query's result (bench.py,
the scripts/ tools, perfbench, and the test suite all do).  Releasing is
safe at any point after the action that populated the cache -- Spark
unpersist is non-blocking by default and recomputation is always
possible, so a missed release costs memory, never correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` (optionally at ``storage_level``) and register it
    for the next ``release_pinned()`` sweep."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every pinned DataFrame; returns how many were released."""
    n = len(_PINNED)
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:
            # A stopped/replaced session makes unpersist moot; the
            # registry must still drain so the next session starts clean.
            pass
    return n
