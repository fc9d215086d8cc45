"""Persist-with-release registry, one per thread.

Query functions return LAZY DataFrames, so one that persists an
intermediate (shared by several downstream branches the planner won't
exchange-reuse) cannot unpersist it itself -- the cache must survive
until the caller materializes the result.  Left unreleased, those
cached relations accumulate across a long-lived session and hold
executor memory indefinitely.

``pin(df)`` is ``df.persist()`` plus registration in the calling
thread's list.  Every call of a registered query releases that thread's
earlier pins first (``queries.query``), so a harness that calls queries
one after another needs no release hook; ``release_pinned()`` drains
the caller's list explicitly (perfbench after every operation, the test
suite after every test).  A thread never sees or releases another
thread's pins.  Releasing is safe at any point after the action that
populated the cache -- unpersist is non-blocking and recomputation is
always possible, so a missed release costs memory, never correctness.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Pins(threading.local):
    def __init__(self) -> None:
        self.frames: list[DataFrame] = []


_PINNED = _Pins()


def pin(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` (optionally at ``storage_level``) and register it
    for the calling thread's next ``release_pinned()`` sweep."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.frames.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every DataFrame the calling thread pinned; returns how
    many were released."""
    pins = _PINNED.frames
    n = len(pins)
    while pins:
        try:
            pins.pop().unpersist()
        except Exception:
            # A stopped/replaced session makes unpersist moot; the
            # registry must still drain so the next session starts clean.
            pass
    return n
