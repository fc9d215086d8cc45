"""One driver for the iterative DataFrame loops: lineage cuts and
convergence.

A loop rebuilds its state from the previous one; without a cut
(``localCheckpoint``) round N re-plans and re-runs rounds 1..N-1.  At
bench scale a round costs its fixed per-job overhead, so the cut is the
only job a round may spend and the convergence check rides on it.

- No ``fingerprint``: the whole budget runs, every ``every``-th round
  is cut eagerly and the last round stays lazy for the caller's plan.
- ``fingerprint`` (an aggregate ``Column``; ``F.struct`` for several):
  every cut, the last round's included, is a lazy checkpoint whose one
  job also evaluates the fingerprint, and the loop stops at the first
  cut that repeats the previous cut's value.  That is exact only for a
  monotone state (labels that only fall, edge sets that only shrink),
  where an unchanged fingerprint is an unchanged state.  Convergence
  needs two cuts, so a one-round budget never reports it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame

_UNSEEN = object()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    every: int = 1,
    fingerprint: Column | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, i)`` for ``i`` in ``range(max_rounds)``
    and return ``(state, converged)``; ``converged`` is False whenever
    the budget ran out (always, without a fingerprint)."""
    last = _UNSEEN
    for i in range(max_rounds):
        state = step(state, i)
        cut = (i + 1) % every == 0
        if fingerprint is None:
            if cut and i + 1 < max_rounds:
                state = state.localCheckpoint(eager=True)
        elif cut or i + 1 == max_rounds:
            state = state.localCheckpoint(eager=False)
            value = state.agg(fingerprint).first()[0]
            if value == last:
                return state, True
            last = value
    return state, False
