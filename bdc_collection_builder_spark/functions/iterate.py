"""The one iteration primitive for construction-time DataFrame loops.

Iterative algorithms (PageRank, HITS, label propagation, connected
components, SCC coloring, binary lifting, BPE training) build their
next state from the previous one; naively looping grows the logical
plan linearly in the iteration count (~16 shuffle nodes per PageRank
round — see PLANMAP fingerprints), so at production depth (tens of
rounds) analysis time and lineage-recovery cost explode even though
the per-round physical work is constant.

:func:`iterate` owns every such loop's control:

- the checkpoint schedule: an eager ``localCheckpoint`` every
  ``checkpoint_every`` rounds, so the physical plan of the state stays
  bounded by ``checkpoint_every`` rounds' worth of operators no matter
  how deep the iteration goes;
- the change test: with ``changed`` set, the loop runs to a fixpoint,
  testing the frame it just checkpointed and stopping at the first
  round whose test is false;
- the ``max_rounds`` cap;
- the round count. Each round run adds one to a thread-local counter;
  scripts/gen_planmap.py brackets each query's construction with
  :func:`reset`/:func:`taken` to source PLANMAP's ``rounds`` column,
  because rounds executed eagerly behind checkpoints never appear in
  the fingerprinted final plan.

Semantics are IDENTICAL to the unrolled loop: ``localCheckpoint`` only
materializes and truncates lineage; it never changes values. (It does
trade lineage-based recomputation for executor-block replication — the
standard cost of the pattern; for durable production checkpoints swap
in ``checkpoint()`` against a checkpoint dir.)
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

_local = threading.local()


def reset() -> None:
    """Zero the round counter (gen_planmap calls this before each
    query)."""
    _local.rounds = 0


def taken() -> int:
    """Rounds run since the last :func:`reset`."""
    return getattr(_local, "rounds", 0)


def note_rounds(n: int) -> None:
    """Record ``n`` construction rounds run outside :func:`iterate` —
    for a plan that replaced its loop with one bounded pass but still
    executes that pass eagerly."""
    _local.rounds = taken() + int(n)


def iterate(state: DataFrame,
            step: Callable[[DataFrame, int], DataFrame],
            max_rounds: int | None,
            checkpoint_every: int = 5,
            changed: Callable[[DataFrame], bool] | None = None
            ) -> DataFrame:
    """Apply ``step`` to ``state`` up to ``max_rounds`` times,
    truncating lineage every ``checkpoint_every`` rounds with an eager
    ``localCheckpoint``.

    ``step(state, i)`` receives the current state and the 0-based round
    index and returns the next state. ``checkpoint_every <= 0``
    disables truncation (pure unrolled loop — useful for bit-equality
    tests).

    Without ``changed`` the loop runs exactly ``max_rounds`` rounds.
    With it, ``changed(state)`` runs on each freshly checkpointed state
    and the loop stops at the first round where it returns False;
    ``max_rounds=None`` then means no cap. A change test needs a
    checkpoint schedule, since it is only ever run on a checkpoint.

    The state after the final round is NOT checkpointed unless a change
    test has to read it: callers usually apply one more projection and
    hand the frame to the harness, so forcing an extra materialization
    here would waste a job.
    """
    if changed is None and max_rounds is None:
        raise ValueError("iterate: a loop without a change test needs "
                         "max_rounds")
    if changed is not None and checkpoint_every <= 0:
        raise ValueError("iterate: a change test needs checkpoint_every "
                         ">= 1")
    i = 0
    while max_rounds is None or i < max_rounds:
        state = step(state, i)
        i += 1
        note_rounds(1)
        if i != max_rounds and checkpoint_every > 0 \
                and i % checkpoint_every == 0:
            state = state.localCheckpoint(eager=True)
            if changed is not None and not changed(state):
                break
    return state
