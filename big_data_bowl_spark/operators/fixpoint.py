"""The one fixpoint driver: every iterative DataFrame operator (the graph
loops, Lloyd, the dedup components, the Markov power iteration) runs its
rounds here, so how a loop cuts lineage is decided in one place."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
            rounds: int,
            until: Callable[[DataFrame], bool] | None = None) -> DataFrame:
    """Apply ``step`` up to ``rounds`` times, pinning each new state with
    ``localCheckpoint(eager=False)`` so plan depth stays O(1), and stop
    early once ``until(state)`` is true (checked after every round).

    The pin is lazy only in its final stage: under AQE, defining it runs
    every shuffle and broadcast stage below it, and only the last stage
    waits for the first action that reads the state.  On q_pagerank's
    sf0.01 edges, building pagerank with iters 1/3/5 runs 21/37/53 jobs
    before any action, kcore with rounds 1/3/5 runs 10/16/22, and the
    terminal action of kcore(rounds=3) runs 2.  On a cluster, swap in
    reliable checkpointing here."""
    for _ in range(rounds):
        state = step(state).localCheckpoint(eager=False)
        if until is not None and until(state):
            break
    return state
