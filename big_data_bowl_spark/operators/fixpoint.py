"""The two loop drivers, so how a loop cuts lineage is decided in one place.

- :func:`iterate` runs the fixpoint loops (the graph loops, Lloyd, the
  dedup components, the Markov power iteration): a whole-state step per
  round behind a lazy pin.
- :func:`greedy` runs the greedy argmax selectors (set cover, weighted
  cover, k-center, MMR): one driver-side pick per round, one ``first()``
  each."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def greedy(state: DataFrame, k: int,
           rank: Callable[[DataFrame, list[int]], DataFrame], score: str,
           carry: tuple[str, ...] = (),
           update: Callable[[DataFrame, int], DataFrame] | None = None,
           empty_error: str | None = None) -> DataFrame:
    """Pick up to ``k`` ids greedily, one per round.

    Each round folds the last pick into the state with
    ``update(state, last_id)`` (from the second round on), ranks the
    candidates with ``rank(state, picked_ids)`` (a frame of long
    columns ``__id``, ``score`` and ``carry``), drops the ids already
    picked and takes the highest score, ties to the lowest id, with one
    ``first()`` of ``max(struct(score, -__id, *carry))``.  A null score
    ranks below every non-null one.  The loop stops early when no
    candidate is left; with ``empty_error`` set, a first round with no
    candidate raises ``ValueError(empty_error)`` instead.

    The updated state is pinned with ``localCheckpoint(eager=True)``:
    the round's own action reads it at once.  Only the picks cross to
    the driver.  Returns (sel_order 1..≤k, id, ``score``, *``carry``),
    all long."""
    picks: list[tuple] = []
    for r in range(1, k + 1):
        ids = [p[1] for p in picks]
        if ids and update is not None:
            state = update(state, ids[-1]).localCheckpoint(eager=True)
        cand = rank(state, ids)
        if ids:
            cand = cand.filter(~F.col("__id").isin(ids))
        top = (cand.agg(F.max(F.struct(F.col(score),
                                       (-F.col("__id")).alias("__nid"),
                                       *carry)).alias("m"))
                   .select("m.*").first())
        if top is None or top["__nid"] is None:
            if r == 1 and empty_error is not None:
                raise ValueError(empty_error)
            break
        picks.append((r, -top["__nid"], top[score],
                      *(top[c] for c in carry)))
    cols = ("sel_order", "id", score, *carry)
    return state.sparkSession.createDataFrame(
        picks, ", ".join(f"{c} long" for c in cols))
