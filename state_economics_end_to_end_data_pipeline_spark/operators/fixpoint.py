"""Round control shared by the iterative entries' loops.

Iterative graph and dedup entries run their loop while the DataFrame is
built: each round joins or aggregates over a staged edge relation and
is materialized with ``localCheckpoint``, so the plan never grows with
the round count (a lazy unroll duplicates the join subtree
exponentially -- measured on ``graph_bfs_hops``).  What every such
loop shares lives here, once:

- ``fixpoint`` runs rounds until a convergence value stops changing
  (or an ``until`` test holds), raises ``RuntimeError`` at its cap
  instead of publishing a partial result, and records the number of
  CHANGING rounds in ``LAST_ROUNDS``; ``repeat`` runs a fixed number of
  rounds.
- Each round's jobs carry the job description ``<name>/round <k>``;
  the caller's description is restored after the round.  The job group
  is never touched: it belongs to whoever runs the entry.
- ``observe`` checkpoints a relation and reads a scalar aggregate of it
  on the same job, so a convergence test costs no extra action.
- ``HOOK`` is offered each round body before its checkpoint severs the
  lineage (``tools/loop_plan_dump.py`` sets it to dump round plans).
  Unset, it costs one ``is None`` test per round.
- ``released`` unpersists staged relations however the block exits;
  ``Round.hold`` does the same for a relation staged inside a round.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable, Optional

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation

# changing rounds of the last run of each keyed loop, for the bench
# record and the scale probes: the at-scale cost of an iterative entry
# is rounds x per-round shuffle, so round growth with graph depth is
# the number to watch (plans.graph_analytics exports this dict)
LAST_ROUNDS: dict[str, int] = {}

HOOK: Optional[Callable[[str, DataFrame], None]] = None

_DESCRIPTION = "spark.job.description"


def emit(tag: str, body: DataFrame) -> None:
    """Offer a round body to ``HOOK`` (no-op when none is set)."""
    if HOOK is not None:
        HOOK(tag, body)


def observe(df: DataFrame, measure: Column) -> tuple[DataFrame, Any]:
    """``df.localCheckpoint()`` and the value of the scalar aggregate
    ``measure`` over its rows, observed on the checkpoint's own job."""
    obs = Observation()
    out = df.observe(obs, measure.alias("value")).localCheckpoint()
    return out, obs.get["value"]


@contextmanager
def released(*staged: DataFrame):
    """Unpersist ``staged`` when the block exits, however it exits."""
    try:
        yield
    finally:
        for df in staged:
            df.unpersist()


class Round:
    """Round ``number`` (from 1) of the loop ``name``."""

    def __init__(self, name: str, number: int, held: list):
        self.name = name
        self.number = number
        self._held = held

    def emit(self, body: DataFrame) -> None:
        emit(f"{self.name}_round", body)

    def checkpoint(self, body: DataFrame) -> DataFrame:
        self.emit(body)
        return body.localCheckpoint()

    def observe(self, body: DataFrame, measure: Column) -> tuple[DataFrame, Any]:
        self.emit(body)
        return observe(body, measure)

    def hold(self, staged: DataFrame, carried: bool = False) -> DataFrame:
        """Release ``staged`` when this round ends -- or, if it is
        ``carried`` into the next round's state, when that round ends.
        The loop releases whatever is still held when it stops."""
        self._held.append((self.number + 1 if carried else self.number, staged))
        return staged


def _release(held: list, through: int | None = None) -> None:
    """Unpersist held relations whose last reading round is
    ``through`` or earlier (all of them when ``through`` is None)."""
    for entry in list(held):
        if through is None or entry[0] <= through:
            entry[1].unpersist()
            held.remove(entry)


def _round(name: str, number: int, step, state, held: list):
    sc = SparkContext.getOrCreate()
    outer = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, f"{name}/round {number}")
    try:
        return step(state, Round(name, number, held))
    finally:
        sc.setLocalProperty(_DESCRIPTION, outer)
        _release(held, through=number)


def fixpoint(
    name: str,
    state,
    value,
    step: Callable[[Any, Round], tuple[Any, Any]],
    *,
    cap: int,
    until: Callable[[Any], bool] | None = None,
    rounds_key: str | None = None,
):
    """Run ``state, value = step(state, rnd)`` to convergence and return
    ``(state, changing rounds)``.

    Without ``until`` the loop has converged when a round leaves
    ``value`` (a monotone potential: a label sum, a pair count)
    unchanged; that round's state is returned and the round is not
    counted.  With ``until`` it has converged once ``until(value)``
    holds, tested before each round, so every round run counts.  A loop
    that needs more than ``cap`` rounds raises ``RuntimeError``.  With
    ``rounds_key`` the count is stored in ``LAST_ROUNDS``."""
    held: list = []
    rounds = 0
    try:
        while until is None or not until(value):
            if rounds == cap:
                raise RuntimeError(
                    f"{name}: not converged after {cap} rounds -- raise the "
                    "cap rather than publish a partial result"
                )
            state, new_value = _round(name, rounds + 1, step, state, held)
            if until is None and new_value == value:
                break
            value = new_value
            rounds += 1
    finally:
        _release(held)
    if rounds_key is not None:
        LAST_ROUNDS[rounds_key] = rounds
    return state, rounds


def repeat(name: str, state, step: Callable[[Any, Round], Any], rounds: int):
    """Run ``state = step(state, rnd)`` exactly ``rounds`` times."""
    held: list = []
    try:
        for number in range(1, rounds + 1):
            state = _round(name, number, step, state, held)
    finally:
        _release(held)
    return state
