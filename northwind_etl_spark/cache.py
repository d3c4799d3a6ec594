"""Tracked persist() for shared multi-consumer plan stages.

Several operators persist an intermediate stage that multiple plan
branches consume (the corpus tokenization in ``operators/text.py``, the
shingle/signature stages in ``operators/dedup.py``, the normalized-name
projection in ``operators/fuzzy.py``).  Spark's cache manager keys these
on the canonicalized plan, so repeated queries over the SAME corpus
share one entry — but a long-lived session running over MANY distinct
corpora (or parameterizations that change the plan) accumulates one
entry per plan indefinitely, since nothing ever unpersists them.

``persist_stage`` is a drop-in ``df.persist()`` that also registers the
DataFrame here; ``release_stages()`` unpersists everything registered —
call it between corpora in a multi-corpus session.  The correctness
path is unaffected: a released stage is recomputed, never wrong.

``checkpoint_stage`` is the one lineage truncation every iterative loop
uses.  Checkpoints are not tracked: a freed checkpoint cannot be
recomputed, so releasing one would break that contract.

``fixed_point`` is the one loop the iterative graph operators share
(PageRank, LPA, HITS, k-core, BFS, SSSP, connected components).  It
owns one rule: after every round, every DataFrame of the carried state
goes through ``checkpoint_stage`` — truncate when the subtree is the
cost (OPTIMIZATION_r13 §1).  Without the cut, round k's plan embeds all
k−1 predecessors and Catalyst re-analyzes the whole chain every round;
a persist would dedupe execution but keep the subtree.  The checkpoint
is eager only when a ``done`` probe reads the state that round (the
checkpoint is then the round's one job and the probe scans its
blocks); otherwise it is lazy and materializes inside the next round's
job.  Loop-invariant inputs are the caller's: materialize them once,
before the loop (tests/iterative_lint.py asserts it) — as a lazy
checkpoint when rounds join them, for the same reason: a persist
dedupes execution, but every round would still re-embed its upstream
plan for Catalyst to re-analyze (a persisted isolated set took LPA's
committed plan from 578 to 2343 Exchange nodes).
"""

from __future__ import annotations

import itertools
import threading
from typing import Callable

from pyspark.sql import DataFrame

# Strong references, deliberately: the Spark cache entry outlives the
# operator-local DataFrame object that created it (the cache manager
# keys on the canonicalized plan), so tracking must too — a weak ref
# would be collected the moment the operator returns, leaving the
# entry unreleasable.  A DataFrame handle is a few plan objects, not
# data; the list stays small (one entry per distinct persisted plan).
# All registry mutations hold _LOCK: Spark drivers routinely run
# queries from several threads (one per concurrent job), and unlocked
# pop/append races would drop or double-release entries.  unpersist()
# itself runs outside the lock — it is a JVM round-trip.
_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()


def persist_stage(df: DataFrame) -> DataFrame:
    """persist() a shared stage and track it for later release."""
    df = df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def checkpoint_stage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: ``checkpoint`` to the session's
    checkpoint dir if one is set, else ``localCheckpoint``.

    Local checkpoint blocks live on one executor and cannot be
    recomputed once the lineage is cut, so an executor loss fails the
    job; a checkpoint dir on a fault-tolerant store (HDFS, object
    store) trades one replicated write per checkpoint for surviving
    it.  The dir is read at call time, so setting it is the only switch.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


State = DataFrame | tuple  # a DataFrame, or a tuple of DataFrames


def fixed_point(
    state: State,
    step: Callable[[State], State],
    *,
    rounds: int | None = None,
    done: Callable[[State], bool] | None = None,
) -> State:
    """Iterate ``state = step(state)`` under the module's truncation
    rule; stop after exactly ``rounds`` rounds, or at the first state
    ``done`` accepts.  With ``done``, running out of ``rounds`` raises
    RuntimeError: a normal return is the convergence certificate."""
    if rounds is None and done is None:
        raise ValueError("fixed_point needs rounds, done, or both")
    eager = done is not None
    for _ in range(rounds) if rounds is not None else itertools.count():
        state = step(state)
        if isinstance(state, tuple):
            state = tuple(checkpoint_stage(df, eager=eager) for df in state)
        else:
            state = checkpoint_stage(state, eager=eager)
        if done is not None and done(state):
            return state
    if done is not None:
        raise RuntimeError(
            f"fixed_point: state still changing after {rounds} rounds —"
            " the input needs more rounds than the bound; raise it"
        )
    return state


def _drain_all() -> list[DataFrame]:
    with _LOCK:
        drained = _TRACKED[:]
        _TRACKED.clear()
    return drained


def _unpersist_all(dfs: list[DataFrame]) -> int:
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return n


def release_stages() -> int:
    """Unpersist every tracked stage; returns how many were released.

    Blocking=False (Spark default): blocks are dropped asynchronously,
    callers don't wait on executor round-trips.
    """
    return _unpersist_all(_drain_all())
