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
"""

from __future__ import annotations

import threading

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
