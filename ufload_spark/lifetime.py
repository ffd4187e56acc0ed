"""The one owner of persisted and checkpointed frames.

:func:`keep` persists a frame (the cache keeps its outputPartitioning) and
:func:`cut` localCheckpoints it (the lineage is truncated, and so is the
partitioning — verify trap r10(c); never swap one for the other without
measuring). Either way the frame belongs to the innermost :func:`scope`
open on the current thread, which releases it on exit; with no scope open
it stays unowned and lives as long as the session. ``DataFrame.unpersist``
does not free a checkpoint: its RDD is released through the frame's
``LogicalRDD``.

The lifetime rule, one line per case:

1. A frame read only by eager work inside a call is released at the call's
   own scope exit (the gates' segment checkpoint, superseded CC chunks).
2. A query that must be leak-free when called bare opens its own scope and
   publishes what it returns (the bucketed graph tiers).
3. Otherwise the frames belong to the caller's scope (``harness.run``, the
   tests).
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

#: the scopes open on this thread, innermost last; each owns a list of
#: ``(frame, checkpointed)`` entries
_SCOPES: ContextVar[tuple] = ContextVar("lifetime_scopes", default=())


def _own(df: DataFrame, checkpointed: bool) -> DataFrame:
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append((df, checkpointed))
    return df


def keep(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost open scope."""
    return _own(df.persist(), False)


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the innermost open scope."""
    return _own(df.localCheckpoint(eager=eager), True)


def hand_up(df: DataFrame) -> DataFrame:
    """Move ``df`` from the innermost scope to the one around it (unowned
    when there is none): the result a call returns out of its own scope."""
    *outer, inner = _SCOPES.get()
    entry = inner.pop(next(i for i, (f, _) in enumerate(inner) if f is df))
    if outer:
        outer[-1].append(entry)
    return df


@contextmanager
def scope():
    """Own every frame :func:`keep` / :func:`cut` make inside the block
    (on this thread) and release them all, newest first, on exit."""
    owned: list = []
    token = _SCOPES.set(_SCOPES.get() + (owned,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df, checkpointed in reversed(owned):
            df.unpersist()
            if checkpointed:
                # through the context, not RDD.unpersist, which logs a
                # "lineage has been truncated" warning for every checkpoint
                rdd = df._jdf.queryExecution().logical().rdd()
                rdd.context().unpersistRDD(rdd.id(), False)
