"""Invocation scope of operator-persisted intermediates.

Dedup/ANN/graph operators persist intermediate frames (hashed shingles,
minhash signatures, LSH dots, edge lists, ...) that one query reads
several times, and dedup's star contraction backs its rounds with
``localCheckpoint`` RDDs.  Both are recorded here and live for exactly
one registered query: the registry wrapper (``operators.register``)
calls ``release()`` when the next registered query starts, and
``operators.release_caches()`` calls it on demand.  Nothing survives
into a later query, so a resident session's cached bytes are bounded
by the largest single query's intermediates — no budget, no eviction.

Releasing a persisted frame is correctness-free (a persist is a mark;
Catalyst recomputes an unpersisted frame on its next action).
Releasing a local checkpoint is not: a DataFrame backed by one is
readable only until the next registered query starts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

#: persisted frames and checkpoint RDDs of the running query
_HELD: list = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the running query.  Returns ``df``."""
    _HELD.append(df.persist())
    return df


def track(*held) -> None:
    """Record already-persisted frames or ``localCheckpoint`` RDDs (whose
    owners made the persist themselves) for release with the query."""
    _HELD.extend(held)


def release() -> None:
    """Unpersist everything recorded.  Touches no JVM state when nothing
    is held."""
    dead, _HELD[:] = _HELD[:], []
    for x in dead:
        try:
            x.unpersist(True)
        except Exception:  # session gone — the block died with the JVM
            pass
