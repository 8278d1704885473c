"""Pinning frames in the block manager and freeing them again.

``df.localCheckpoint(eager=True)`` parks the frame's rows in the block
manager as a checkpointed RDD whose storage is reclaimed only when the
JVM ContextCleaner eventually notices the RDD become unreachable —
fine for a short-lived job, wrong for the long-lived shapes this
engine runs (a resident query session re-invoking builders, a
long-running ingest stream folding epochs for its whole lifetime).
Every checkpoint in the package takes one of three shapes, and the two
that free their blocks do it through :func:`release_checkpoint`:

* lazy ``plans.common.materialize`` — a compute-once barrier for
  frames with several consumers inside one builder, whose blocks are
  left to the ContextCleaner (or which is written to a durable
  directory when one is configured);
* keyed ``plans.common.snapshot_result`` — a builder's RESULT frame,
  kept per query key and released when the next invocation under the
  same key replaces it, so a resident session holds O(1) snapshots
  per query;
* scoped :func:`pinned` — a frame pinned for the length of a ``with``
  block and released on exit (the epoch folds and label refresh of
  ``streaming.dedup_stream``, per-batch frames with two consumers, a
  stream's fixed quantizer), whose blocks are dead the moment the
  block's work commits.

Leaf module by design: it imports nothing from the package, so every
layer (plans, streaming, operators) can use it without cycles.
"""

from __future__ import annotations

import contextlib
import warnings
from collections.abc import Iterator

from pyspark.sql import DataFrame

# Warn-once per DISTINCT degradation cause: a transient unpersist
# failure must not spend the API-unreachable warning slot (or vice
# versa) — each misses for a different reason and each deserves its
# one visible report.
_WARNED_CAUSES: set[str] = set()


@contextlib.contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """Eagerly ``localCheckpoint`` ``df`` for the ``with`` block (one
    job computes it into the block manager; the yielded frame reads
    those blocks with its lineage cut) and release the blocks on exit,
    error or not: nothing may use the frame (or a plan built over it)
    after the block, and a retry after an error rebuilds it from its
    sources."""
    snap = df.localCheckpoint(eager=True)
    try:
        yield snap
    finally:
        release_checkpoint(snap)


def checkpoint_rdd_handle(df: DataFrame):
    """The JVM handle of the checkpointed RDD backing an eagerly
    ``localCheckpoint``'ed frame (its analyzed plan is a LogicalRDD
    wrapping exactly that RDD), or ``None`` where the JVM internals
    aren't reachable (e.g. Spark Connect, where ``_jdf`` is absent).
    """
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def release_checkpoint(df: DataFrame) -> bool:
    """Free the block-manager storage behind an eager
    ``localCheckpoint`` NOW (non-blocking unpersist) instead of when
    the ContextCleaner gets around to it. Returns ``True`` when the
    blocks were handed to unpersist.

    The caller must be done with ``df``: any later action on the frame
    (or on a plan referencing it) fails with a missing-block error.

    Degradation is VISIBLE (one RuntimeWarning per process per cause —
    handle-unreachable and unpersist-failed are distinct causes, so a
    transient unpersist hiccup cannot spend the API-capability
    warning's slot): on an API without the internal handle a
    long-lived stream would otherwise silently revert to cleaner-based
    accumulation, the exact behavior this function exists to remove.
    """
    handle = checkpoint_rdd_handle(df)
    if handle is None:
        _warn_once(
            "handle",
            "release_checkpoint: checkpointed-RDD handle not reachable "
            "on this Spark API; localCheckpoint blocks will accumulate "
            "until the JVM ContextCleaner reclaims them",
        )
        return False
    try:
        handle.unpersist(False)
        return True
    except Exception as ex:
        _warn_once(
            "unpersist",
            "release_checkpoint: unpersist failed "
            f"({type(ex).__name__}); this frame's localCheckpoint "
            "blocks are left to the JVM ContextCleaner",
        )
        return False


def _warn_once(cause: str, message: str) -> None:
    if cause in _WARNED_CAUSES:
        return
    _WARNED_CAUSES.add(cause)
    warnings.warn(message, RuntimeWarning, stacklevel=3)
