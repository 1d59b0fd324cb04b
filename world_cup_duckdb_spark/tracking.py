"""Scoped-release registry for per-query materialized state.

``queries/__init__.py:tracked_persist`` scopes DataFrame ``persist()``
lifetimes to the current registry query; this module is the same idea
for state the DataFrame API can't release — e.g. the block-cached RDD
behind a ``localCheckpoint`` (``df.unpersist()`` only touches the SQL
cache manager, never checkpoint blocks). Operators register a release
callback at materialization time; ``release_all`` runs (and drops) every
callback when the NEXT registry query begins, so executor memory held by
checkpoint blocks is bounded to one query's working set across the round
driver's multi-hundred-query loop instead of waiting on JVM GC +
ContextCleaner (ADVICE r7, operators/relational.py:_ranged_offsets).

Lives in its own leaf module so ``operators/*`` can register without
importing the query registry (queries → operators → tracking; no cycle).

Same single-threaded concurrency contract as ``_TRACKED_PERSISTS``:
the list itself is lock-guarded, but release timing assumes the
build-then-collect loop the parity tests and perfbench/ run.
Releasing a checkpoint a plan still needs FAILS LOUDLY on next use
(checkpoint blocks are not recomputable) rather than silently returning
wrong rows — and no registered caller builds two queries before
collecting either.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

_RELEASERS: list[Callable[[], None]] = []
_LOCK = threading.Lock()


def track_release(fn: Callable[[], None]) -> None:
    """Register a callback releasing query-scoped executor state; it runs
    once, when the next registered query begins."""
    with _LOCK:
        _RELEASERS.append(fn)


def release_all() -> None:
    """Run and drop every registered release callback (swallowing
    errors — a stopped session has nothing left to release)."""
    while True:
        with _LOCK:
            if not _RELEASERS:
                return
            fn = _RELEASERS.pop()
        try:
            fn()
        except Exception:
            pass
