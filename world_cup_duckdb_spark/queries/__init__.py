"""Query registry: one entry per operator in SURVEY.md §2 (+ extensions).

Each entry pairs a Spark DataFrame implementation with the equivalent
ANSI/DuckDB SQL oracle. tests/test_parity.py (like any caller of
``__spark_entry__``) runs both on the same parquet tables and compares row count + schema +
order-insensitive value hash — the engine's primary correctness gate
(SURVEY.md §5).

Determinism rules every query follows:
- money/double aggregation goes through decimal (functions.dec) so results
  are independent of partition/accumulation order, then casts to double;
- oracle SQL casts aggregates to the Spark result types (BIGINT counts,
  DOUBLE money) so schemas line up;
- every computed column is aliased identically on both sides;
- rankings/limits always carry an explicit total tie-break order.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, Query] = {}

#: Per-query persisted intermediates awaiting release. A long-lived
#: session (a parity sweep evaluates hundreds of registry queries
#: back to back) would otherwise accumulate every query's cached
#: relations in executor storage memory. Entries are released when the
#: NEXT registered query starts building — by which point the previous
#: query's result has been materialized by the caller. (Unpersisting a
#: relation that still backs an uncollected plan is always safe in
#: Spark — it recomputes — so an unusual build-two-then-collect-both
#: caller loses cache hits, never correctness.)
#:
#: CONCURRENCY CONTRACT: this is module-global state keyed on "the next
#: registered query starts", which assumes the SINGLE-THREADED
#: build-then-collect loop that tests/test_parity.py and perfbench/
#: run. A caller that builds registry queries from
#: multiple threads gets structural safety (the list itself is guarded
#: by ``_PERSIST_LOCK``) but NOT cache affinity: thread A entering a
#: query releases thread B's in-flight persists, demoting B's cache
#: hits to recomputes. That degrades performance, never correctness —
#: Spark recomputes unpersisted relations — and is the accepted trade
#: for keeping the fast path free of per-query bookkeeping objects.
_TRACKED_PERSISTS: list[DataFrame] = []

import threading as _threading  # noqa: E402

_PERSIST_LOCK = _threading.Lock()


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` whose lifetime is scoped to the current registry
    query: the cache entry is dropped when the next registered query
    begins, instead of living for the whole session."""
    df = df.persist()
    with _PERSIST_LOCK:
        _TRACKED_PERSISTS.append(df)
    return df


def release_tracked_persists() -> None:
    """Unpersist every intermediate cached via :func:`tracked_persist`,
    then run operator-registered release callbacks (checkpoint blocks
    and other state the DataFrame API can't drop — see tracking.py)."""
    from world_cup_duckdb_spark import tracking

    tracking.release_all()
    while True:
        with _PERSIST_LOCK:
            if not _TRACKED_PERSISTS:
                return
            df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
        except Exception:
            # Session already stopped — nothing left to release.
            pass


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the
    registry, optionally with its DuckDB oracle SQL. Entry into any
    registered query releases the PREVIOUS query's tracked persists,
    bounding cache accumulation to one query's working set."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked_persists()
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return wrapped

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry key that carries an oracle, in registration order."""
    return {n: q.fn for n, q in REGISTRY.items() if q.oracle is not None}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle SQL of every key :func:`queries` returns."""
    return {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}


# Populate the registry (import order = display order).
from world_cup_duckdb_spark.queries import (  # noqa: E402,F401
    analytics,
    constraints,
    core,
    csv_source,
    ext_advanced,
    ext_analytics2,
    ext_analytics3,
    ext_analytics4,
    ext_analytics5,
    ext_bpe,
    ext_dedup,
    ext_distributed,
    ext_events,
    ext_graph,
    ext_metrics,
    ext_multimodal,
    ext_optim,
    ext_pipeline,
    ext_regression,
    ext_retrieval,
    ext_rollups,
    ext_scale,
    ext_similarity,
    ext_stream,
    ext_text,
    ext_training,
    ext_training2,
    ext_training3,
    joins,
    lifecycle,
    reshape,
    scalars,
    sql_surface,
    sql_surface2,
    sql_surface3,
    sql_surface4,
    sql_surface5,
    wc_pipeline,
)
