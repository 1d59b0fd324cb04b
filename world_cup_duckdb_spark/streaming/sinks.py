"""Streaming write-audit-publish: constraint-validated micro-batch sink.

The batch engine gates every load behind the §2.9 validators
(operators/validators.py:validated_write — the replacement for DuckDB's
insert-time enforcement). This extends the same guarantee to streams:
each micro-batch is audited (PK duplicates within the batch, FK orphans
against a dimension snapshot) inside ``foreachBatch`` BEFORE it is
published; a dirty batch fails the query instead of corrupting the
sink. Publishes are replay-idempotent: each batch overwrites its own
``batch_id=N`` partition, so foreachBatch's at-least-once redelivery
can never double-append.

Scale notes: the audit runs on the micro-batch only (bounded by trigger
size), so validation cost tracks ingest rate, not table size. The FK
parent should be a broadcastable dimension snapshot; for huge parents,
swap in a bloom-filter pre-screen and reconcile asynchronously.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from world_cup_duckdb_spark.operators.validators import (
    ValidationError,
    constraint_violations,
)


def stream_validated_write(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    pk: Sequence[str] | None = None,
    fks: Sequence[tuple[DataFrame, dict[str, str]]] = (),
) -> StreamingQuery:
    """Audit each micro-batch with the declared constraints, then append.

    Raises (failing the streaming query) on the first dirty batch —
    the streaming analogue of DuckDB aborting a bad INSERT.
    """

    def audit_and_append(batch: DataFrame, batch_id: int) -> None:
        problems = constraint_violations(batch, pk, fks)
        if problems:
            raise ValidationError(f"batch {batch_id}: " + "; ".join(problems))
        # Replay-idempotent publish: each batch OVERWRITES its own
        # hive-style batch_id=N directory, so a crash-replayed batch
        # (foreachBatch is at-least-once) rewrites the same partition
        # instead of appending duplicate rows — the same fence contract
        # as the sibling table/rollup/ivm sinks. Readers of `path` see a
        # batch_id partition column as provenance.
        batch.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(audit_and_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
