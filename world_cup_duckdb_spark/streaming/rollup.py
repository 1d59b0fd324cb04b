"""Incremental continuous-aggregate maintenance: the streaming twin of
queries/ext_rollups.py:ext_rollup_hypertable.

Each micro-batch is reduced to day-grain partials (count + exact decimal
sum — both mergeable), merged with the current rollup, and PUBLISHED as a
new immutable version directory ``v=<batch_id>``. Readers always see a
complete version (never a half-written merge), and a replayed batch —
Structured Streaming re-runs the last micro-batch after a crash, with the
SAME batch_id — merges into the version strictly below its own id and
overwrites its previous attempt, making the sink effectively exactly-once
without a transactional table format.

Scale notes: the merge cost is |rollup| + |batch partials|, never the
fact history — the incremental-maintenance property ext_rollup_hypertable
proves in batch. The rollup itself is day×type-sized (tiny relative to
events), so the merge is a single small job per trigger; at 100 TB the
same pattern holds per ingest partition. Old versions are pruned, keeping
a bounded trail for readers in flight.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from world_cup_duckdb_spark.functions.strings import dec

_KEEP_VERSIONS = 3  # published versions retained for in-flight readers


def _day_partials(batch: DataFrame) -> DataFrame:
    """Reduce a micro-batch to mergeable (day, event_type) partials."""
    return (
        batch.select(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
            dec("value").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("sum_value"))
    )


def _versions(spark: SparkSession, path: str) -> list[int]:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
        if m and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def read_rollup(spark: SparkSession, path: str) -> DataFrame | None:
    """Latest complete published version, or None before first publish."""
    vs = _versions(spark, path)
    if not vs:
        return None
    return spark.read.parquet(f"{path}/v={vs[-1]}")


def merge_batch_into_rollup(
    batch: DataFrame, batch_id: int, path: str
) -> None:
    """Merge one micro-batch and publish version ``v=<batch_id>``.

    The merge base is the newest version with id < batch_id — NOT simply
    the newest — so a crash-replayed batch redoes exactly its own merge
    instead of double-counting into its earlier attempt.
    """
    spark = batch.sparkSession
    partials = _day_partials(batch)
    prior = [v for v in _versions(spark, path) if v < batch_id]
    if prior:
        base = spark.read.parquet(f"{path}/v={prior[-1]}")
        partials = (
            base.unionByName(partials)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
    partials.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/v={batch_id}"
    )
    # prune stale versions (keep a short trail for in-flight readers)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    for v in _versions(spark, path)[:-_KEEP_VERSIONS]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/v={v}"), True)


def maintain_day_rollup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Maintain the day-grain rollup from an event stream: one
    availableNow run over every event not yet merged."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: merge_batch_into_rollup(b, bid, path)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
