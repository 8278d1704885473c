"""Incremental materialized-view maintenance over the event stream —
the AggregatingMergeTree-style design ClickHouse materialized views
use (the reference's storage engine family: README.md:14), re-expressed
as Structured Streaming + partial-aggregate tables.

Design: each micro-batch writes PARTIAL aggregate states (one tiny row
per (day, event_type)), never final values; the readable view folds
the partials at query time. Folding count/min/max partials is exact
and ORDER-INDEPENDENT, so the maintained view equals the full batch
aggregate no matter how the stream was chopped into batches — the
property qs7's oracle checks. At firehose scale the per-batch write is
O(distinct keys in the batch) and the view read is O(total partials),
both trivially small next to the event volume; ClickHouse gets the
same effect by merging AggregateFunction states at part-merge time.

Exactly-once under at-least-once foreachBatch: partials are
partitioned by epoch and written with dynamic partition overwrite, so
a replayed epoch rewrites its own partition. A crash between the
compaction fold's write and cleanup can leave duplicate rows, so every
partial row carries its ``src_epoch`` as a DATA column: both the
reader and the next fold first dropDuplicates on (key, src_epoch),
making duplicates harmless everywhere. The partials are an
``EpochTable`` (streaming/dedup_stream.py), like the LSH index: old
epochs fold into the consolidated partition — directory count stays
O(keep_epochs) for the stream's lifetime, with the consolidation
rewritten only on that machinery's size-tiered schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.streaming.dedup_stream import EpochTable

PARTIALS_SCHEMA = (
    "day string, event_type string, n long, min_eid long, max_eid long, "
    "src_epoch int"
)

_KEY = ["day", "event_type"]


def _partials(path: str, keep_epochs: int = 4) -> EpochTable:
    return EpochTable(
        path, PARTIALS_SCHEMA, (*_KEY, "src_epoch"), keep_epochs=keep_epochs
    )


def incremental_rollup_sink(partials_path: str, keep_epochs: int = 4):
    """foreachBatch callable maintaining the daily-rollup MV partials."""
    partials = _partials(partials_path, keep_epochs)

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        partial = (
            batch_df.groupBy(
                F.date_format("ts", "yyyyMMdd").alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("min_eid"),
                F.max("event_id").alias("max_eid"),
            )
            .withColumn("src_epoch", F.lit(int(epoch_id)))
        )
        partials.commit(partial.repartition(1), epoch_id)

    return _write


def rollup_view(spark: SparkSession, partials_path: str) -> DataFrame:
    """The readable MV: fold partial states to final values.

    One row per (key, src_epoch) first — crash-duplicate partial rows
    collapse before the exact count/min/max fold.
    """
    return (
        _partials(partials_path)
        .read_set(spark)
        .groupBy(*_KEY)
        .agg(
            F.sum("n").alias("n_events"),
            F.min("min_eid").alias("min_event_id"),
            F.max("max_eid").alias("max_event_id"),
        )
    )
