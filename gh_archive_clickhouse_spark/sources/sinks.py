"""Storage sinks implementing the reference's MergeTree table contract
as partitioned/sorted Parquet (/root/reference/README.md:9-17):

- ``PARTITION BY toYYYYMMDD(ts)``  → ``partitionBy(dt)`` with
  dt = yyyyMMdd(ts); Catalyst prunes partitions on date predicates.
- ``ORDER BY (ts, id)``            → ``sortWithinPartitions(dt, ts, id)``;
  ``dt`` leads because the planned write sorts on it and would
  otherwise drop the ``(ts, id)`` order. Parquet min/max page stats
  then give range pruning inside a day.
- ``raw ... CODEC(ZSTD(16))``      → parquet zstd codec (session conf).
- ReplacingMergeTree dedup-on-merge → ``dedup_view`` read semantics +
  an idempotent ``compact`` job (the analog of background merges and of
  the reference's 60 s INSERT-restart trick, cmd/gh-archived/main.go:55).

An optional ClickHouse sink (the reference's actual target) is gated
behind an import-try: if ``clickhouse_connect`` is installed the
foreachBatch writer streams Arrow batches; otherwise Parquet is the
self-contained default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.operators.dedup import latest_by_key

DT_COL = "dt"


def with_dt(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn(DT_COL, F.date_format(F.col(ts_col), "yyyyMMdd"))


def write_events(
    df: DataFrame, path: str, mode: str = "append", ts_col: str = "ts"
) -> None:
    """Write the raw events table with the contract layout."""
    (
        with_dt(df, ts_col)
        .sortWithinPartitions(DT_COL, ts_col, "id")
        .write.mode(mode)
        .partitionBy(DT_COL)
        .parquet(path)
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def dedup_view(df: DataFrame) -> DataFrame:
    """ReplacingMergeTree read semantics over the stored table: one row
    per (ts, id) sorting key — the reference's key (README.md:16) —
    deterministic last-writer-wins on the raw payload."""
    return latest_by_key(df, ["ts", "id"], [F.col("raw").desc()])


def compact(spark: SparkSession, path: str, out_path: str) -> None:
    """Merge-equivalent maintenance job: rewrite each date partition
    deduped by sorting key and re-sorted — what ClickHouse background
    merges do for ReplacingMergeTree. Run periodically; reads stay
    correct meanwhile through ``dedup_view``."""
    df = read_events(spark, path)
    deduped = dedup_view(df)
    (
        deduped.sortWithinPartitions(DT_COL, "ts", "id")
        .write.mode("overwrite")
        .partitionBy(DT_COL)
        .parquet(out_path)
    )


CLICKHOUSE_BATCH_ROWS = 10_000  # reference cut: cmd/gh-load/main.go:143-146


def partition_inserter(
    table: str,
    columns: list[str],
    client_factory,
    batch_rows: int = CLICKHOUSE_BATCH_ROWS,
):
    """Executor-side kernel for the ClickHouse sink: one client per
    partition, rows buffered and flushed every ``batch_rows`` — the
    reference's columnar-block cut (cmd/gh-load/main.go:143-146).

    Factored out of ``clickhouse_writer`` so the batching contract is
    unit-testable with a fake client (no server in this container).
    ``client_factory`` must be picklable (top-level callable/partial):
    it is shipped to executors and invoked once per partition.
    """

    def _insert(rows) -> None:
        client = client_factory()
        try:
            buf: list[tuple] = []
            for row in rows:
                buf.append(tuple(row))
                if len(buf) >= batch_rows:
                    client.insert(table, buf, column_names=columns)
                    buf = []
            if buf:
                client.insert(table, buf, column_names=columns)
        finally:
            close = getattr(client, "close", None)
            if close is not None:
                close()

    return _insert


def clickhouse_writer(
    table: str,
    batch_rows: int = CLICKHOUSE_BATCH_ROWS,
    client_factory=None,
    **client_kwargs,
):
    """foreachBatch sink streaming into ClickHouse (the reference's
    target, INSERT at cmd/gh-archived/main.go:62-93). Returns a
    (DataFrame, epoch_id) callable for ``writeStream.foreachBatch``.

    Inserts run PER PARTITION on the executors (``foreachPartition``,
    one client per partition task, rows cut into ``batch_rows`` blocks)
    — the driver never materializes a batch, so backfill throughput
    scales with executors and driver memory is flat, unlike a
    ``toPandas``-then-insert sink which serializes everything through
    one process.

    ``client_factory`` (picklable, e.g. a ``functools.partial``) lets
    tests inject a fake; by default it is built from ``client_kwargs``
    and gated on ``clickhouse_connect`` being installed (the container
    ships no ClickHouse client).
    """
    if client_factory is None:
        try:
            import clickhouse_connect  # noqa: F401
        except ImportError as exc:  # pragma: no cover - not in container
            raise ImportError(
                "clickhouse-connect is not installed; use the Parquet "
                "sink (write_events) or install the client to target "
                "ClickHouse"
            ) from exc
        import functools

        client_factory = functools.partial(
            clickhouse_connect.get_client, **client_kwargs
        )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.foreachPartition(
            partition_inserter(
                table, batch_df.columns, client_factory, batch_rows
            )
        )

    return _write


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist a table BUCKETED by a join/aggregation key.

    Bucketing is the storage-level answer to repeated fact-fact
    shuffles at 100 TB: both sides of orders⋈lineitem written with the
    same bucket spec join with ZERO exchanges — every task reads one
    bucket from each side (see the no-Exchange assertion in
    tests/test_ingest.py). Optionally sorted within buckets so
    sort-merge joins also skip their sorts. The analog of the
    reference's ClickHouse `ORDER BY` clustering contract
    (/root/reference/README.md:16), applied to the join key instead of
    the time axis.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)
