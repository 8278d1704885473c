"""Qs: Structured-Streaming queries surfaced through the driver
contract.

These run a real micro-batch stream (file source → watermark →
windowed/stateful aggregation → memory sink, availableNow trigger)
and return the materialized result.

Oracle story: on a STATIC single-file fixture with an availableNow
trigger, the whole input arrives as one micro-batch, the watermark
never advances mid-run, and complete/update-mode final state is
EXACTLY the batch aggregation — deterministic and SQL-expressible.
So these carry real oracle SQL (hash-verified), while still running
the genuine streaming machinery (file stream source, watermark,
incremental state store, memory sink). Unbounded-input semantics
(late-data drop, state eviction) are covered by
tests/test_streaming_analytics.py instead, where they are observable.
"""

from __future__ import annotations

import contextlib
import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.checkpoints import pinned
from gh_archive_clickhouse_spark.plans.common import (
    Query,
    read,
    snapshot_result,
    ts_fmt,
)
from gh_archive_clickhouse_spark.plans.ext_queries import (
    ORACLE_LSH_CANDIDATES as _ORACLE_QS4,
    _ORACLE_QX40 as _ORACLE_QS10,
    _ORACLE_QX5,
    _QX60_KEPT_CTE,
    QX60_BUDGET_PPM,
    QX60_SALT,
    lsh_candidates_sql,
    mixture_keep_sql,
    mixture_rates_cte,
)
from gh_archive_clickhouse_spark.streaming.analytics import (
    hourly_type_counts,
    running_user_totals,
    session_aggregates,
)

# The stream's curated table must equal the batch quality filter.
_ORACLE_QS11 = (
    f"SELECT doc_id, quality FROM ({_ORACLE_QX5}) q "
    "WHERE quality >= 0.75"
)

# qs12: arrival order across the two doc_id-range micro-batches IS
# plain doc_id order per source, and admitted-so-far == seen-so-far
# for every admitted row (admission is a prefix), so the stateful
# stream must equal this running-sum cut. The budget literal is
# interpolated from ADMISSION_BUDGET (single source of truth).
_ORACLE_QS12_TMPL = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS INTEGER) AS n_tokens
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tokens_before
  FROM t
)
SELECT source, doc_id, n_tokens, tokens_before
FROM c WHERE tokens_before < {budget}
"""

_SEQ = itertools.count()

_STREAM_PARTITIONS = 8


@contextlib.contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = _STREAM_PARTITIONS):
    """Temporarily right-size shuffle partitions for a stream run.

    Every stateful streaming aggregation commits one state store PER
    shuffle partition PER micro-batch (the count freezes into the
    checkpoint on first run — same hazard streaming/pipeline.py:59-67
    guards). A batch-tuned 32+ means 32+ state-store commits for a
    fixture-sized micro-batch: pure overhead (measured ~3x wall time).
    Scoped + restored so batch queries keep their own setting; a real
    deployment sets this once per stream from cluster parallelism.
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _two_half_source(df: DataFrame, first_half, src: str) -> None:
    """Materialize ``df``'s two-way split as the two-file micro-batch
    source layout in ONE scan. ``first_half`` is the boolean Column
    selecting micro-batch 0's rows (its complement is batch 1; rows
    where it is NULL belong to neither — identical to the original
    pair of complementary filters).

    Eight streams feed themselves the fixture as two micro-batches.
    The original prep ran two sequential filter + coalesce(1) write
    jobs — two full fixture scans — and (except qs12/qs15) leaned on
    write-completion order for the FileStreamSource modified-time
    ordering that decides which half is batch 0. Here one single-task
    job dynamic-partitions the single scan by the predicate, the two
    part files move into ``src``, and their mtimes are pinned
    explicitly — first half backdated, per the qs12 lesson: never
    future-date, age-based tooling may touch the temp root. Half the
    scan/encode jobs, and the batch order is deterministic by
    construction instead of by write timing.

    Raises (tuple unpack) if either half is empty: the two-batch
    layout is part of these queries' declared contract, so an empty
    half must fail loudly rather than silently collapse the stream
    to one micro-batch.
    """
    import glob
    import os
    import shutil
    import time

    staging = f"{src}__stage"
    (
        df.withColumn("__half", (~first_half).cast("int"))
        # One shuffle partition per half value: each half's rows land
        # wholly in one task (hash of a constant is constant), so each
        # partition dir still gets EXACTLY one part file — the layout
        # contract below — but the scan+encode runs two tasks wide
        # instead of the old coalesce(1) single task, which serialized
        # the whole fixture encode.
        .repartition(2, "__half")
        .write.partitionBy("__half")
        .parquet(staging)
    )
    os.makedirs(src, exist_ok=True)
    now = time.time()
    for half in (0, 1):
        (part,) = glob.glob(f"{staging}/__half={half}/part-*.parquet")
        dst = f"{src}/half-{half}.parquet"
        shutil.move(part, dst)
        ts = now - 100.0 * (1 - half)
        os.utime(dst, (ts, ts))
    shutil.rmtree(staging, ignore_errors=True)


def _events_stream(spark: SparkSession, sf_dir: str):
    """The events fixture as a file-source STREAM (micro-batch input)."""
    read(spark, sf_dir, "events")  # sets nanos/tz session confs
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # FileStreamSource wants a directory; a glob over the fixture dir
    # keeps the base path a directory while selecting the one file.
    stream = spark.readStream.schema(raw_schema).parquet(
        f"{sf_dir}/events*.parquet"
    )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_dtype == "timestamp_ntz":
        # tz-less fixture parquet: reinterpret as UTC instant so the
        # watermark (which requires TIMESTAMP) accepts it.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_table(agg, prefix: str):
    name = f"{prefix}_{next(_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(name)


def qs1_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event counts computed BY A STREAM over the
    events fixture: one-file file-source, availableNow trigger, memory
    sink, complete mode. Returns the final materialized table.
    """
    with _stream_shuffle_partitions(spark):
        agg = hourly_type_counts(_events_stream(spark, sf_dir))
        out = _run_to_table(agg, "qs1_hourly")
    return out.select(
        ts_fmt("hour_start").alias("hour_s"),
        "event_type",
        "n",
    )


def qs2_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30 min gap) computed BY A STREAM with
    native ``session_window`` state merging — the streaming twin of
    qe7's batch sessionization."""
    with _stream_shuffle_partitions(spark):
        agg = session_aggregates(_events_stream(spark, sf_dir))
        out = _run_to_table(agg, "qs2_sessions")
    return out.select(
        "user_id",
        ts_fmt("sess_start").alias("start_s"),
        ts_fmt("sess_end").alias("end_s"),
        "n_events",
    )


def qs3_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator BY A STREAM: per-user running
    (count, sum) via ``applyInPandasWithState`` — explicit Arrow-batched
    state, the template for any bespoke streaming accumulator. The
    fixture arrives as one availableNow micro-batch, so the update-mode
    memory sink holds exactly the final state row per user."""
    with _stream_shuffle_partitions(spark):
        agg = running_user_totals(_events_stream(spark, sf_dir))
        name = f"qs3_totals_{next(_SEQ)}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
    return out.select(
        "user_id", "n", F.round(F.col("total"), 6).alias("total_r")
    )


# Session-window end = last event ts + gap; events merge into one
# session when the gap to the previous event is <= gapDuration
# (empirically: two events exactly 30 min apart share a session) —
# identical convention to the batch sessionize operator, so the
# gap-island SQL mirrors qe7 with end = max(ts) + INTERVAL 30 MINUTE.
_ORACLE_QS2 = """
WITH ordered AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM ordered
), sess AS (
  SELECT *, CAST(sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_s,
       strftime(max(ts) + INTERVAL 30 MINUTE,
                '%Y-%m-%d %H:%M:%S.%f') AS end_s,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""

def qs4_stream_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL LSH dedup as a stream: the documents fixture split
    into two files arrives as two micro-batches (maxFilesPerTrigger=1);
    each batch appends its minhash signatures to a persisted signature
    table and bucket-joins only new-vs-table for candidates
    (streaming/dedup_stream.py). The unioned per-batch pair log must
    equal the BATCH operator's pair set — which is exactly what the
    oracle (the qx9 banding SQL) asserts."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.plans.common import read
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        PAIRS_SCHEMA,
        incremental_lsh_sink,
    )

    docs = read(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="qs4_")
    try:
        src = f"{base}/docs"
        _two_half_source(docs, F.col("doc_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(
                    incremental_lsh_sink(f"{base}/sigs", f"{base}/pairs")
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
        # Explicit schema: a zero-candidate corpus leaves the pairs log
        # with no data files, where schema inference would throw; the
        # read then yields the correct EMPTY frame. The snapshot pins
        # the result in the block manager so the scratch dir can be
        # deleted before the caller consumes the frame.
        return snapshot_result(
            spark.read.schema(PAIRS_SCHEMA)
            .parquet(f"{base}/pairs")
            .select("doc_a", "doc_b")
            .distinct(),
            "qs4",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def qs5_stream_sliding_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event rate BY A STREAM (10 min window, 1 min
    slide) — the S12 progress-meter analog as a declarative stream.
    Each event lands in 10 overlapping windows; complete-mode final
    state on the static fixture equals the batch expansion the oracle
    computes by unnesting the 10 slide offsets per event."""
    from gh_archive_clickhouse_spark.streaming.analytics import sliding_rates

    with _stream_shuffle_partitions(spark):
        agg = sliding_rates(_events_stream(spark, sf_dir))
        out = _run_to_table(agg, "qs5_rates")
    return out.select(ts_fmt("win_start").alias("win_s"), "n")


def qs6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join BY A STREAM: views and purchases
    (two filtered derivations of the same file-source stream, each
    with its own watermark) joined on user within a 10-minute
    attribution interval — the state-bounded two-stream join
    Structured Streaming reserves for equi-key + event-time-range
    conditions (streaming/analytics.py:view_purchase_attribution).
    Inner-join matches emit within the micro-batch, so the
    availableNow run over the static fixture equals the batch interval
    join the oracle computes."""
    from gh_archive_clickhouse_spark.streaming.analytics import (
        view_purchase_attribution,
    )

    with _stream_shuffle_partitions(spark):
        joined = view_purchase_attribution(_events_stream(spark, sf_dir))
        name = f"qs6_attrib_{next(_SEQ)}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
    return out.select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        ts_fmt("purchase_ts").alias("purchase_s"),
        ts_fmt("view_ts").alias("view_s"),
    )


_ORACLE_QS6 = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       p.user_id AS user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_s,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_s
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 10 MINUTE
 AND v.ts < p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def qs7_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained MATERIALIZED VIEW by a stream: events
    arrive in two micro-batches; each batch writes partial aggregate
    states (AggregatingMergeTree-style — streaming/mv.py) and the
    readable view folds the partials. The fold is order-independent
    (count/min/max), so the maintained view must equal the one-shot
    batch rollup — which is the oracle."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.plans.common import read
    from gh_archive_clickhouse_spark.streaming.mv import (
        incremental_rollup_sink,
        rollup_view,
    )

    ev = read(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="qs7_")
    try:
        src = f"{base}/events"
        _two_half_source(ev, F.col("event_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ts_dtype = dict(stream.dtypes).get("ts")
        if ts_dtype == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(
                    incremental_rollup_sink(f"{base}/partials")
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
        return snapshot_result(
            rollup_view(spark, f"{base}/partials"), "qs7"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def qs8_stream_exactly_once_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durable cross-batch dedup BY A STREAM (P2's declarative form):
    the events fixture arrives TWICE — the second micro-batch is an
    exact replay — through ``dropDuplicatesWithinWatermark`` keyed on
    event_id (streaming/pipeline.py:deduped_stream's shape). Append
    mode emits each id on first sight; the replayed batch contributes
    nothing (dedup state + watermark both reject it), so the sink
    holds every event EXACTLY ONCE — the oracle is simply the events
    table."""
    import os
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.plans.common import read

    ev = read(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="qs8_")
    try:
        src = f"{base}/events"
        ev.coalesce(1).write.mode("append").parquet(src)
        # The replay batch is BY DEFINITION byte-identical input — copy
        # the written part file instead of paying a second full
        # scan+encode job for the same bytes (r15). copyfile stamps
        # the copy with the current mtime (strictly >= the original),
        # and identical content makes batch order immaterial anyway.
        part = next(
            f for f in sorted(os.listdir(src))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        shutil.copyfile(
            f"{src}/{part}", f"{src}/{part[:-8]}-replay.parquet"
        )
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if dict(stream.dtypes).get("ts") == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        deduped = stream.withWatermark(
            "ts", "10 minutes"
        ).dropDuplicatesWithinWatermark(["event_id"])
        with _stream_shuffle_partitions(spark):
            name = f"qs8_dedup_{next(_SEQ)}"
            q = (
                deduped.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            out = spark.table(name).select(
                "event_id",
                ts_fmt("ts").alias("ts_s"),
                "user_id",
                "event_type",
            )
        return snapshot_result(out, "qs8")
    finally:
        shutil.rmtree(base, ignore_errors=True)


_ORACLE_QS8 = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       user_id, event_type
FROM events
"""


def qs9_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join BY A STREAM: the event stream left-joined to
    a STATIC per-user dimension (each user's first signup timestamp,
    batch-derived) — the enrichment shape of every streaming ETL.
    Spark re-plans the static side per micro-batch and broadcasts it
    when small; the join itself is stateless (unlike stream-stream).
    The complete-mode aggregation runs WITHOUT a watermark because its
    key domain is BOUNDED (event_type x bool — a handful of rows of
    state forever); an unbounded-key aggregation would need the
    watermarked form (qs1)."""
    from gh_archive_clickhouse_spark.plans.common import read

    ev = read(spark, sf_dir, "events")
    cohorts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            # membership marker: `signed_up` means "user HAS a signup
            # event", not "has a non-NULL signup timestamp" — the two
            # diverge for NULL-ts signup rows, and the oracle tests
            # membership (c.user_id IS NOT NULL)
            F.lit(1).alias("__seen"),
        )
    )
    with _stream_shuffle_partitions(spark):
        stream = _events_stream(spark, sf_dir)
        enriched = stream.join(cohorts, "user_id", "left").select(
            "event_type",
            F.col("__seen").isNotNull().alias("signed_up"),
        )
        agg = enriched.groupBy("event_type", "signed_up").agg(
            F.count(F.lit(1)).alias("n")
        )
        name = f"qs9_enrich_{next(_SEQ)}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
    return snapshot_result(out, "qs9")


def qs10_incremental_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF-PQ index maintenance as a stream: the
    embeddings fixture split into two files arrives as two
    micro-batches (maxFilesPerTrigger=1); each batch runs the map-only
    index projection for its NEW vectors only and appends an
    epoch=E/cluster_id=C partition under the index root
    (streaming/index_stream.py). The probe over the incrementally-
    built index must equal the probe over a batch-built one — which is
    exactly what the oracle (qx40's IVF-PQ search SQL) asserts:
    query = vec 42, its coarse cell, ADC top-20 shortlist, exact
    cosine top-5 re-rank."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.operators.similarity import (
        _prep_cents,
        pq_codebook,
        probe_ivfpq_index,
    )
    from gh_archive_clickhouse_spark.plans.ext_queries import EMB_DIM
    from gh_archive_clickhouse_spark.streaming.index_stream import (
        incremental_ivfpq_sink,
    )

    emb = read(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="qs10_")
    # The trained quantizer is fixed before the stream starts (the
    # standard streaming-ANN-ingest contract): codebook = vectors with
    # id < 16, coarse centroids = vectors with id < 8 — the same
    # deterministic "training" qx40 uses, so the oracle carries over.
    # Both are pinned for the stream and the probe, then released.
    cents_df = _prep_cents(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("c"),
        )
    )
    try:
        with pinned(pq_codebook(emb)) as cb, pinned(cents_df) as cents:
            src = f"{base}/vecs"
            _two_half_source(emb, F.col("vec_id") % 2 == 0, src)
            schema = spark.read.parquet(src).schema
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            index = f"{base}/index"
            with _stream_shuffle_partitions(spark):
                q = (
                    stream.writeStream.foreachBatch(
                        incremental_ivfpq_sink(index, cb, cents, dim=EMB_DIM)
                    )
                    .trigger(availableNow=True)
                    .option("checkpointLocation", f"{base}/ckpt")
                    .start()
                )
                q.awaitTermination()
            # Probe-time coarse search: the query's cluster comes from
            # its own index row (one-row lookup — the caller-computed
            # probe set the probe contract requires).
            qc = (
                spark.read.parquet(index)
                .filter(F.col("vec_id") == 42)
                .select("cluster_id")
                .head()[0]
            )
            query = emb.filter(F.col("vec_id") == 42).select(
                F.col("embedding").alias("q")
            )
            # The snapshot pins the result before the scratch dir is
            # deleted and the quantizer released (same pattern as qs4).
            return snapshot_result(
                probe_ivfpq_index(
                    spark, index, query, cb, [int(qc)],
                    k=5, shortlist_k=20, dim=EMB_DIM,
                ),
                "qs10",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def qs11_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-GATED streaming ingest: the curation filter applied at
    ingest time rather than in a later batch sweep — each micro-batch
    of arriving documents runs the (stateless, codegen) quality-score
    kernel and only docs at/above the bar land in the curated table,
    written as replay-idempotent epoch partitions (dynamic overwrite;
    a replayed batch rewrites its own epoch). The read-back must equal
    the BATCH quality filter over the same corpus — which is exactly
    what the oracle (qx5's score SQL + the threshold) asserts. The
    per-batch work is a pure map stage: at firehose scale this is the
    cheapest possible gate placement, dropping rejects before they are
    ever stored."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_score,
    )

    docs = read(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="qs11_")
    out = f"{base}/curated"

    def _gate(batch_df: DataFrame, epoch_id: int) -> None:
        (
            quality_score(batch_df)
            .filter(F.col("quality") >= 0.75)
            .select("doc_id", "quality")
            .withColumn("epoch", F.lit(int(epoch_id)))
            .repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out)
        )

    try:
        src = f"{base}/docs"
        _two_half_source(docs, F.col("doc_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(_gate)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
        # Explicit schema (a fully-rejected corpus leaves no data
        # files); dropDuplicates tolerates at-least-once replays;
        # the snapshot pins the frame before scratch cleanup.
        return snapshot_result(
            spark.read.schema("doc_id long, quality double, epoch int")
            .parquet(out)
            .select("doc_id", "quality")
            .dropDuplicates(["doc_id"]),
            "qs11",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


ADMISSION_BUDGET = 1_000


def qs12_stream_budget_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STATEFUL token-budget admission BY A STREAM (streaming/
    analytics.token_budget_admission — the streaming twin of qx53's
    batch budget cut): per source, documents are admitted in arrival
    order until the source's cumulative admitted tokens reach the
    budget; everything after is rejected before storage. State is one
    long per source.

    The fixture arrives as TWO micro-batches split by doc_id range
    (every source spans both halves, so batch 2's admissions
    genuinely depend on batch 1's accumulated state) with file
    mtimes pinned far apart, making the file-stream's
    modification-time ordering — and therefore the admission
    sequence — deterministic. Arrival order is then plain doc_id
    order per source, which is exactly the running sum the oracle
    evaluates."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.streaming.analytics import (
        token_budget_admission,
    )

    docs = read(spark, sf_dir, "documents")
    mid = docs.agg(
        F.percentile_approx("doc_id", 0.5, 10000)
    ).first()[0]
    base = tempfile.mkdtemp(prefix="qs12_")
    try:
        src = f"{base}/docs"

        # _two_half_source pins the mtimes, so the file-stream's
        # modification-time ordering matches the doc_id-range split
        # regardless of write timing.
        _two_half_source(docs, F.col("doc_id") < mid, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle_partitions(spark):
            name = f"qs12_admitted_{next(_SEQ)}"
            q = (
                token_budget_admission(stream, ADMISSION_BUDGET)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return snapshot_result(spark.table(name), "qs12")
    finally:
        shutil.rmtree(base, ignore_errors=True)


_ORACLE_QS9 = """
WITH cohorts AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
)
SELECT e.event_type, (c.user_id IS NOT NULL) AS signed_up,
       count(*) AS n
FROM events e LEFT JOIN cohorts c ON e.user_id = c.user_id
GROUP BY 1, 2
"""


_ORACLE_QS7 = """
SELECT strftime(ts, '%Y%m%d') AS day, event_type, count(*) AS n_events,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id
FROM events GROUP BY 1, 2
"""


def qs13_stream_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming dedup story ended in SURVIVORS, not pairs: the
    documents fixture arrives as two micro-batches;
    streaming/dedup_stream.incremental_dedup_sink maintains the
    signature + pair tables per batch and refreshes the
    cluster-labels table on the pair log's major-fold cadence;
    ``fold_cluster_labels`` closes the books at stream end (the
    on-demand exact refresh the sink documents). The resulting cut —
    every doc except non-representative cluster members — must equal
    the BATCH ``dedup_survivors`` over ``lsh_candidate_pairs`` on the
    full corpus, which is exactly what the oracle (recursive-CTE
    connected components over the qs4 banding SQL, anti-joined
    against documents) asserts: the qs4 union-of-batches equivalence,
    one level up."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.plans.common import read
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        fold_cluster_labels,
        incremental_dedup_sink,
    )

    docs = read(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="qs13_")
    try:
        src = f"{base}/docs"
        _two_half_source(docs, F.col("doc_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        pairs_path, labels_path = f"{base}/pairs", f"{base}/labels"
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(
                    incremental_dedup_sink(
                        f"{base}/sigs", pairs_path, labels_path
                    )
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
            # Close the books: a 2-batch run never reaches the major
            # fold, so this is the on-demand exact refresh.
            fold_cluster_labels(spark, pairs_path, labels_path)
        drops = (
            spark.read.schema(LABELS_SCHEMA)
            .parquet(labels_path)
            .filter(F.col("doc_id") != F.col("cluster_rep"))
            .select("doc_id")
        )
        return snapshot_result(
            docs.join(drops, "doc_id", "left_anti").select("doc_id"),
            "qs13",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def qs14_stream_mixture_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIXTURE-GATED streaming ingest — the stream twin of qx60 on
    the qs11 pattern: a periodic batch job computes the per-source
    keep-rate table from a corpus snapshot
    (operators/packing.mixture_rates, persisted as a tiny parquet);
    every arriving micro-batch is then gated by the map-only
    salted-hash keep rule against the BROADCAST rates
    (operators/packing.mixture_gate) and lands in replay-idempotent
    epoch partitions. A row's fate depends only on (salt, doc_id,
    rates), so batching, arrival order, and replays cannot change
    membership — the gated stream's read-back must equal the batch
    qx60 resample over the same corpus, which is exactly what the
    oracle (the qx60 kept-CTE at doc granularity) asserts."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates_from_counts,
        source_counts,
    )
    from gh_archive_clickhouse_spark.plans.ext_queries import (
        _ranked_weight_rows,
    )

    docs = read(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="qs14_")
    out = f"{base}/mixed"
    try:
        # The snapshot batch job: ONE per-source-count aggregate of
        # the corpus feeds both qx60's rank-derived non-uniform spec
        # (driver-built O(sources) literal over the observed sources
        # — the counts' keys) and the exact-integer rate table; rates
        # persisted for the stream to read.
        rates_path = f"{base}/rates"
        counts = source_counts(docs)
        mixture_rates_from_counts(
            spark,
            counts,
            _ranked_weight_rows(counts),
            budget_ppm=QX60_BUDGET_PPM,
        ).write.parquet(rates_path)
        rates = spark.read.parquet(rates_path)

        def _gate(batch_df: DataFrame, epoch_id: int) -> None:
            (
                mixture_gate(batch_df, rates, salt=QX60_SALT)
                .select("doc_id", "source", "rate_ppm")
                .withColumn("epoch", F.lit(int(epoch_id)))
                .repartition(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(out)
            )

        src = f"{base}/docs"
        _two_half_source(docs, F.col("doc_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(_gate)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
        # Explicit schema (a fully-rejected corpus leaves no data
        # files); dropDuplicates tolerates at-least-once replays;
        # the snapshot pins the frame before scratch cleanup.
        return snapshot_result(
            spark.read.schema(
                "doc_id long, source string, rate_ppm long, epoch int"
            )
            .parquet(out)
            .select("doc_id", "source", "rate_ppm")
            .dropDuplicates(["doc_id"]),
            "qs14",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


QS15_QUALITY_BAR = 0.75


def qs15_stream_preprocess_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE END-TO-END STREAMING INGEST COMPOSITE — the streaming twin
    of qx42's curation prefix, every stage of which is individually
    stream==batch-proven (qs11 quality gate, qs14 mixture gate,
    qs4/qs13 incremental dedup) but whose COMPOSITION — one ingest
    stream, one checkpoint lineage, shared micro-batch cadence,
    interacting epoch folds — is what a production deployment actually
    runs (the full Spark restatement of the reference's composed
    poll→dedup→sink dataflow, cmd/gh-archived/main.go:214-281):

      1. a SNAPSHOT batch job computes the mixture spec + integer
         rate table over the quality-curated corpus snapshot
         (persisted tiny parquet — the qs14 pattern);
      2. every arriving micro-batch then flows gate→gate→dedup in ONE
         foreachBatch body: quality stamp + threshold (pure
         projection — map-only), mixture keep (broadcast rates +
         salted-hash filter — map-only), curated rows landing in
         replay-idempotent epoch partitions, and the SAME gated frame
         feeding the incremental LSH dedup sink (signature append +
         bucket join against the signature table — the only
         non-map-only stage, by design);
      3. at stream end the labels fold closes the books and the
         survivors cut is read back.

    Because the quality and mixture gates are pure per-row functions
    and the pair log's union-over-batches equals the batch banding
    (the qs4 equivalence), the composite's read-back must equal the
    BATCH pipeline prefix over the same corpus: quality filter →
    mixture resample → LSH dedup survivors — exactly what the oracle
    (qx5's score SQL → the qx60 rate CTEs over the curated set → the
    qs4 banding SQL over the mixed set → recursive-CTE CC →
    anti-join) asserts, hash-verified."""
    import shutil
    import tempfile

    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates_from_counts,
        source_counts,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_features,
    )
    from gh_archive_clickhouse_spark.plans.ext_queries import (
        _ranked_weight_rows,
    )
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        fold_cluster_labels,
        incremental_dedup_sink,
    )

    docs = read(spark, sf_dir, "documents")
    q_col = quality_features()["quality"]
    base = tempfile.mkdtemp(prefix="qs15_")
    out = f"{base}/curated"
    try:
        # 1. the snapshot batch job: spec + rates over the curated
        # snapshot, persisted for the stream (rates must come from a
        # snapshot, not per-batch counts — per-batch rates would make
        # membership depend on batching). The snapshot IS the
        # per-source counts of the quality-curated corpus, collected
        # in ONE aggregate job (source_counts: O(sources) driver
        # rows) — the spec reads the observed sources off its keys
        # and the rate table is exact integer math over it, so the
        # corpus-wide quality projection runs exactly once and the
        # former one-column snapshot parquet (written only to let
        # three jobs share that projection) is gone.
        rates_path = f"{base}/rates"
        counts = source_counts(
            docs.withColumn("quality", q_col).filter(
                F.col("quality") >= QS15_QUALITY_BAR
            )
        )
        mixture_rates_from_counts(
            spark,
            counts,
            _ranked_weight_rows(counts),
            budget_ppm=QX60_BUDGET_PPM,
        ).write.parquet(rates_path)
        rates = spark.read.parquet(rates_path)

        dedup = incremental_dedup_sink(
            f"{base}/sigs", f"{base}/pairs", f"{base}/labels"
        )

        def _pipe(batch_df: DataFrame, epoch_id: int) -> None:
            # gate → gate: one pure projection + one broadcast-join
            # filter; pinned because two sinks consume it (the
            # curated epoch write and the dedup signature append).
            gated_df = mixture_gate(
                batch_df.withColumn("quality", q_col).filter(
                    F.col("quality") >= QS15_QUALITY_BAR
                ),
                rates,
                salt=QX60_SALT,
            )
            with pinned(gated_df) as gated:

                def _curated_write() -> None:
                    (
                        gated.select(
                            "doc_id", "source", "quality", "rate_ppm"
                        )
                        .withColumn("epoch", F.lit(int(epoch_id)))
                        .repartition(1)
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("epoch")
                        .parquet(out)
                    )

                # The two sinks consume the SAME pinned frame and write
                # to DISJOINT tables, so their jobs are independent —
                # submit the curated epoch write from a driver thread
                # so its tasks back-fill executors idled by the dedup
                # chain's barriers (guide §2.6); join + re-raise before
                # the batch commits, so replay semantics are exactly
                # the sequential form's.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=1) as pool:
                    fut = pool.submit(_curated_write)
                    dedup(gated.select("doc_id", "text"), epoch_id)
                    fut.result()

        src = f"{base}/docs"

        # _two_half_source pins the mtimes (even half backdated), so
        # which half becomes epoch 0 vs 1 is fixed by construction.
        # The final read-back is order-invariant (the gates are pure
        # per-row functions and the pair-log union is
        # order-independent), but the epoch partition LAYOUT should
        # not vary run to run.
        _two_half_source(docs, F.col("doc_id") % 2 == 0, src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(_pipe)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{base}/ckpt")
                .start()
            )
            q.awaitTermination()
            # close the books: exact labels over the full pair log
            fold_cluster_labels(
                spark, f"{base}/pairs", f"{base}/labels"
            )
        drops = (
            spark.read.schema(LABELS_SCHEMA)
            .parquet(f"{base}/labels")
            .filter(F.col("doc_id") != F.col("cluster_rep"))
            .select("doc_id")
        )
        return snapshot_result(
            spark.read.schema(
                "doc_id long, source string, quality double, "
                "rate_ppm long, epoch int"
            )
            .parquet(out)
            .select("doc_id", "source", "quality", "rate_ppm")
            .dropDuplicates(["doc_id"])
            .join(drops, "doc_id", "left_anti"),
            "qs15",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# The composed stream's read-back == the batch curation prefix:
# quality filter → mixture resample over the curated set → LSH dedup
# survivors, each stage's SQL shared with its standalone oracle.
_ORACLE_QS15 = f"""
WITH RECURSIVE q AS ({_ORACLE_QX5}),
curated AS (
  SELECT d.doc_id, d.source, d.text, q.quality
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= {QS15_QUALITY_BAR}
),
{mixture_rates_cte("curated", prefix="m")},
mixed AS (
  SELECT c.doc_id, c.source, c.text, c.quality, r.rate_ppm
  FROM curated c JOIN mrates r USING (source)
  WHERE {mixture_keep_sql("c")}
),
cand AS ({lsh_candidates_sql("mixed")}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.src AS node, r.label
  FROM edges e JOIN reach r ON e.dst = r.node
),
cc AS (
  SELECT node AS doc_id, min(label) AS cluster_rep
  FROM reach GROUP BY node
)
SELECT doc_id, source, quality, CAST(rate_ppm AS BIGINT) AS rate_ppm
FROM mixed
WHERE doc_id NOT IN (
  SELECT doc_id FROM cc WHERE doc_id <> cluster_rep
)
"""


# The gated stream's read-back == the batch resample's membership at
# doc granularity (the qx60 kept-CTE, shared verbatim).
_ORACLE_QS14 = (
    _QX60_KEPT_CTE
    + """
SELECT doc_id, source, CAST(rate_ppm AS BIGINT) AS rate_ppm FROM kept
"""
)


# Survivors = documents minus non-representative members of the
# connected components over the streaming pair log; the pair log
# itself equals the batch banding SQL (the qs4 equivalence), so the
# oracle composes CC + anti-join on top of it.
_ORACLE_QS13 = f"""
WITH RECURSIVE cand AS ({_ORACLE_QS4}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.src AS node, r.label
  FROM edges e JOIN reach r ON e.dst = r.node
),
cc AS (
  SELECT node AS doc_id, min(label) AS cluster_rep
  FROM reach GROUP BY node
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (
  SELECT doc_id FROM cc WHERE doc_id <> cluster_rep
)
"""


QUERIES = [
    Query(
        "qs1_stream_hourly_counts",
        "Structured Streaming: watermarked hourly windowed counts "
        "(availableNow micro-batch run over the fixture)",
        qs1_stream_hourly_counts,
        """
        SELECT strftime(date_trunc('hour', ts),
                        '%Y-%m-%d %H:%M:%S.%f') AS hour_s,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
        """,
        tags=("streaming",),
    ),
    Query(
        "qs2_stream_session_windows",
        "Structured Streaming: native session windows per user "
        "(availableNow micro-batch run over the fixture)",
        qs2_stream_session_windows,
        _ORACLE_QS2,
        tags=("streaming",),
    ),
    Query(
        "qs3_stream_running_totals",
        "Structured Streaming: custom stateful per-user totals "
        "(applyInPandasWithState, update mode)",
        qs3_stream_running_totals,
        """
        SELECT user_id, count(*) AS n,
               round(sum(value), 6) AS total_r
        FROM events GROUP BY user_id
        """,
        tags=("streaming",),
    ),
    Query(
        "qs4_stream_incremental_lsh",
        "incremental streaming LSH dedup: per-batch new-vs-index "
        "bucket join; union of batches == batch pair set",
        qs4_stream_incremental_lsh,
        _ORACLE_QS4,
        tags=("streaming", "dedup"),
    ),
    Query(
        "qs13_stream_dedup_survivors",
        "streaming dedup ending in survivors: incremental pair log + "
        "cluster-labels fold on the major-compaction cadence; final "
        "cut == batch dedup_survivors",
        qs13_stream_dedup_survivors,
        _ORACLE_QS13,
        tags=("streaming", "dedup", "iterative"),
    ),
    Query(
        "qs6_stream_stream_join",
        "Structured Streaming: watermarked stream-stream interval "
        "join (view->purchase attribution within 10 min)",
        qs6_stream_stream_join,
        _ORACLE_QS6,
        tags=("streaming",),
    ),
    Query(
        "qs7_incremental_mv",
        "incrementally-maintained materialized view: per-batch "
        "partial aggregate states, read-time fold == batch rollup",
        qs7_incremental_mv,
        _ORACLE_QS7,
        tags=("streaming",),
    ),
    Query(
        "qs8_stream_exactly_once_dedup",
        "Structured Streaming: exactly-once cross-batch dedup "
        "(dropDuplicatesWithinWatermark survives a full replay)",
        qs8_stream_exactly_once_dedup,
        _ORACLE_QS8,
        tags=("streaming", "dedup"),
    ),
    Query(
        "qs9_stream_static_enrich",
        "Structured Streaming: stream-static enrichment join "
        "(per-user signup dimension, stateless)",
        qs9_stream_static_enrich,
        _ORACLE_QS9,
        tags=("streaming",),
    ),
    Query(
        "qs10_incremental_ivfpq",
        "incremental IVF-PQ index maintenance: per-batch map-only "
        "append of epoch/cluster partitions; probe == batch build",
        qs10_incremental_ivfpq,
        _ORACLE_QS10,
        tags=("streaming", "similarity"),
    ),
    Query(
        "qs11_stream_quality_gate",
        "quality-gated streaming ingest: per-batch map-only score + "
        "filter into replay-idempotent epoch partitions",
        qs11_stream_quality_gate,
        _ORACLE_QS11,
        tags=("streaming", "quality"),
    ),
    Query(
        "qs14_stream_mixture_gate",
        "mixture-gated streaming ingest: broadcast snapshot rate "
        "table, map-only salted keep per micro-batch; read-back == "
        "batch qx60 membership",
        qs14_stream_mixture_gate,
        _ORACLE_QS14,
        tags=("streaming", "sampling"),
    ),
    Query(
        "qs15_stream_preprocess_pipeline",
        "end-to-end streaming ingest composite: quality gate -> "
        "mixture gate -> incremental LSH dedup to survivors in one "
        "foreachBatch lineage; read-back == the batch curation prefix",
        qs15_stream_preprocess_pipeline,
        _ORACLE_QS15,
        tags=("streaming", "dedup", "pipeline"),
    ),
    Query(
        "qs12_stream_budget_admission",
        "stateful per-source token-budget admission: two range-split "
        "micro-batches, one long of state per source, admission "
        "prefix == the batch running-sum cut",
        qs12_stream_budget_admission,
        _ORACLE_QS12_TMPL.format(budget=ADMISSION_BUDGET),
        tags=("streaming", "quality"),
    ),
    Query(
        "qs5_stream_sliding_rates",
        "Structured Streaming: sliding-window event rate "
        "(10 min window / 1 min slide, availableNow run)",
        qs5_stream_sliding_rates,
        """
        WITH expanded AS (
          SELECT date_trunc('minute', ts)
                   - to_minutes(unnest(range(0, 10))) AS win_start
          FROM events
        )
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S.%f') AS win_s,
               count(*) AS n
        FROM expanded GROUP BY win_start
        """,
        tags=("streaming",),
    ),
]
