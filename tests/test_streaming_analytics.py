"""Streaming analytics driven by a file stream over fixture-derived
parquet (deterministic, hermetic): windowed aggregation, session
windows, stateful running totals, telemetry observation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.plans.common import read
from gh_archive_clickhouse_spark.streaming.analytics import (
    hourly_type_counts,
    running_user_totals,
    session_aggregates,
)
from gh_archive_clickhouse_spark.streaming.telemetry import observed_parse
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    """Fixture events re-written as a normal-timestamp parquet dir a
    file stream can read (the ns fixture needs the engine's reader)."""
    import os
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from gh_archive_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]")
    out = str(tmp_path_factory.mktemp("stream_src") / "events")
    read(spark, SF_DIR, "events").write.parquet(out)
    return out


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_stream(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_hourly_type_counts_match_batch(spark, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir)
    result = _run_stream(
        spark, hourly_type_counts(stream), "hourly", mode="update"
    )
    batch = spark.read.parquet(events_stream_dir)
    expect = (
        batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {(r.hour_start, r.event_type): r.n for r in result.collect()}
    # update mode + single replay batch -> every window emitted once
    assert got == {(r.hour_start, r.event_type): r.n for r in expect}


def test_session_windows_stream(spark, events_stream_dir, tmp_path):
    """Session windows finalize in append mode only once the watermark
    passes them: replay the fixture, then append a far-future sentinel
    event so every real session flushes."""
    import datetime

    stream = _read_stream(spark, events_stream_dir)
    q = (
        session_aggregates(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: all real events
        batch = spark.read.parquet(events_stream_dir)
        mx = batch.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(999_999_999, mx + datetime.timedelta(days=10), -1, "sentinel", 0.0, "{}")],
            schema=batch.schema,
        )
        sentinel.write.mode("append").parquet(events_stream_dir)
        q.processAllAvailable()  # batch 1: watermark jumps, sessions flush
    finally:
        q.stop()
    rows = [r for r in spark.table("sessions").collect() if r.user_id >= 0]
    assert rows
    assert all(r.n_events > 0 and r.sess_end > r.sess_start for r in rows)
    # every real event landed in exactly one emitted session
    assert sum(r.n_events for r in rows) == batch.count()


def test_stateful_running_totals(spark, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir)
    result = _run_stream(
        spark, running_user_totals(stream), "totals", mode="update"
    )
    batch = spark.read.parquet(events_stream_dir)
    expect = {
        r.user_id: (r.n, round(r.total, 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got = {r.user_id: (r.n, round(r.total, 6)) for r in result.collect()}
    assert got == expect


def test_observation_counters(spark):
    from gh_archive_clickhouse_spark.sources.ndjson import parse_raw_events

    lines = spark.createDataFrame(
        [('{"id": "1", "created_at": "2020-01-01T00:00:00Z"}',), ("junk",)],
        schema="value string",
    )
    observed, obs = observed_parse(parse_raw_events(lines))
    assert observed.count() == 1
    assert obs.get["rows"] == 1
    assert obs.get["raw_bytes"] > 0


def test_metrics_exporter_fallback(spark, events_stream_dir):
    """MetricsExporter accumulates the reference's metric surface from
    real streaming progress events (in-process fallback here; with
    opentelemetry installed the same updates flow to OTLP)."""
    from gh_archive_clickhouse_spark.streaming.analytics import (
        hourly_type_counts,
    )
    from gh_archive_clickhouse_spark.streaming.telemetry import (
        MetricsExporter,
    )

    exp = MetricsExporter()
    spark.streams.addListener(exp)
    try:
        stream = _read_stream(spark, events_stream_dir)
        _run_stream(
            spark, hourly_type_counts(stream), "metrics_hourly", mode="update"
        )
        # listener delivery is async; progress arrives within a beat
        import time

        total = spark.read.parquet(events_stream_dir).count()
        for _ in range(60):
            if exp.fallback.get("events_ingested_count", 0) >= total:
                break
            time.sleep(0.5)
        assert exp.fallback["events_ingested_count"] >= total
        assert "ingest_rows_per_sec" in exp.fallback
        assert "batch_duration_ms" in exp.fallback
    finally:
        spark.streams.removeListener(exp)


def test_incremental_lsh_equals_batch(spark, tmp_path):
    """Union of per-micro-batch incremental LSH pairs == the batch
    operator's pair set over the same corpus (each doc arrives once,
    split across two batches)."""
    from gh_archive_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from gh_archive_clickhouse_spark.plans.registry import QUERIES
    from tests.conftest import SF_DIR

    docs = read(spark, SF_DIR, "documents")
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    stream_pairs = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["qs4_stream_incremental_lsh"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert stream_pairs == batch_pairs and batch_pairs


def test_incremental_lsh_sink_replay_idempotent(spark, tmp_path):
    """Re-running an epoch (foreachBatch replay after failure) must
    leave both tables exactly as a single run would — dynamic
    epoch-partition overwrite, not append."""
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        incremental_lsh_sink,
    )

    docs = read(spark, SF_DIR, "documents").limit(50)
    sink = incremental_lsh_sink(
        str(tmp_path / "sigs"), str(tmp_path / "pairs")
    )
    sink(docs, epoch_id=0)
    sigs1 = spark.read.parquet(str(tmp_path / "sigs")).count()
    pairs1 = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .collect()
    )
    sink(docs, epoch_id=0)  # replay
    assert spark.read.parquet(str(tmp_path / "sigs")).count() == sigs1
    pairs2 = (
        spark.read.parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .collect()
    )
    assert sorted(map(tuple, pairs2)) == sorted(map(tuple, pairs1))


def test_incremental_lsh_sink_computes_signatures_once(
    spark, tmp_path, monkeypatch
):
    """The per-batch signature build runs ONCE: the pair join's probe
    side is the just-written epoch partition read back from disk, not
    the live ``minhash_signatures`` frame (whose lineage would re-run
    the shingle explode + hash aggregate a second time — Spark plans
    each consumer of an unmaterialized frame independently)."""
    import gh_archive_clickhouse_spark.streaming.dedup_stream as ds

    calls = []
    real = ds.minhash_signatures

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(ds, "minhash_signatures", counting)
    docs = read(spark, SF_DIR, "documents").limit(40)
    sink = ds.incremental_lsh_sink(
        str(tmp_path / "sigs"), str(tmp_path / "pairs")
    )
    sink(docs, epoch_id=0)
    assert len(calls) == 1
    # and the read-back probe side still finds the within-batch pairs
    from gh_archive_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    expect = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(real(docs)).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == expect


def test_incremental_lsh_log_compaction_bounds_files(spark, tmp_path):
    """Committed epochs fold into the consolidated epoch=-1 partition:
    across many epochs the pair log and signature index keep O(1)
    files/partitions instead of one partition per epoch forever — and
    folding loses no rows."""
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        PAIRS_SCHEMA,
        incremental_lsh_sink,
    )

    docs = read(spark, SF_DIR, "documents").limit(120)
    sink = incremental_lsh_sink(
        str(tmp_path / "sigs"), str(tmp_path / "pairs"), keep_epochs=2
    )
    n_epochs = 7
    for e in range(n_epochs):
        sink(docs.filter(F.col("doc_id") % n_epochs == e), epoch_id=e)

    def epoch_dirs(p):
        return sorted(
            d.name for d in (tmp_path / p).iterdir()
            if d.is_dir() and d.name.startswith("epoch=")
        )

    # keep_epochs=2 ⇒ at most: consolidated + 2 uncompacted + current
    for p in ("pairs", "sigs"):
        dirs = epoch_dirs(p)
        assert len(dirs) <= 4, dirs
        assert "epoch=-1" in dirs, dirs
    files = [
        f for f in (tmp_path / "pairs").rglob("*.parquet")
    ]
    assert len(files) <= 4, files

    # folding lost nothing: the log still equals the batch pair set
    from gh_archive_clickhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.schema(PAIRS_SCHEMA)
        .parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert got == want and want


def test_incremental_lsh_zero_candidate_corpus(spark, tmp_path):
    """A corpus with no shingles (every doc shorter than k tokens)
    produces an EMPTY pair log; the explicit-schema read returns an
    empty frame instead of throwing schema-inference errors (round-2
    ADVICE defect)."""
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        PAIRS_SCHEMA,
        incremental_lsh_sink,
    )

    docs = spark.createDataFrame(
        [(i, "tiny") for i in range(10)], "doc_id long, text string"
    )
    sink = incremental_lsh_sink(
        str(tmp_path / "sigs"), str(tmp_path / "pairs")
    )
    sink(docs, epoch_id=0)
    out = (
        spark.read.schema(PAIRS_SCHEMA)
        .parquet(str(tmp_path / "pairs"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b"]


def test_stream_stream_join_matches_across_batches(spark, tmp_path):
    """view_purchase_attribution buffers view state so a purchase
    arriving in a LATER micro-batch still joins a qualifying earlier
    view — the property that distinguishes a stream-stream join from
    per-batch joins. Views outside the 10-min interval never match."""
    import pandas as pd

    from gh_archive_clickhouse_spark.streaming.analytics import (
        view_purchase_attribution,
    )

    src = tmp_path / "events"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 12:00:00")

    def write(name, rows):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        # micros, not pandas-default nanos (Spark's reader rejects ns)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(src / name)

    # batch 1: two views for user 1 (one inside the interval of the
    # later purchase, one far too old), a view for user 2
    write(
        "b1.parquet",
        [
            (1, base, 1, "view", 0.0),
            (2, base - pd.Timedelta(minutes=45), 1, "view", 0.0),
            (3, base, 2, "view", 0.0),
        ],
    )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    for f_ in stream.schema.fields:
        if f_.name == "ts" and f_.dataType.simpleString() == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    joined = view_purchase_attribution(stream)
    name = "qs6_xbatch"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2: user 1 purchases 5 min after the in-window view; user 3
    # purchases with no prior view
    write(
        "b2.parquet",
        [
            (10, base + pd.Timedelta(minutes=5), 1, "purchase", 9.0),
            (11, base + pd.Timedelta(minutes=5), 3, "purchase", 9.0),
        ],
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.purchase_id, r.view_id)
        for r in spark.table(name).collect()
    }
    # only the (purchase 10, view 1) pair qualifies: view 2 is 50 min
    # before the purchase, view 3 is another user, purchase 11 has no
    # views
    assert rows == {(10, 1)}


def test_incremental_mv_replay_idempotent_and_compacted(spark, tmp_path):
    """Replaying an epoch through the MV sink must not change the
    view (dynamic epoch-partition overwrite), and many epochs must
    fold into the consolidated partition (file count stays bounded)."""
    import os

    import pandas as pd

    from gh_archive_clickhouse_spark.streaming.mv import (
        incremental_rollup_sink,
        rollup_view,
    )

    partials = str(tmp_path / "partials")
    sink = incremental_rollup_sink(partials, keep_epochs=2)
    base = pd.Timestamp("2024-03-01 00:00:00")

    def batch(eids):
        pdf = pd.DataFrame(
            {
                "event_id": eids,
                "ts": [base + pd.Timedelta(hours=e) for e in eids],
                "user_id": [1] * len(eids),
                "event_type": ["view"] * len(eids),
                "value": [1.0] * len(eids),
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        sdf = spark.createDataFrame(pdf)
        return sdf.withColumn("ts", F.col("ts").cast("timestamp"))

    for epoch in range(6):
        sink(batch([epoch * 2, epoch * 2 + 1]), epoch)
    view1 = {
        (r.day, r.event_type): (r.n_events, r.min_event_id, r.max_event_id)
        for r in rollup_view(spark, partials).collect()
    }
    # 12 events, all same day/type
    assert view1[("20240301", "view")] == (12, 0, 11)
    # replay the last epoch: identical partial overwrites its own
    # partition; the view is unchanged
    sink(batch([10, 11]), 5)
    view2 = {
        (r.day, r.event_type): (r.n_events, r.min_event_id, r.max_event_id)
        for r in rollup_view(spark, partials).collect()
    }
    assert view2 == view1
    # compaction: epoch dirs bounded by keep_epochs + consolidated + current
    dirs = [d for d in os.listdir(partials) if d.startswith("epoch=")]
    assert len(dirs) <= 4, dirs
    assert "epoch=-1" in dirs


def test_incremental_ivfpq_equals_batch_build_and_bounds_files(
    spark, tmp_path
):
    """The incremental index sink: (1) feeding the corpus in N epochs
    produces a row-identical index to the one-shot batch build —
    same codes, same cluster assignment, same norms; (2) probe pruning
    survives (cluster_id sublayout present inside every epoch dir);
    (3) epoch folding bounds the partition count for the stream's
    lifetime; (4) a replayed epoch is idempotent."""
    from gh_archive_clickhouse_spark.operators.similarity import (
        _prep_cents,
        build_ivfpq_index,
        pq_codebook,
    )
    from gh_archive_clickhouse_spark.streaming.index_stream import (
        incremental_ivfpq_sink,
    )

    emb = read(spark, SF_DIR, "embeddings")
    cb = pq_codebook(emb).localCheckpoint(eager=True)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("c"),
    )
    cents = _prep_cents(centroids).localCheckpoint(eager=True)

    batch_path = str(tmp_path / "batch_idx")
    build_ivfpq_index(emb, centroids, batch_path, dim=64, codebook=cb)

    inc_path = str(tmp_path / "inc_idx")
    sink = incremental_ivfpq_sink(inc_path, cb, cents, dim=64, keep_epochs=2)
    n_epochs = 6
    for e in range(n_epochs):
        sink(emb.filter(F.col("vec_id") % n_epochs == e), epoch_id=e)
    sink(emb.filter(F.col("vec_id") % n_epochs == 5), epoch_id=5)  # replay

    def canon(df):
        return sorted(
            (
                r.vec_id,
                tuple(r.codes),
                tuple(round(x, 9) for x in r.vec),
                round(r.norm, 9),
                r.cluster_id,
            )
            for r in df.select(
                "vec_id", "codes", "vec", "norm", "cluster_id"
            ).collect()
        )

    assert canon(spark.read.parquet(inc_path)) == canon(
        spark.read.parquet(batch_path)
    )
    # epoch partitions bounded: consolidated + keep_epochs + current
    dirs = sorted(
        d.name
        for d in (tmp_path / "inc_idx").iterdir()
        if d.is_dir() and d.name.startswith("epoch=")
    )
    assert len(dirs) <= 4, dirs
    assert "epoch=-1" in dirs, dirs
    # the cluster sublayout survives folding (probe pruning intact)
    sub = [
        d.name
        for d in (tmp_path / "inc_idx" / "epoch=-1").iterdir()
        if d.is_dir()
    ]
    assert sub and all(s.startswith("cluster_id=") for s in sub), sub


def test_stream_budget_admission_is_stateful_prefix(spark):
    """qs12's operator: per-source admissions are exactly the doc_id-
    prefix whose cumulative tokens stay under the budget, with batch
    2's decisions depending on batch 1's accumulated state (the split
    puts every source in both batches)."""
    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        qs12_stream_budget_admission,
    )

    rows = qs12_stream_budget_admission(spark, SF_DIR).collect()
    assert rows
    docs = read(spark, SF_DIR, "documents").select(
        "source", "doc_id", F.size(
            F.array_remove(F.split(F.col("text"), " "), "")
        ).alias("n")
    ).collect()
    by_source: dict = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        by_source.setdefault(r.source, []).append((r.doc_id, r.n))
    got: dict = {}
    for r in rows:
        got.setdefault(r.source, {})[r.doc_id] = (
            r.n_tokens, r.tokens_before
        )
    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        ADMISSION_BUDGET,
    )

    for source, seq in by_source.items():
        acc = 0
        expect = {}
        for doc_id, n in seq:
            if acc < ADMISSION_BUDGET:
                expect[doc_id] = (n, acc)
            acc += n
        assert got.get(source, {}) == expect, source


def test_qs15_per_batch_gate_is_map_only_plus_broadcast(spark):
    """qs15's composed per-micro-batch hot path BEFORE the dedup sink
    — quality stamp + threshold + mixture keep — must stay one pure
    projection plus one broadcast-join filter: no hash exchange, no
    sort-merge join, no aggregation. The only shuffle a composed
    ingest batch pays is the dedup bucket join, by design."""
    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_features,
    )
    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        QS15_QUALITY_BAR,
    )

    docs = read(spark, SF_DIR, "documents")
    rates = spark.createDataFrame(
        [(f"src{i}", 500_000) for i in range(10)],
        "source string, rate_ppm long",
    )
    gated = mixture_gate(
        docs.withColumn("quality", quality_features()["quality"]).filter(
            F.col("quality") >= QS15_QUALITY_BAR
        ),
        rates,
    )
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning" not in plan, plan[:3000]
    # the ONLY exchange is the tiny rate-table broadcast
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), (
        plan[:3000]
    )


def test_qs15_epoch_layout_is_run_deterministic(spark, monkeypatch):
    """The builder pins its source-file mtimes in WRITE order, so which
    half of the corpus becomes micro-batch/epoch 0 vs 1 must be the
    same on every invocation (same-second writes used to tie on mtime
    and fall back to arbitrary UUID path order). The curated table is
    deleted in the builder's finally, so the epoch->membership map is
    captured by intercepting the cleanup."""
    import os
    import shutil

    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        qs15_stream_preprocess_pipeline,
    )

    layouts: list[dict[int, frozenset[int]]] = []
    real_rmtree = shutil.rmtree

    def capturing_rmtree(path, *a, **kw):
        # only the builder's final cleanup of its temp base carries the
        # curated table; intermediate rmtrees (e.g. the one-scan source
        # prep's staging dir) must pass through untouched
        if "qs15_" in str(path) and os.path.isdir(f"{path}/curated"):
            rows = (
                spark.read.schema(
                    "doc_id long, source string, quality double, "
                    "rate_ppm long, epoch int"
                )
                .parquet(f"{path}/curated")
                .select("doc_id", "epoch")
                .collect()
            )
            by_epoch: dict[int, set[int]] = {}
            for r in rows:
                by_epoch.setdefault(r.epoch, set()).add(r.doc_id)
            layouts.append(
                {e: frozenset(s) for e, s in by_epoch.items()}
            )
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", capturing_rmtree)
    qs15_stream_preprocess_pipeline(spark, SF_DIR).collect()
    qs15_stream_preprocess_pipeline(spark, SF_DIR).collect()
    assert len(layouts) == 2
    # two micro-batches, identical epoch->membership on both runs —
    # not merely an order-invariant union
    assert set(layouts[0]) == {0, 1}
    assert layouts[0] == layouts[1]
    # and the layout matches the builder's declared split: epoch 0 is
    # the even-doc_id half
    assert all(d % 2 == 0 for d in layouts[0][0])
    assert all(d % 2 != 0 for d in layouts[0][1])


def test_two_half_source_one_scan_layout(spark, tmp_path):
    """The shared one-scan source prep must reproduce exactly the
    layout the original two complementary filter+write jobs produced:
    two single part files, the first-half rows in the strictly OLDER
    file (FileStreamSource orders micro-batches by mtime), predicate-
    NULL rows in neither half, the split column not leaked into the
    schema, and a loud failure when a half is empty (a silent
    one-batch collapse would change what the stream queries test)."""
    import os

    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        _two_half_source,
    )

    df = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    # one row with a NULL predicate value: belongs to neither half,
    # exactly like the original pair of complementary filters
    df = df.union(
        spark.sql("SELECT CAST(NULL AS LONG) AS doc_id")
    )
    src = str(tmp_path / "docs")
    _two_half_source(df, F.col("doc_id") % 2 == 0, src)

    files = sorted(os.listdir(src))
    assert files == ["half-0.parquet", "half-1.parquet"]
    assert os.path.getmtime(f"{src}/half-0.parquet") < os.path.getmtime(
        f"{src}/half-1.parquet"
    )
    first = {
        r.doc_id
        for r in spark.read.parquet(f"{src}/half-0.parquet").collect()
    }
    second = {
        r.doc_id
        for r in spark.read.parquet(f"{src}/half-1.parquet").collect()
    }
    assert first == set(range(0, 20, 2))
    assert second == set(range(1, 20, 2))
    assert spark.read.parquet(src).columns == ["doc_id"]
    # no staging leftovers next to the source dir
    assert not os.path.exists(f"{src}__stage")

    with pytest.raises(ValueError):
        _two_half_source(
            df.filter(F.col("doc_id") < 0),
            F.col("doc_id") % 2 == 0,
            str(tmp_path / "empty"),
        )
    with pytest.raises(ValueError):
        _two_half_source(
            df.filter(F.col("doc_id") % 2 == 0),
            F.col("doc_id") % 2 == 0,
            str(tmp_path / "onehalf"),
        )


def test_dedup_sink_restart_from_checkpoint(spark, tmp_path):
    """Spark's actual RESUME path, not just replay: a stream is run to
    completion on the first half of the corpus, STOPPED, and a brand
    new StreamingQuery is started against the SAME checkpoint + epoch
    directories after the second half arrives. The offset log must
    make the restarted query skip the already-committed batch (no
    duplicate signatures) and continue the epoch numbering; the final
    signature/pair/label tables must equal an uninterrupted run over
    the same files. This is the routine cluster event the reference's
    reconnect loop exists for (cmd/gh-archived/main.go:44-52)."""
    import os
    import time

    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        PAIRS_SCHEMA,
        SIGS_SCHEMA,
        fold_cluster_labels,
        incremental_dedup_sink,
    )

    docs = read(spark, SF_DIR, "documents")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 != 0)

    def _pin_mtimes(src):
        # deterministic file order for the file stream (qs12 lesson:
        # same-second writes tie and fall back to path order)
        files = sorted(
            (f for f in os.listdir(src) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(src, f)),
        )
        now = time.time()
        for i, f in enumerate(files):
            os.utime(
                os.path.join(src, f), (now + 100 * i, now + 100 * i)
            )

    def _start(src, ckpt, sink):
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    def _state(base):
        sigs = {
            (r.doc_id, tuple(r.minhash))
            for r in spark.read.schema(SIGS_SCHEMA)
            .parquet(str(base / "sigs"))
            .collect()
        }
        pairs = {
            (r.doc_a, r.doc_b)
            for r in spark.read.schema(PAIRS_SCHEMA)
            .parquet(str(base / "pairs"))
            .collect()
        }
        labels = {
            (r.doc_id, r.cluster_rep)
            for r in spark.read.schema(LABELS_SCHEMA)
            .parquet(str(base / "labels"))
            .collect()
        }
        return sigs, pairs, labels

    def _run(tag, interrupted):
        base = tmp_path / tag
        src = str(base / "docs")
        ckpt = str(base / "ckpt")
        sink = incremental_dedup_sink(
            str(base / "sigs"), str(base / "pairs"), str(base / "labels")
        )
        half1.coalesce(1).write.mode("append").parquet(src)
        if interrupted:
            _start(src, ckpt, sink)  # processes half 1, commits, stops
            half2.coalesce(1).write.mode("append").parquet(src)
            _pin_mtimes(src)
            _start(src, ckpt, sink)  # RESTART: must resume at half 2
        else:
            half2.coalesce(1).write.mode("append").parquet(src)
            _pin_mtimes(src)
            _start(src, ckpt, sink)
        fold_cluster_labels(
            spark, str(base / "pairs"), str(base / "labels")
        )
        return base

    rbase = _run("restarted", interrupted=True)
    ubase = _run("uninterrupted", interrupted=False)

    r_sigs, r_pairs, r_labels = _state(rbase)
    u_sigs, u_pairs, u_labels = _state(ubase)
    # no duplicate signatures: the restarted query did NOT reprocess
    # the committed batch
    assert len({d for d, _ in r_sigs}) == len(r_sigs)
    assert r_sigs == u_sigs and r_sigs
    assert r_pairs == u_pairs
    assert r_labels == u_labels
    # the restarted run resumed epoch numbering from the offset log
    # (epoch partitions 0 AND 1 exist in the sigs table — with the
    # default keep_epochs=4 no fold can fire in a 2-batch run, so
    # there is no consolidated epoch=-1 to hide behind)
    epochs = {
        r.epoch
        for r in spark.read.schema(SIGS_SCHEMA)
        .parquet(str(rbase / "sigs"))
        .select("epoch")
        .distinct()
        .collect()
    }
    assert epochs == {0, 1}
    # and the checkpoint itself committed exactly batches 0 and 1:
    # the restarted query CONTINUED batch numbering from the offset
    # log rather than resetting to 0 and reprocessing
    commits = {
        f
        for f in os.listdir(str(rbase / "ckpt" / "commits"))
        if f.isdigit()
    }
    assert commits == {"0", "1"}


def test_mv_sink_restart_from_checkpoint(spark, tmp_path):
    """The qs7 MV sink under Spark's resume path: run to completion on
    half the events, stop, start a NEW StreamingQuery against the same
    checkpoint + partials dir once the rest arrives — the rolled-up
    view must equal both an uninterrupted run and the batch rollup."""
    import os
    import time

    from gh_archive_clickhouse_spark.streaming.mv import (
        incremental_rollup_sink,
        rollup_view,
    )

    events = read(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 != 0)

    def _start(src, ckpt, sink):
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    def _run(tag, interrupted):
        base = tmp_path / tag
        src, ckpt = str(base / "events"), str(base / "ckpt")
        partials = str(base / "partials")
        sink = incremental_rollup_sink(partials)
        half1.coalesce(1).write.mode("append").parquet(src)
        if interrupted:
            _start(src, ckpt, sink)
            half2.coalesce(1).write.mode("append").parquet(src)
            # keep file order deterministic on restart
            files = sorted(
                f for f in os.listdir(src) if f.endswith(".parquet")
            )
            now = time.time()
            for i, f in enumerate(files):
                os.utime(
                    os.path.join(src, f), (now + 100 * i,) * 2
                )
            _start(src, ckpt, sink)
        else:
            half2.coalesce(1).write.mode("append").parquet(src)
            _start(src, ckpt, sink)
        return {
            (r.day, r.event_type): (
                r.n_events,
                r.min_event_id,
                r.max_event_id,
            )
            for r in rollup_view(spark, partials).collect()
        }

    restarted = _run("restarted", interrupted=True)
    uninterrupted = _run("uninterrupted", interrupted=False)
    batch = {
        (r.day, r.event_type): (r.n, r.mn, r.mx)
        for r in events.groupBy(
            F.date_format("ts", "yyyyMMdd").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("mn"),
            F.max("event_id").alias("mx"),
        )
        .collect()
    }
    assert restarted == uninterrupted == batch and restarted


def test_composed_pipeline_many_batches_with_epoch_folds(spark, tmp_path):
    """The qs15 COMPOSITION under a long stream: the oracle row runs
    two micro-batches (no fold ever fires), but at 100 TB the
    interaction between the gates and the dedup sink's epoch-fold
    machinery is where surprises live. Drive the composed quality →
    mixture → dedup pipeline through SIX single-file micro-batches
    with keep_epochs=2 (minor folds MUST fire mid-stream, renaming
    committed epochs into the consolidated partition while later
    gated batches keep arriving) and assert the survivors cut still
    equals the batch prefix over the same corpus."""
    import os
    import time

    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_features,
    )
    from gh_archive_clickhouse_spark.plans.ext_queries import (
        QX60_BUDGET_PPM,
        QX60_SALT,
        ranked_source_weights,
    )
    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        QS15_QUALITY_BAR,
    )
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        fold_cluster_labels,
        incremental_dedup_sink,
    )

    docs = read(spark, SF_DIR, "documents")
    q_col = quality_features()["quality"]
    snap = docs.withColumn("quality", q_col).filter(
        F.col("quality") >= QS15_QUALITY_BAR
    )
    rates_path = str(tmp_path / "rates")
    mixture_rates(
        snap.select("source"),
        ranked_source_weights(snap),
        budget_ppm=QX60_BUDGET_PPM,
    ).write.parquet(rates_path)
    rates = spark.read.parquet(rates_path)

    sigs_p = str(tmp_path / "sigs")
    pairs_p = str(tmp_path / "pairs")
    labels_p = str(tmp_path / "labels")
    out = str(tmp_path / "curated")
    # keep_epochs=2 over 6 batches: the minor fold fires repeatedly
    # mid-stream, interleaved with the gates.
    dedup = incremental_dedup_sink(
        sigs_p, pairs_p, labels_p, keep_epochs=2
    )

    def _pipe(batch_df, epoch_id):
        gated = mixture_gate(
            batch_df.withColumn("quality", q_col).filter(
                F.col("quality") >= QS15_QUALITY_BAR
            ),
            rates,
            salt=QX60_SALT,
        ).persist()
        try:
            (
                gated.select("doc_id", "source", "quality", "rate_ppm")
                .withColumn("epoch", F.lit(int(epoch_id)))
                .repartition(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(out)
            )
            dedup(gated.select("doc_id", "text"), epoch_id)
        finally:
            gated.unpersist()

    src = str(tmp_path / "docs")
    # Pin mtimes in WRITE order (the qs12 _parquet_files pattern):
    # part filenames are UUIDs, so sorting by name would give a
    # run-dependent arrival order — per-epoch pair attribution (and
    # therefore which epoch dirs ever exist) depends on it.
    seen: set = set()
    order: list = []
    for k in range(6):
        docs.filter(F.col("doc_id") % 6 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        new = {
            f for f in os.listdir(src) if f.endswith(".parquet")
        } - seen
        order.extend(sorted(new))
        seen |= new
    now = time.time()
    for i, f in enumerate(order):
        os.utime(os.path.join(src, f), (now + 60 * i,) * 2)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_pipe)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    fold_cluster_labels(spark, pairs_p, labels_p)

    # The fold machinery actually engaged mid-composition: every
    # batch appends a signature epoch, so at keep_epochs=2 over 6
    # batches the sigs table MUST have consolidated. Pair epochs only
    # exist for batches that discovered new pairs (arrival-order
    # dependent), so assert the table's actual invariant instead:
    # committed epoch dirs stay bounded, never one-per-batch forever.
    assert os.path.isdir(os.path.join(sigs_p, "epoch=-1"))
    pair_epochs = [
        d
        for d in os.listdir(pairs_p)
        if d.startswith("epoch=") and d != "epoch=-1"
    ]
    assert len(pair_epochs) <= 3, pair_epochs  # keep_epochs + current

    drops = (
        spark.read.schema(LABELS_SCHEMA)
        .parquet(labels_p)
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )
    got = {
        r.doc_id
        for r in spark.read.parquet(out)
        .select("doc_id")
        .dropDuplicates(["doc_id"])
        .join(drops, "doc_id", "left_anti")
        .collect()
    }

    # batch prefix over the same corpus: quality -> mixture -> dedup
    gated_batch = mixture_gate(
        docs.withColumn("quality", q_col).filter(
            F.col("quality") >= QS15_QUALITY_BAR
        ),
        rates,
        salt=QX60_SALT,
    )
    want = {
        r.doc_id
        for r in dedup_survivors(
            gated_batch,
            lsh_candidate_pairs(minhash_signatures(gated_batch)),
        )
        .select("doc_id")
        .collect()
    }
    assert got == want and got


def test_composed_pipeline_restart_from_checkpoint(spark, tmp_path):
    """The COMPOSED qs15 pipeline under Spark's resume path: the
    curated table is written with dynamic epoch-partition overwrite,
    so if a restarted query did NOT resume batch numbering from the
    offset log, its first batch would rewrite epoch 0 and silently
    drop previously-curated rows. Run gates+dedup over half the
    files, stop, start a NEW StreamingQuery on the same checkpoint
    with the rest present — the curated read-back and survivors cut
    must equal the batch prefix over the full corpus."""
    import os
    import time

    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from gh_archive_clickhouse_spark.operators.packing import (
        mixture_gate,
        mixture_rates,
    )
    from gh_archive_clickhouse_spark.operators.text_analysis import (
        quality_features,
    )
    from gh_archive_clickhouse_spark.plans.ext_queries import (
        QX60_BUDGET_PPM,
        QX60_SALT,
        ranked_source_weights,
    )
    from gh_archive_clickhouse_spark.plans.streaming_queries import (
        QS15_QUALITY_BAR,
    )
    from gh_archive_clickhouse_spark.streaming.dedup_stream import (
        LABELS_SCHEMA,
        fold_cluster_labels,
        incremental_dedup_sink,
    )

    docs = read(spark, SF_DIR, "documents")
    q_col = quality_features()["quality"]
    snap = docs.withColumn("quality", q_col).filter(
        F.col("quality") >= QS15_QUALITY_BAR
    )
    rates_path = str(tmp_path / "rates")
    mixture_rates(
        snap.select("source"),
        ranked_source_weights(snap),
        budget_ppm=QX60_BUDGET_PPM,
    ).write.parquet(rates_path)
    rates = spark.read.parquet(rates_path)

    out = str(tmp_path / "curated")
    dedup = incremental_dedup_sink(
        str(tmp_path / "sigs"),
        str(tmp_path / "pairs"),
        str(tmp_path / "labels"),
    )

    def _pipe(batch_df, epoch_id):
        gated = mixture_gate(
            batch_df.withColumn("quality", q_col).filter(
                F.col("quality") >= QS15_QUALITY_BAR
            ),
            rates,
            salt=QX60_SALT,
        ).persist()
        try:
            (
                gated.select("doc_id", "source", "quality", "rate_ppm")
                .withColumn("epoch", F.lit(int(epoch_id)))
                .repartition(1)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(out)
            )
            dedup(gated.select("doc_id", "text"), epoch_id)
        finally:
            gated.unpersist()

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")

    def _write_half(pred, offset):
        before = {
            f
            for f in (os.listdir(src) if os.path.isdir(src) else [])
            if f.endswith(".parquet")
        }
        docs.filter(pred).coalesce(1).write.mode("append").parquet(src)
        new = {
            f for f in os.listdir(src) if f.endswith(".parquet")
        } - before
        now = time.time()
        for f in sorted(new):
            os.utime(os.path.join(src, f), (now + offset,) * 2)

    def _start():
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_pipe)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    _write_half(F.col("doc_id") % 2 == 0, 0)
    _start()  # processes half 1 as epoch 0, commits, stops
    _write_half(F.col("doc_id") % 2 != 0, 100)
    _start()  # RESTART: must resume as epoch 1, not rewrite epoch 0
    fold_cluster_labels(
        spark, str(tmp_path / "pairs"), str(tmp_path / "labels")
    )

    # both curated epochs survived the restart (0 was not clobbered)
    curated = spark.read.parquet(out)
    assert {r.epoch for r in curated.select("epoch").distinct().collect()} == {
        0,
        1,
    }
    drops = (
        spark.read.schema(LABELS_SCHEMA)
        .parquet(str(tmp_path / "labels"))
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )
    got = {
        r.doc_id
        for r in curated.select("doc_id")
        .dropDuplicates(["doc_id"])
        .join(drops, "doc_id", "left_anti")
        .collect()
    }
    gated_batch = mixture_gate(
        docs.withColumn("quality", q_col).filter(
            F.col("quality") >= QS15_QUALITY_BAR
        ),
        rates,
        salt=QX60_SALT,
    )
    want = {
        r.doc_id
        for r in dedup_survivors(
            gated_batch,
            lsh_candidate_pairs(minhash_signatures(gated_batch)),
        )
        .select("doc_id")
        .collect()
    }
    assert got == want and got
