"""Batch ingestion path: NDJSON parse (P1), partitioned sink contract
(D2/D3/D5), dedup view (D1), TTL partition drop (D4), backfill fetch
(S6-S9)."""

from __future__ import annotations

import gzip
import http.server
import json
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.operators.ttl import drop_expired_partitions
from gh_archive_clickhouse_spark.sources.gharchive import (
    backfill,
    fetch_hours,
    hour_keys,
)
from gh_archive_clickhouse_spark.sources.ndjson import load_events
from gh_archive_clickhouse_spark.sources.sinks import (
    compact,
    dedup_view,
    read_events,
    write_events,
)


def _event(i, created="2020-01-01T15:04:05Z", id_as_string=True, **extra):
    ev = {
        "id": str(i) if id_as_string else i,
        "type": "PushEvent",
        "actor": {"id": 7, "login": f"user{i}", "display_login": f"user{i}"},
        "repo": {"id": 42, "name": "org/repo"},
        "payload": {"push_id": 1, "size": 3, "ref": "refs/heads/main"},
        "public": True,
        "created_at": created,
    }
    ev.update(extra)
    return json.dumps(ev, separators=(",", ":"))


@pytest.fixture()
def ndjson_dir(tmp_path):
    lines = [
        _event(1),
        _event(2, id_as_string=False),  # numeric id (gh.go:104-114)
        _event(3, created="2020-01-02T00:00:00Z"),
        _event(3, created="2020-01-02T00:00:00Z"),  # exact duplicate row
        _event(4, created="2020-01-06T10:00:00Z"),
        json.dumps({"id": "x", "created_at": "2020-01-01T00:00:00Z"}),  # bad id
        json.dumps({"id": "9"}),  # missing created_at
        _event(5, msg="uniçøde \"quoted\" text"),
    ]
    gz = tmp_path / "2020-01-01-15.json.gz"
    gz.write_bytes(gzip.compress(("\n".join(lines)).encode()))
    return tmp_path


def test_parse_p1_projection(spark, ndjson_dir):
    df = load_events(spark, str(ndjson_dir / "*.json.gz"))
    rows = {r.id: r for r in df.collect()}
    # bad id and missing created_at dropped; 5 ids remain (3 twice)
    assert set(rows) == {1, 2, 3, 4, 5}
    assert df.count() == 6
    # compare instants, not rendered datetimes: collect() localizes
    # naive timestamps to the host TZ, which must not matter
    import calendar
    import datetime as dt

    want = calendar.timegm(
        dt.datetime(2020, 1, 1, 15, 4, 5).timetuple()
    )
    assert rows[1].ts.timestamp() == want
    assert "uni" in rows[5].raw  # raw JSON preserved verbatim
    assert df.schema.simpleString() == "struct<id:bigint,ts:timestamp,raw:string>"


def test_sink_contract_and_ttl(spark, ndjson_dir, tmp_path):
    events = load_events(spark, str(ndjson_dir / "*.json.gz"))
    out = str(tmp_path / "events_raw")
    write_events(events, out)

    # D2: daily partition layout
    parts = sorted(
        p.name for p in Path(out).iterdir() if p.name.startswith("dt=")
    )
    assert parts == ["dt=20200101", "dt=20200102", "dt=20200106"]

    # partition pruning visible in the plan
    pruned = read_events(spark, out).filter(F.col("dt") == "20200102")
    assert pruned.count() == 2
    explain = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in explain

    # D1: dedup view collapses the duplicated (ts, id)
    assert dedup_view(read_events(spark, out)).count() == 5

    # merge-analog compaction job → physically deduped table
    compacted = str(tmp_path / "events_compacted")
    compact(spark, out, compacted)
    assert read_events(spark, compacted).count() == 5

    # D4: TTL = drop whole expired partitions (metadata-only)
    dropped = drop_expired_partitions(out, cutoff_yyyymmdd="20200103")
    assert dropped == ["dt=20200101", "dt=20200102"]
    assert read_events(spark, out).count() == 1


def test_hour_keys_match_reference_format():
    keys = hour_keys("2020-01-01T22", "2020-01-02T03")
    assert keys == [
        "2020-01-01-22",
        "2020-01-01-23",
        "2020-01-02-0",
        "2020-01-02-1",
        "2020-01-02-2",
    ]


class _ArchiveHandler(http.server.BaseHTTPRequestHandler):
    """Serves one good hour file; everything else 404s (gap-tolerance,
    gh-load/main.go:67-70)."""

    payload = gzip.compress(
        ("\n".join(_event(i) for i in range(10))).encode()
    )

    def do_GET(self):
        if self.path == "/2020-01-01-15.json.gz":
            self.send_response(200)
            self.end_headers()
            self.wfile.write(self.payload)
        else:
            self.send_response(404)
            self.end_headers()

    def log_message(self, *a):
        pass


def test_backfill_fetch_with_404_gap(spark):
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _ArchiveHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{server.server_port}"
        df = backfill(
            spark,
            "2020-01-01T15",
            "2020-01-01T17",  # second hour 404s and is skipped
            base_url=base,
            jobs=2,
            max_retries=2,
            backoff_s=0.01,
        )
        assert df.count() == 10
        assert df.agg(F.min("id"), F.max("id")).first() == (0, 9)
    finally:
        server.shutdown()


def _unsorted_part_files(root: Path) -> list[str]:
    """Part files under ``root``'s ``dt=`` directories whose rows are
    not in ``(ts, id)`` order."""
    import pyarrow.parquet as pq

    bad = []
    for f in sorted(root.glob("dt=*/*.parquet")):
        t = pq.read_table(f, columns=["ts", "id"])
        keys = list(zip(t["ts"].to_pylist(), t["id"].to_pylist()))
        if keys != sorted(keys):
            bad.append(str(f.relative_to(root)))
    return bad


def test_events_part_files_sorted_on_ts_id(spark, tmp_path):
    """ORDER BY (ts, id) holds inside every part file of both the
    ingested and the compacted table. The planned write sorts on
    ``dt``; a ``(ts, id)`` sort that does not lead with ``dt`` is
    dropped under it."""
    # 3 days from 4 input partitions, rows in scrambled (ts, id) order,
    # 3 rows per ts so the id tie-break is exercised
    df = spark.range(6000, numPartitions=4).selectExpr(
        "(id * 7919) % 6000 AS id",
        "timestamp_seconds(1577836800 + ((id * 104729) % 2000) * 120) AS ts",
        "CAST(id AS string) AS raw",
    )
    out, comp = tmp_path / "events", tmp_path / "compacted"
    write_events(df, str(out))
    compact(spark, str(out), str(comp))
    for root in (out, comp):
        assert len(list(root.glob("dt=*"))) == 3
        assert list(root.glob("dt=*/*.parquet"))
        assert _unsorted_part_files(root) == []


def _raw_event(i: int, **extra) -> str:
    ev = {"id": str(i), "created_at": "2020-01-01T15:04:05Z", **extra}
    return json.dumps(ev, ensure_ascii=False, separators=(",", ":"))


# Lines the reference's bufio.ScanLines keeps whole: U+2028, U+2029 and
# U+0085 raw inside strings (json.dumps(ensure_ascii=False) writes them
# so), a bare CR as whitespace between tokens, and a CRLF line ending.
_SEPARATOR_EVENTS = [
    _raw_event(0, msg="para\u2028graph"),
    _raw_event(1, msg="next\u0085line"),
    _raw_event(2, msg="page\u2029break"),
    '{"id":"3",\r"created_at":"2020-01-01T15:04:05Z"}',
    _raw_event(4, msg="crlf"),
]


class _SeparatorHourHandler(_ArchiveHandler):
    payload = gzip.compress(("\n".join(_SEPARATOR_EVENTS) + "\r\n").encode())


def test_backfill_keeps_lines_with_unicode_separators(spark):
    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _SeparatorHourHandler
    )
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        df = backfill(
            spark,
            "2020-01-01T15",
            "2020-01-01T16",
            base_url=f"http://127.0.0.1:{server.server_port}",
            jobs=2,
            max_retries=2,
            backoff_s=0.01,
        )
        got = {r["id"]: r["raw"] for r in df.select("id", "raw").collect()}
        assert got == dict(enumerate(_SEPARATOR_EVENTS))
    finally:
        server.shutdown()


def test_fetch_hours_worker_pool_is_a_range_without_shuffle(spark):
    keys = hour_keys("2020-01-01T00", "2020-01-01T07")
    df = fetch_hours(spark, keys, base_url="http://127.0.0.1:9", jobs=3)
    qe = df._jdf.queryExecution()
    assert qe.toRdd().getNumPartitions() == 3
    plan = qe.executedPlan().toString()
    assert "Exchange" not in plan
    assert "ExistingRDD" not in plan
    with pytest.raises(ValueError):
        fetch_hours(spark, ["2020-01-01-0\n2020-01-01-1"])


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """orders ⋈ lineitem both bucketed on the join key: the join plan
    must contain NO Exchange — each task reads matching buckets from
    both sides. The storage-level shuffle elimination that makes
    repeated fact-fact joins affordable at 100 TB."""
    from pyspark.sql import functions as F

    from gh_archive_clickhouse_spark.plans.common import read
    from gh_archive_clickhouse_spark.sources.sinks import write_bucketed
    from tests.conftest import SF_DIR

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # disable auto-broadcast so the join exercises the bucketed
    # sort-merge path (at real scale neither fact side broadcasts)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    orders = read(spark, SF_DIR, "orders")
    lineitem = read(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", 4)
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 4)
    try:
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = lb.join(
            ob, F.col("l_orderkey") == F.col("o_orderkey")
        ).groupBy("o_orderstatus").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # join must read bucketed scans with NO shuffle on either side;
        # the single allowed exchange is the tiny final aggregation's
        assert "SortMergeJoin" in plan, plan[:2000]
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert "SelectedBucketsCount" in plan
        # and it must produce the same result as the un-bucketed join
        expect = (
            lineitem.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey")
            ).groupBy("o_orderstatus").count()
        )
        got = {r.o_orderstatus: r["count"] for r in joined.collect()}
        want = {r.o_orderstatus: r["count"] for r in expect.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


# ---- ClickHouse sink (S10): fake-client contract tests ---------------


class _FakeCHClient:
    """Records inserts to a JSONL file: survives the executor->driver
    process boundary that an in-memory list would not."""

    def __init__(self, log_path):
        self.log_path = log_path
        self.closed = False

    def insert(self, table, rows, column_names):
        import json as _json

        with open(self.log_path, "a") as f:
            f.write(
                _json.dumps(
                    {
                        "table": table,
                        "n": len(rows),
                        "cols": list(column_names),
                        "rows": [list(r) for r in rows],
                    }
                )
                + "\n"
            )

    def close(self):
        self.closed = True


def test_partition_inserter_batch_cut(tmp_path):
    """Rows are flushed in blocks of batch_rows — the reference's
    10 000-row block cut (cmd/gh-load/main.go:143-146) — and the
    client is closed even on the short final block."""
    from gh_archive_clickhouse_spark.sources.sinks import partition_inserter

    log = tmp_path / "inserts.jsonl"
    made = []

    def factory():
        c = _FakeCHClient(str(log))
        made.append(c)
        return c

    ins = partition_inserter("t", ["id", "v"], factory, batch_rows=3)
    ins(iter([(i, i * 2) for i in range(8)]))
    recs = [json.loads(line) for line in log.read_text().splitlines()]
    assert [r["n"] for r in recs] == [3, 3, 2]
    assert all(r["table"] == "t" and r["cols"] == ["id", "v"] for r in recs)
    flat = [tuple(row) for r in recs for row in r["rows"]]
    assert flat == [(i, i * 2) for i in range(8)]
    assert len(made) == 1 and made[0].closed


def test_clickhouse_writer_per_partition_executor_side(spark, tmp_path):
    """The foreachBatch callable inserts from EXECUTOR tasks (one
    client per partition), never via driver toPandas: every input row
    lands exactly once, across >= npartitions client sessions."""
    from gh_archive_clickhouse_spark.sources.sinks import clickhouse_writer

    log = str(tmp_path / "inserts.jsonl")

    # Defined in function scope (no module-level bases) so cloudpickle
    # ships it BY VALUE to the executor workers — the test module is
    # not importable there, exactly the constraint a real
    # client_factory must satisfy too.
    class _ExecFake:
        def __init__(self, path):
            self.path = path

        def insert(self, table, rows, column_names):
            import json as _json

            with open(self.path, "a") as f:
                f.write(
                    _json.dumps(
                        {
                            "table": table,
                            "n": len(rows),
                            "cols": list(column_names),
                            "rows": [list(r) for r in rows],
                        }
                    )
                    + "\n"
                )

        def close(self):
            pass

    def factory(path=log):
        return _ExecFake(path)

    writer = clickhouse_writer("events_ch", batch_rows=40, client_factory=factory)
    df = spark.range(100).selectExpr("id", "id * id AS sq").repartition(4)
    writer(df, epoch_id=0)
    recs = [json.loads(line) for line in Path(log).read_text().splitlines()]
    assert sum(r["n"] for r in recs) == 100
    assert all(r["n"] <= 40 for r in recs)
    assert len(recs) >= 4  # at least one block per partition
    got = sorted(tuple(row) for r in recs for row in r["rows"])
    assert got == [(i, i * i) for i in range(100)]


def test_catalog_partition_ttl(spark, tmp_path):
    """Object-store-safe TTL: partitions enumerated and dropped through
    the CATALOG (SHOW PARTITIONS / ALTER TABLE DROP PARTITION), never a
    filesystem walk — the form that works on s3:// table roots."""
    from gh_archive_clickhouse_spark.operators.ttl import (
        drop_expired_partitions_catalog,
    )

    df = spark.createDataFrame(
        [(1, "20240101"), (2, "20240102"), (3, "20240103")],
        "id long, dt string",
    )
    spark.sql("DROP TABLE IF EXISTS ttl_events")
    (
        df.write.mode("overwrite")
        .partitionBy("dt")
        .format("parquet")
        .saveAsTable("ttl_events")
    )
    try:
        dropped = drop_expired_partitions_catalog(
            spark, "ttl_events", cutoff_yyyymmdd="20240103"
        )
        assert dropped == ["dt=20240101", "dt=20240102"]
        left = [r[0] for r in spark.sql("SHOW PARTITIONS ttl_events").collect()]
        assert left == ["dt=20240103"]
        assert spark.table("ttl_events").count() == 1
        # idempotent: nothing left to drop below the cutoff
        assert drop_expired_partitions_catalog(
            spark, "ttl_events", "20240103"
        ) == []
    finally:
        spark.sql("DROP TABLE IF EXISTS ttl_events")


def test_catalog_partition_ttl_guards(spark):
    """Catalog TTL validates everything it interpolates into SQL and
    refuses multi-column partition specs instead of comparing/dropping
    the corrupt first-'='-split value (round-2 ADVICE defect)."""
    from gh_archive_clickhouse_spark.operators.ttl import (
        drop_expired_partitions_catalog,
    )

    with pytest.raises(ValueError, match="table identifier"):
        drop_expired_partitions_catalog(
            spark, "x; DROP TABLE y", "20240101"
        )
    with pytest.raises(ValueError, match="column identifier"):
        drop_expired_partitions_catalog(
            spark, "t", "20240101", partition_col="dt') --"
        )
    with pytest.raises(ValueError, match="yyyyMMdd"):
        drop_expired_partitions_catalog(spark, "t", "2024-01-01")

    df = spark.createDataFrame(
        [(1, "20240101", "05"), (2, "20240103", "06")],
        "id long, dt string, hour string",
    )
    spark.sql("DROP TABLE IF EXISTS ttl_events_mc")
    (
        df.write.mode("overwrite")
        .partitionBy("dt", "hour")
        .format("parquet")
        .saveAsTable("ttl_events_mc")
    )
    try:
        with pytest.raises(ValueError, match="multi-column"):
            drop_expired_partitions_catalog(
                spark, "ttl_events_mc", "20240103"
            )
        # nothing was dropped
        assert spark.table("ttl_events_mc").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS ttl_events_mc")


def test_clickhouse_real_protocol_roundtrip(spark):
    """REAL ClickHouse round trip through the default client path of
    clickhouse_writer (clickhouse-connect built from client_kwargs —
    the same wire protocol the reference's sink speaks,
    cmd/gh-archived/main.go:62-93). Env-skipped where the package or a
    server is absent (this container ships neither); the fake-client
    tests above pin the batching/executor contract everywhere."""
    import os

    pytest.importorskip("clickhouse_connect")
    host = os.environ.get("CLICKHOUSE_HOST")
    if not host:
        pytest.skip("CLICKHOUSE_HOST not set — no server to target")
    import clickhouse_connect

    from gh_archive_clickhouse_spark.sources.sinks import clickhouse_writer

    port = int(os.environ.get("CLICKHOUSE_PORT", "8123"))
    admin = clickhouse_connect.get_client(host=host, port=port)
    admin.command(
        "CREATE TABLE IF NOT EXISTS sg_roundtrip "
        "(id Int64, v Int64) ENGINE = MergeTree ORDER BY id"
    )
    admin.command("TRUNCATE TABLE sg_roundtrip")
    try:
        df = spark.range(100).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        writer = clickhouse_writer(
            "sg_roundtrip", batch_rows=30, host=host, port=port
        )
        writer(df.repartition(4), epoch_id=0)
        n, sv = admin.query(
            "SELECT count(), sum(v) FROM sg_roundtrip"
        ).result_rows[0]
        assert (n, sv) == (100, 9900)
    finally:
        admin.command("DROP TABLE IF EXISTS sg_roundtrip")
        admin.close()
