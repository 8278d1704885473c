"""The four benchmark workloads.

Each workload is a closed loop with one client. It warms up untimed
(pinning the output fingerprints and cross-checking them), then times
operations until ``--seconds`` have passed, and fills a :class:`Run`
with per-operation records, output checks and its headline numbers.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timedelta
from decimal import Decimal

from benchstats import fingerprint, fingerprint_columns, median, tail
from tracing import plan_stats

# Query subsets sized so that one run (start-up, cold pass, timed loop)
# fits the benchmark's per-run budget; see README.md.
ARCHIVE_QUERIES = (
    "qe1_dedup_latest",
    "qe4_hourly_type_series",
    "qe7_sessionization",
    "qe13_funnel",
    "qe15_hourly_anomaly",
    "qt1_pricing_summary",
    "qt2_regional_revenue",
    "qt5_rollup",
    "qt10_window_battery",
    "qt21_market_share",
)
CURATION_QUERIES = (
    "qx32_semantic_dedup",
    "qx57_split_leakage_cut",
)
# Untimed rounds before timing: the first pays codegen, the second the
# JIT warm-up that still slowed the first timed round by 15-25%.
WARM_ROUNDS = 2
BACKFILL_HOURS = 24
BACKFILL_PER_HOUR = 1000
STREAM_DOCS = 300
STREAM_EPOCHS = 6
# Epochs kept unfolded; 2 (the package default is 4) makes a short
# stream reach the size-tiered folds and label refreshes it exists to
# measure, and lets a 3-epoch warm-up stream pay for both.
STREAM_KEEP_EPOCHS = 2
STREAM_WARM_EPOCHS = 3


class Run:
    """Everything one benchmark run measured."""

    def __init__(self, spark, work, seed, seconds, trace, tracer, counters):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = tracer
        self.counters = counters
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.warm_s = 0.0
        self.busy_s = 0.0
        self.report: dict[str, tuple[float | None, str, int, str]] = {}
        self.notes: dict[str, object] = {}
        self._duck = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def put(self, name, value, unit, n, note=""):
        self.report[name] = (value, unit, n, note)

    @contextmanager
    def tracing(self, on: bool, op: str):
        """Record spans of ``op`` inside the block when ``on``."""
        if self.tracer is not None:
            self.tracer.op = op
            self.tracer.enabled = on
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.enabled = False

    def start_op(self) -> tuple[float, float]:
        """(epoch, perf_counter) at an operation's start; jobs started
        before it are not counted as the operation's."""
        if self.counters is not None:
            self.counters.skip()
        return time.time(), time.perf_counter()

    def collect_counters(self, rec: dict, wall, epoch0: float) -> None:
        if self.counters is not None:
            rec.update(self.counters.collect(wall, epoch0))

    def pass_s(self) -> float:
        """One pass over the operation set: the sum over distinct
        operations of each one's median wall."""
        by: dict[str, list[float]] = {}
        for o in self.ops:
            if o["ok"]:
                by.setdefault(o["name"], []).append(o["wall"])
        return sum(median(v) for v in by.values())

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops) + sum(
            not c["ok"] for c in self.checks
        )


def _shuffled(rng: random.Random, names) -> list[str]:
    out = list(names)
    rng.shuffle(out)
    return out


def _traced_round(trace: bool, i: int) -> bool:
    """Traced rounds of a traced run, in the order untraced, traced,
    traced, untraced, ... so that warming drift cancels out of the
    tracing overhead estimate."""
    return trace and i % 4 in (1, 2)


def _least_rounds(trace: bool) -> int:
    """Timed rounds a run makes however long they take: a traced run
    needs a full untraced, traced, traced, untraced cycle."""
    return 4 if trace else 1


def _keep_going(t0: float, seconds: float, last: float, done: int, least: int) -> bool:
    """Start another round while its expected end stays within half a
    round of the time target."""
    elapsed = time.perf_counter() - t0
    return done < least or elapsed + 0.5 * last <= seconds


# --------------------------------------------------------------------------
# output checks


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if hasattr(v, "item") and not hasattr(v, "__len__"):
        return _norm(v.item())
    if hasattr(v, "tolist"):
        return _norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return str(v)
    return v


def frames_equal(a, b) -> tuple[bool, str]:
    """Order-insensitive equality of two pandas frames on sorted column
    names; numbers compare as exact doubles, NaN as NULL."""
    ca, cb = sorted(a.columns), sorted(b.columns)
    if ca != cb:
        return False, f"columns {ca} != {cb}"
    if len(a) != len(b):
        return False, f"rows {len(a)} != {len(b)}"
    ra = sorted((tuple(_norm(x) for x in r) for r in a[ca].itertuples(index=False)), key=repr)
    rb = sorted((tuple(_norm(x) for x in r) for r in b[ca].itertuples(index=False)), key=repr)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return False, f"row {i}: {x!r} != {y!r}"
    return True, ""


def _oracle_check(run: Run, name: str, sql: str | None, df, fp, sf_dir: str, budget: float) -> None:
    """Cross-check a pinned fingerprint ``fp`` of ``df`` against the
    DuckDB oracle, if the oracle finishes within ``budget`` seconds;
    otherwise the query is recorded as checked only against Spark.

    The oracle's rows are fingerprinted the same way; only when the two
    fingerprints differ (a type the conversion cannot carry exactly, or
    a real mismatch) are the rows collected and compared one by one."""
    only = run.notes.setdefault("spark_only", {})
    if sql is None:
        only[name] = "no oracle SQL"
        return
    import duckdb

    if run._duck is None:
        run._duck = duckdb.connect()
        run._duck.execute("SET threads=2")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                run._duck.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{f}')"
                )
    con = run._duck
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as exc:  # interrupted, or SQL the oracle cannot run
        only[name] = f"oracle not finished in {budget:.2f} s ({type(exc).__name__})"
        return
    finally:
        timer.cancel()
    if sorted(odf.columns) == sorted(df.columns):
        try:
            ofp = fingerprint(run.spark.createDataFrame(odf[df.columns], schema=df.schema))
        except Exception:  # a column the conversion cannot carry: compare rows
            ofp = None
        if ofp is not None and list(ofp) == list(fp):
            run.check(f"oracle:{name}", True)
            return
    ok, detail = frames_equal(df.toPandas(), odf)
    run.check(f"oracle:{name}", ok, detail)


# --------------------------------------------------------------------------
# registry workloads: archive_queries and curation


def _invoke(run: Run, name: str, builder, sf_dir: str, traced: bool):
    e0, t0 = run.start_op()
    with run.tracing(traced, name):
        df = builder(run.spark, sf_dir)
        t1 = time.perf_counter()
        fp_df = df.agg(*fingerprint_columns(df))
        row = fp_df.collect()[0]
        t2 = time.perf_counter()
    rec = {
        "name": name,
        "wall": t2 - t0,
        "builder_s": t1 - t0,
        "action_s": t2 - t1,
        "fp": [int(row["rows"]), row["hash_sum"]],
        "traced": traced,
        "ok": True,
    }
    if run.counters is not None:
        run.collect_counters(rec, (t0, t2), e0)
        rec.update(plan_stats(fp_df))
    return rec, df


def registry_workload(run: Run, names, sf_dir: str) -> None:
    from gh_archive_clickhouse_spark.plans.registry import QUERIES

    rng = random.Random(run.seed)
    pinned: dict[str, list | None] = {}
    warm_pass = 0.0
    for warm_round in range(WARM_ROUNDS):
        warm_pass = 0.0
        for name in _shuffled(rng, names):
            q = QUERIES[name]
            try:
                rec, df = _invoke(run, name, q.builder, sf_dir, traced=False)
            except Exception as exc:
                # no pinned value: every timed invocation of it fails too
                run.check(f"warmup:{name}", False, repr(exc)[:300])
                pinned[name] = None
                continue
            warm_pass += rec["wall"]
            run.warm_s += rec["wall"]
            if warm_round == 0:
                pinned[name] = rec["fp"]
                _oracle_check(run, name, q.oracle, df, rec["fp"], sf_dir, budget=rec["wall"])
            elif rec["fp"] != pinned[name]:
                run.check(f"warmup:{name}", False, "fingerprint differs between invocations")

    t0 = time.perf_counter()
    passes: list[float] = []
    last = warm_pass
    while _keep_going(t0, run.seconds, last, len(passes), _least_rounds(run.trace)):
        traced = _traced_round(run.trace, len(passes))
        p0 = time.perf_counter()
        for name in _shuffled(rng, names):
            try:
                rec, _ = _invoke(run, name, QUERIES[name].builder, sf_dir, traced)
                rec["ok"] = rec["fp"] == pinned[name]
            except Exception as exc:
                rec = {"name": name, "wall": 0.0, "ok": False, "traced": traced,
                       "error": repr(exc)[:300]}
            rec["pass"] = len(passes)
            run.ops.append(rec)
        last = time.perf_counter() - p0
        passes.append(last)
    run.busy_s = sum(o["wall"] for o in run.ops)
    walls = [o["wall"] for o in run.ops if o["ok"]]
    run.put("passes", float(len(passes)), "count", len(passes))
    run.put("query_p50_s", median(walls), "s", len(walls))
    tv, tp = tail(walls)
    run.put("query_tail_s", tv, "s", len(walls), f"p{tp}" if tp else "fewer than 11 samples")
    run.put("queries_per_s", len(walls) / sum(walls) if walls else 0.0, "1/s", len(walls))


def archive_queries(run: Run, sf_dir: str) -> None:
    registry_workload(run, ARCHIVE_QUERIES, sf_dir)


def curation(run: Run, sf_dir: str) -> None:
    registry_workload(run, CURATION_QUERIES, sf_dir)


# --------------------------------------------------------------------------
# backfill


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def backfill(run: Run, hours_dir: str, gen: dict) -> None:
    from gh_archive_clickhouse_spark.sources import gharchive, sinks

    spark = run.spark
    url = "file://" + os.path.abspath(hours_dir)
    keys = sorted(
        (f[: -len(".json.gz")] for f in os.listdir(hours_dir) if f.endswith(".json.gz")),
        key=_hour_of,
    )
    start = f"{_hour_of(keys[0]):%Y-%m-%dT%H}"
    end = f"{_hour_of(keys[-1]) + timedelta(hours=1):%Y-%m-%dT%H}"
    jobs = spark.sparkContext.defaultParallelism

    def rep(i: int, traced: bool) -> dict:
        out, comp = f"{run.work}/events_{i}", f"{run.work}/compact_{i}"
        rec = {"name": "backfill", "traced": traced, "ok": True}
        if traced:
            # the pipeline timed prefix by prefix, each to the noop sink
            with run.tracing(True, "backfill"):
                t = time.perf_counter()
                _noop(gharchive.fetch_hours(spark, keys, base_url=url, jobs=jobs))
                rec["fetch_s"] = time.perf_counter() - t
                t = time.perf_counter()
                _noop(gharchive.backfill(spark, start, end, base_url=url, jobs=jobs))
                rec["parse_s"] = time.perf_counter() - t - rec["fetch_s"]
        e0, t0 = run.start_op()
        with run.tracing(traced, "backfill"):
            sinks.write_events(
                gharchive.backfill(spark, start, end, base_url=url, jobs=jobs), out
            )
            t1 = time.perf_counter()
            sinks.compact(spark, out, comp)
            t2 = time.perf_counter()
        rec.update(wall=t2 - t0, ingest_s=t1 - t0, compact_s=t2 - t1)
        run.collect_counters(rec, (t0, t2), e0)
        if traced:
            rec["write_events_s"] = rec["ingest_s"] - rec["fetch_s"] - rec["parse_s"]
        rec["files_written"], rec["bytes_written"] = _dir_bytes(comp)
        ingested = spark.read.parquet(out).count()
        rows = spark.read.parquet(comp).count()
        rec["rows_kept_frac"] = ingested / gen["lines"]
        rec["ok"] = rows == gen["distinct_keys"] and ingested == gen["valid"]
        if not rec["ok"]:
            rec["error"] = (
                f"compacted {rows} rows, expected {gen['distinct_keys']}; "
                f"ingested {ingested}, expected {gen['valid']}"
            )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(comp, ignore_errors=True)
        return rec

    for warm_round in range(WARM_ROUNDS):
        try:
            w = rep(-1 - warm_round, traced=False)
            run.check(f"backfill:warmup{warm_round}", w["ok"], w.get("error", ""))
        except Exception as exc:
            w = {"wall": 0.0}
            run.check(f"backfill:warmup{warm_round}", False, repr(exc)[:300])
        run.warm_s += w["wall"]

    t0 = time.perf_counter()
    last = w["wall"]
    i = 0
    while _keep_going(t0, run.seconds, last, i, _least_rounds(run.trace)):
        try:
            rec = rep(i, traced=_traced_round(run.trace, i))
        except Exception as exc:
            rec = {"name": "backfill", "wall": 0.0, "ok": False, "traced": False,
                   "error": repr(exc)[:300]}
        run.ops.append(rec)
        last = rec["wall"] or last
        i += 1
    good = [o for o in run.ops if o["ok"]]
    n_ev = gen["valid"]
    run.busy_s = sum(o["wall"] for o in run.ops)
    ing = [o["ingest_s"] for o in good]
    cmp_ = [o["compact_s"] for o in good]
    run.put("ingest_events_per_s", n_ev / median(ing) if ing else 0.0, "1/s", len(ing))
    run.put("compact_events_per_s", n_ev / median(cmp_) if cmp_ else 0.0, "1/s", len(cmp_))
    stored = median([o["bytes_written"] for o in good]) if good else 0.0
    run.put("stored_bytes_per_event_byte", stored / gen["raw_bytes"], "ratio", len(good))


def _hour_of(key: str) -> datetime:
    """The hour an archive key ``YYYY-MM-DD-H`` names."""
    d, h = key.rsplit("-", 1)
    return datetime.strptime(d, "%Y-%m-%d") + timedelta(hours=int(h))


# --------------------------------------------------------------------------
# stream_dedup


def _stream_once(run: Run, src: str, base: str, traced: bool) -> dict:
    from gh_archive_clickhouse_spark.streaming import dedup_stream

    spark = run.spark
    pairs, labels = f"{base}/pairs", f"{base}/labels"
    inner = dedup_stream.incremental_dedup_sink(
        f"{base}/sigs", pairs, labels, keep_epochs=STREAM_KEEP_EPOCHS
    )
    sink_s: dict[int, float] = {}
    folds = {"major": 0, "minor": 0, "none": 0}

    def sink(batch_df, epoch_id):
        t = time.perf_counter()
        kinds = inner(batch_df, epoch_id)
        sink_s[int(epoch_id)] = time.perf_counter() - t
        for k in kinds.values():
            folds[k] += 1
        return kinds

    schema = spark.read.parquet(src).schema
    e0, t0 = run.start_op()
    with run.tracing(traced, "stream"):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{base}/ckpt")
            .start()
        )
        q.awaitTermination()
        t1 = time.perf_counter()
        # close the books: the exact label refresh at stream end
        dedup_stream.fold_cluster_labels(spark, pairs, labels)
        t2 = time.perf_counter()
    batches = []
    for p in q.recentProgress:
        if p.numInputRows:
            start = _iso_s(p.timestamp)
            dur = p.durationMs.get("triggerExecution", 0) / 1000.0
            batches.append({"batch": p.batchId, "start": start, "trigger_s": dur,
                            "rows": p.numInputRows,
                            "sink_s": sink_s.get(p.batchId, 0.0)})
    gaps = [
        b["start"] - (a["start"] + a["trigger_s"])
        for a, b in zip(batches, batches[1:])
    ]
    rec = {"name": "stream", "traced": traced, "ok": True, "wall": t2 - t0,
           "stream_s": t1 - t0, "close_s": t2 - t1, "batches": batches,
           "inter_trigger_s": gaps, "folds": folds,
           "state_bytes": sum(_dir_bytes(base)[1:])}
    run.collect_counters(rec, (t0, t2), e0)
    return rec


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _survivors(run: Run, docs_path: str, labels: str) -> set[int]:
    from pyspark.sql import functions as F

    from gh_archive_clickhouse_spark.streaming.dedup_stream import LABELS_SCHEMA

    spark = run.spark
    drops = (
        spark.read.schema(LABELS_SCHEMA).parquet(labels)
        .filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    )
    docs = spark.read.parquet(docs_path)
    return {r[0] for r in docs.join(drops, "doc_id", "left_anti").select("doc_id").collect()}


def stream_dedup(run: Run, docs_path: str, src: str, warm_src: str) -> None:
    from gh_archive_clickhouse_spark.operators.dedup import (
        dedup_survivors,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    spark = run.spark
    for warm_round in range(WARM_ROUNDS):
        base = f"{run.work}/stream_warm{warm_round}"
        try:
            w = _stream_once(run, warm_src, base, traced=False)
        except Exception as exc:
            w = {"wall": 0.0}
            run.check(f"stream:warmup{warm_round}", False, repr(exc)[:300])
        run.warm_s += w["wall"]
        shutil.rmtree(base, ignore_errors=True)

    docs = spark.read.parquet(docs_path)
    expect = {
        r[0]
        for r in dedup_survivors(docs, lsh_candidate_pairs(minhash_signatures(docs)))
        .select("doc_id").collect()
    }
    n_docs = docs.count()

    t0 = time.perf_counter()
    last = w["wall"]
    i = 0
    streams = []
    while _keep_going(t0, run.seconds, last, i, 2 if run.trace else 1):
        base = f"{run.work}/stream_{i}"
        try:
            rec = _stream_once(run, src, base, traced=_traced_round(run.trace, i))
            got = _survivors(run, docs_path, f"{base}/labels")
            rec["ok"] = got == expect
            if not rec["ok"]:
                rec["error"] = f"{len(got ^ expect)} survivors differ from the batch cut"
        except Exception as exc:
            rec = {"name": "stream", "wall": 0.0, "ok": False, "traced": False,
                   "batches": [], "error": repr(exc)[:300]}
        shutil.rmtree(base, ignore_errors=True)
        streams.append(rec)
        last = rec["wall"] or last
        i += 1
    run.ops.extend(streams)
    good = [s for s in streams if s["ok"]]
    run.busy_s = sum(s["wall"] for s in streams)
    trig = [b["trigger_s"] for s in good for b in s["batches"]]
    run.put("batch_p50_s", median(trig), "s", len(trig))
    tv, tp = tail(trig)
    run.put("batch_tail_s", tv, "s", len(trig), f"p{tp}" if tp else "fewer than 11 samples")
    walls = [s["stream_s"] for s in good]
    run.put("stream_docs_per_s", n_docs / median(walls) if walls else 0.0, "1/s", len(walls))
