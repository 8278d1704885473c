"""GHArchive backfill — the reference's ``gh-load`` re-expressed as a
distributed Spark job (cmd/gh-load/main.go:166-331).

The reference hand-rolls: an hour-key generator (:301-314), a bounded
worker pool (:239-269), per-file exponential-backoff retry (:250-263),
gunzip + line scanning (:80-99), and batched inserts (:120-153). Here:

- the worker pool is a JVM ``range`` over the hour keys sliced
  ``jobs`` ways, each row picking its key out of one array literal
  (no Python-RDD key frame, no shuffle before the first file opens),
  and Spark's scheduler + ``spark.task.maxFailures`` is the retry
  isolation;
- the per-hour HTTP fetch + gunzip runs in ``mapInPandas`` (Arrow
  batches out, no Python row objects), with the same
  404-tolerated / retry-on-5xx policy (:67-78), and lines are cut on
  ``\n`` only, one trailing ``\r`` stripped, as ``bufio.ScanLines``
  does (:80-99);
- parsing and the partitioned write reuse ndjson.py / sinks.py — the
  batched-INSERT machinery disappears into the DataFrame writer.

Each task downloads one whole compressed hour (~100 MB at archive
scale) so a retry restarts from a complete body, then holds that
hour's decompressed lines in memory while it emits them — a few
hundred MB per task, ordinary executor memory next to the reference's
measured ~340 MB/job envelope (README.md:51-53); 1000 executors
backfill years of archive in one job.
"""

from __future__ import annotations

import gzip
import time
import urllib.error
import urllib.request
from collections.abc import Iterator
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.sources.ndjson import parse_raw_events

DEFAULT_BASE_URL = "https://data.gharchive.org"


def hour_keys(start: str, end: str) -> list[str]:
    """Hour keys 'YYYY-MM-DD-H' in [start, end), args 'YYYY-MM-DDTH'
    — same format and half-open range as the reference (:210-217,
    :301-314; hour is not zero-padded)."""
    t0 = datetime.strptime(start, "%Y-%m-%dT%H")
    t1 = datetime.strptime(end, "%Y-%m-%dT%H")
    out = []
    t = t0
    while t < t1:
        out.append(f"{t:%Y-%m-%d}-{t.hour}")
        t += timedelta(hours=1)
    return out


def _fetch_one(
    url: str, max_retries: int, backoff_s: float
) -> bytes | None:
    """GET with exponential backoff; None for 404 (skip the hour, the
    archive has gaps — reference :67-70); raises after max_retries."""
    attempt = 0
    while True:
        try:
            with urllib.request.urlopen(url) as resp:
                return resp.read()
        except urllib.error.HTTPError as exc:
            if exc.code == 404:
                return None
            attempt += 1
            if attempt >= max_retries:
                raise
            time.sleep(backoff_s * (2 ** (attempt - 1)))
        except urllib.error.URLError:
            attempt += 1
            if attempt >= max_retries:
                raise
            time.sleep(backoff_s * (2 ** (attempt - 1)))


def fetch_hours(
    spark: SparkSession,
    keys: list[str],
    base_url: str = DEFAULT_BASE_URL,
    jobs: int = 8,
    max_retries: int = 5,
    backoff_s: float = 0.5,
) -> DataFrame:
    """Distributed fetch: hour keys → one NDJSON line per row.

    Output columns: key (hour key), value (raw JSON line). The keys
    travel as one newline-joined literal that the optimizer folds to a
    single array constant, so the plan is ``MapInPandas ← Project ←
    Range(splits=jobs)`` whatever the key count; a key holding a
    newline raises ``ValueError``.
    """
    if any("\n" in k for k in keys):
        raise ValueError("hour keys must not contain a newline")
    keys_df = spark.range(len(keys), numPartitions=jobs).select(
        F.element_at(
            F.split(F.lit("\n".join(keys)), "\n"),
            (F.col("id") + 1).cast("int"),
        ).alias("key")
    )

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for key in pdf["key"]:
                blob = _fetch_one(
                    f"{base_url}/{key}.json.gz", max_retries, backoff_s
                )
                if blob is None:
                    continue
                # "\n" only: str.splitlines would also cut at U+2028,
                # U+0085 and the like, which JSON allows raw in strings
                text = gzip.decompress(blob).decode("utf-8")
                lines = [ln.removesuffix("\r") for ln in text.split("\n")]
                lines = [ln for ln in lines if ln]
                if lines:
                    yield pd.DataFrame({"key": key, "value": lines})

    return keys_df.mapInPandas(_fetch, schema="key string, value string")


def backfill(
    spark: SparkSession,
    start: str,
    end: str,
    base_url: str = DEFAULT_BASE_URL,
    jobs: int = 8,
    max_retries: int = 5,
    backoff_s: float = 0.5,
) -> DataFrame:
    """End-to-end backfill read: hour range → parsed (id, ts, raw).

    Compose with ``sinks.write_events`` for the full gh-load analog.
    """
    lines = fetch_hours(
        spark, hour_keys(start, end), base_url, jobs, max_retries, backoff_s
    )
    return parse_raw_events(lines)
