"""Streaming analytics operators over the event stream.

The batch query library (plans/events_queries.py) has streaming twins
here: tumbling/sliding windowed aggregation, session windows, and a
custom stateful operator via ``applyInPandasWithState``. Watermarks
bound state so every operator runs indefinitely at firehose scale —
state size is O(active windows/sessions), never O(stream).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def hourly_type_counts(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming Qe4: tumbling 1h counts per event_type, late data
    dropped by watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_rates(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "1 minute",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window event rate (the S12 progress-meter analog,
    cmd/gh-load/main.go:270-300, as a declarative stream)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming Qe7: native session windows (gap-based), per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )


# ---- custom stateful operator: running per-user totals ---------------

_STATE_SCHEMA = "n long, total double"
_OUTPUT_SCHEMA = "user_id long, n long, total double"


def _running_totals(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel: accumulate (count, sum(value))
    per user across micro-batches — the shape any bespoke streaming
    accumulator takes in this engine (Arrow-batched, state explicit,
    timeout-capable)."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Continuously-updated per-user totals via explicit state."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def view_purchase_attribution(
    events: DataFrame,
    attribution_window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """STREAM-STREAM interval join: attribute each purchase to the
    same user's views in the preceding ``attribution_window``.

    Both sides derive from the event stream (filtered views vs
    purchases), each with its own watermark; the join condition pairs
    an equi-key (user) with an event-time interval, which is exactly
    the form Structured Streaming requires to bound join state — rows
    older than watermark + interval are evicted on both sides, so
    state stays O(window x rate) forever. At 100 TB/day firehose
    scale this is the canonical attribution/funnel-join shape: the
    equi-key shuffles both streams co-partitioned by user, and the
    interval predicate is evaluated within the partition.

    Output (append mode): one row per (purchase, qualifying view).
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    return purchases.join(
        views,
        on=[
            F.col("p_user") == F.col("v_user"),
            F.col("view_ts") >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {attribution_window}"),
            F.col("view_ts") < F.col("purchase_ts"),
        ],
        how="inner",
    ).select("purchase_id", "view_id", "p_user", "purchase_ts", "view_ts")


# ---- stateful token-budget admission (the streaming qx53) ------------

_ADMIT_STATE_SCHEMA = "admitted long"
_ADMIT_OUTPUT_SCHEMA = (
    "source string, doc_id long, n_tokens int, tokens_before long"
)


def _budget_admission(budget: int):
    def _admit(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        admitted = state.get[0] if state.exists else 0
        pdfs = [pdf for pdf in batches if len(pdf)]
        rows = (
            pd.concat(pdfs).sort_values("doc_id")
            if pdfs
            else pd.DataFrame(columns=["doc_id", "n_tokens"])
        )
        out: dict[str, list] = {
            "source": [], "doc_id": [], "n_tokens": [],
            "tokens_before": [],
        }
        for doc_id, n in zip(rows["doc_id"], rows["n_tokens"]):
            if admitted < budget:
                out["source"].append(key[0])
                out["doc_id"].append(int(doc_id))
                out["n_tokens"].append(int(n))
                out["tokens_before"].append(int(admitted))
                admitted += int(n)
        state.update((int(admitted),))
        yield pd.DataFrame(out).astype(
            {
                "doc_id": "int64", "n_tokens": "int32",
                "tokens_before": "int64",
            }
        )

    return _admit


def token_budget_admission(docs: DataFrame, budget: int) -> DataFrame:
    """Per-source token-budget ADMISSION over a document stream — the
    streaming twin of the batch budget cut (operators/packing.
    budget_select): each source admits documents in arrival order
    until its cumulative admitted tokens reach ``budget``; everything
    after is rejected before storage. The ingest-side cap a curation
    pipeline applies per data source.

    State is ONE long per source (cumulative admitted tokens) —
    O(sources) forever, no timeout needed. Token counting runs
    codegen-side BEFORE the kernel (F.size over the split, not
    Python), so the Arrow boundary carries only (source, doc_id,
    n_tokens). Within a micro-batch each source's slice is admitted
    in doc_id order (the kernel sorts — micro-batch row order is not
    deterministic, doc_id order is); across batches the admission
    depends on the accumulated state, which is exactly what the
    qs12 two-batch oracle pins.

    A doc is admitted iff the source's previously-ADMITTED tokens are
    under the budget (greedy fill, boundary doc may overflow — the
    qx53 contract). After the first rejection nothing is ever
    admitted again for that source, so admitted-so-far equals
    seen-so-far for every admitted row — which is what makes the
    declarative oracle (a per-source running sum in arrival order)
    exact.
    """
    from gh_archive_clickhouse_spark.functions.text import tokens

    if budget <= 0:
        raise ValueError(
            f"budget must be positive, got {budget} (the batch twin "
            f"budget_select enforces the same)"
        )
    slim = docs.select(
        "source",
        "doc_id",
        F.size(tokens(F.col("text"))).cast("int").alias("n_tokens"),
    )
    return slim.groupBy("source").applyInPandasWithState(
        _budget_admission(budget),
        outputStructType=_ADMIT_OUTPUT_SCHEMA,
        stateStructType=_ADMIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
