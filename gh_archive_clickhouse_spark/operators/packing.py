"""Sequence packing: map a document corpus onto fixed-token-budget
training sequences (the concat-and-chunk layout used to build LLM
pre-training batches).

Semantics: documents are laid out back-to-back in a deterministic
total order (``order_col`` ascending); the concatenated token stream
is cut into sequences of exactly ``budget`` tokens. Each document gets
its packing coordinates: the number of tokens before it, the sequence
it starts in, its offset inside that sequence, and whether it crosses
a sequence boundary (i.e. would be split across two training rows).

Scale design — the hierarchical prefix sum: a naive
``sum() OVER (ORDER BY order_col)`` is a SINGLE-PARTITION window (the
whole corpus through one task — a non-starter at 100 TB). Instead:

1. bucket documents into contiguous order-ranges (``order_col div
   group_size``) — at cluster scale this is the input-split boundary;
2. aggregate one token total per bucket (map-side combine, tiny
   output: corpus_rows / group_size);
3. run the exclusive prefix sum over the BUCKET TOTALS only — a
   window over O(n/group_size) rows, the classic two-level scan;
4. join the bucket offsets back (AQE broadcasts while the offsets
   table is small — it is O(n/group_size) rows, so under the sparse-
   key degradation it can approach O(n) and must NOT be force-
   broadcast) and finish with a window partitioned BY BUCKET — every
   task scans only its own bucket.

Stages 1/3/4 shuffle O(n/group_size), O(n/group_size), O(n) rows
respectively, and no task ever holds more than one bucket — the same
recurrence GPU scan kernels and Spark's own ``zipWithIndex`` use.

Reference parity note: the reference engine has no packing operator
(it ships raw events to ClickHouse); this is part of the
training-data extension surface (SURVEY.md §2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F




def densify_order(
    df: DataFrame,
    order_col: str,
    out_col: str = "dense_id",
    validate_distinct: bool = False,
    bucket_of: Column | None = None,
) -> DataFrame:
    """Assign each row its 0-based rank in ``order_col`` order — the
    id-densification pass :func:`pack_coordinates`'s contract asks for
    when order keys are SPARSE (64-bit hashes, snowflake ids): sparse
    keys put ~1 row per packing bucket and degrade the offsets table
    toward O(n); dense ranks restore exactly n/group_size buckets.

    The naive form is ``row_number() OVER (ORDER BY order_col)`` — a
    single-partition window. This is the distributed form (the same
    two-level recurrence as the packing scan, and what Spark's own
    zipWithIndex does):

    1. range-repartition on the key — each task holds one contiguous
       key range;
    2. count rows per partition (tiny: one row per task);
    3. exclusive prefix sum over the PER-PARTITION COUNTS (a window
       over O(partitions) rows);
    4. broadcast the offsets back (bounded by the partition count, so
       unconditionally broadcastable — unlike the packing offsets) and
       rank WITHIN each partition.

    Correct for ANY sampled range boundaries: global rank = partition
    offset + within-partition rank as long as partitions are
    key-contiguous, so the result is deterministic even though range
    partitioning samples. CONTRACT: ``order_col`` values must be
    DISTINCT — ties make the ranks run-to-run ambiguous and nothing
    downstream detects them; pass ``validate_distinct=True`` to pay
    one extra aggregate for an explicit check when the source doesn't
    guarantee uniqueness.

    ``bucket_of`` (r15, guide §2.4): when the caller can supply a
    DETERMINISTIC key-contiguous bucket expression (monotone
    non-decreasing in ``order_col`` order — e.g. a numeric prefix of
    a uniformly-distributed hash key), stage 1 becomes a pure
    map-side stamp: no ``repartitionByRange`` (whose range sampling
    is an extra pass over the input) and no range exchange — the
    only corpus-sized shuffle left is the rank window's own hash
    partitioning, where the generic path paid range + window
    shuffles plus the sampling pass. The rank result is
    bucket-count-invariant (any key-contiguous bucketing yields the
    same global rank), so the expression is purely a performance
    knob.

    Returns the input columns plus ``out_col`` (long, 0-based).
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    if validate_distinct:
        dup = (
            df.groupBy(F.col(order_col))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .head(1)
        )
        if dup:
            raise ValueError(
                f"densify_order requires distinct {order_col!r} values; "
                f"found duplicate key {dup[0][0]!r}"
            )
    # Materialized ONCE: both consumers below (the per-partition
    # counts and the rank join) read the same computed-once stamping
    # (and, on the generic path, the range shuffle may not be
    # re-planned per branch — spark_partition_id is only stable
    # within one planned exchange).
    if bucket_of is not None:
        parts = materialize(
            df.withColumn("__pid", bucket_of), "densify_parts"
        )
    else:
        parts = materialize(
            df.repartitionByRange(F.col(order_col)).withColumn(
                "__pid", F.spark_partition_id()
            ),
            "densify_parts",
        )
    counts = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("__pn"))
    w_parts = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__pn").over(w_parts), F.lit(0)).alias("__poff"),
    )
    w_in = Window.partitionBy("__pid").orderBy(order_col)
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            (
                F.col("__poff") + F.row_number().over(w_in) - F.lit(1)
            ).cast("long"),
        )
        .drop("__pid", "__poff")
    )


def seeded_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle-v1",
    out_col: str = "shuffle_pos",
    validate_distinct: bool = False,
) -> DataFrame:
    """Deterministic seeded corpus shuffle — the reproducible
    training-order emission every run performs before batching:
    row's position = rank of ``md5(id || seed)``. Re-shuffling for a
    new run is a one-token seed change; the permutation depends only
    on (id, seed), so it is partitioning-invariant and reproducible
    on any cluster size (the property tests pin this).

    Scale shape: a map-only key stamp (engine-portable md5, the
    functions/hashing convention) followed by :func:`densify_order`'s
    two-level rank — range partition on the key, per-partition
    counts, a prefix window over O(partitions) rows, broadcast
    offsets — never a global ``row_number()`` window over the corpus.
    The hash key carries the zero-padded id as a suffix, making the
    order a STRICT total order even under (astronomically unlikely)
    digest-prefix collisions, and letting a SQL oracle reproduce the
    permutation verbatim. ``id_col`` values must be distinct and
    non-negative (the zero-pad is 12 digits — ids < 10^12); a
    duplicated id makes the positions run-to-run ambiguous, so pass
    ``validate_distinct=True`` (one extra aggregate) to turn that
    silent non-determinism into a raise when the source doesn't
    guarantee uniqueness. The check runs on ``id_col`` ITSELF — not
    forwarded to :func:`densify_order`'s internal key — so the error
    names the offending id, not an internal hash; distinct ids imply
    distinct keys by construction (the key carries the id as a
    suffix).

    Returns the input columns plus ``out_col`` (long, 0-based shuffle
    position).
    """
    if validate_distinct:
        dup = (
            df.groupBy(F.col(id_col))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .head(1)
        )
        if dup:
            raise ValueError(
                f"seeded_shuffle requires distinct {id_col!r} values; "
                f"found duplicate id {dup[0][0]!r}"
            )
    c = F.col(id_col)
    key = F.concat(
        F.md5(F.concat(c.cast("string"), F.lit(seed))),
        F.lit("-"),
        F.lpad(c.cast("string"), 12, "0"),
    )
    # The key's md5 prefix is uniformly distributed BY CONSTRUCTION,
    # so the densify buckets can be a deterministic numeric prefix of
    # the key itself (key-contiguous: lexicographic order of fixed-
    # width lowercase hex == numeric order) instead of sampled range
    # partitions — no sampling pass, no range exchange (r15; see
    # densify_order's bucket_of). The bucket count scales with the
    # cluster (16 buckets per core keeps the rank windows small); the
    # ranks are bucket-count-invariant, so the factor is purely a
    # performance knob.
    n_buckets = 16 * df.sparkSession.sparkContext.defaultParallelism
    bucket = F.expr(
        "CAST(CAST(conv(substring(__shuffle_key, 1, 6), 16, 10) AS "
        f"BIGINT) * {n_buckets} DIV {16 ** 6} AS INT)"
    )
    return densify_order(
        df.withColumn("__shuffle_key", key),
        "__shuffle_key",
        out_col=out_col,
        bucket_of=bucket,
    ).drop("__shuffle_key")


def budget_select(
    df: DataFrame,
    weight_col: str,
    budget: int,
    order_by: list[Column],
) -> DataFrame:
    """Greedy budgeted selection: take rows in ``order_by`` order
    until their cumulative ``weight_col`` reaches ``budget`` — the
    "best documents up to N tokens" cut every corpus-curation run
    makes after scoring.

    The naive form is a running sum over one global window (single
    task holding the corpus). This is the distributed form — the same
    two-level recurrence as :func:`densify_order`, with WEIGHT sums in
    place of row counts:

    1. range-repartition on the selection order (each task one
       contiguous rank range);
    2. per-partition weight totals (tiny: one row per task);
    3. exclusive prefix sum over the totals (a window over
       O(partitions) rows);
    4. broadcast offsets back; each row's global tokens-before =
       partition offset + within-partition running sum; keep rows
       with tokens_before < budget.

    A row is selected iff the weight of all strictly-better rows is
    below the budget (the greedy fill — the boundary row may overflow
    the budget; halting exactly AT it would need partial documents).
    CONTRACT: ``order_by`` must be a strict total order (include an
    id tiebreaker), or selection is run-to-run ambiguous; and
    ``weight_col`` must be NON-NEGATIVE and NON-NULL — a negative or
    NULL weight makes tokens_before non-monotone in the selection
    order, so the kept set would no longer be the greedy prefix this
    docstring and the oracle promise. Violations RAISE at execution
    (a codegen-side assert on every row — one comparison, no extra
    pass) instead of silently mis-selecting.

    Returns the input columns plus ``tokens_before`` (long) as the
    oracle-checkable witness of each kept row's cumulative position.
    ``budget`` must be positive.
    """
    from gh_archive_clickhouse_spark.plans.common import materialize

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    parts = materialize(
        df.repartitionByRange(*order_by).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "budget_parts",
    )
    # assert_true returns NULL when the predicate holds and raises
    # otherwise; phrased as a filter (never as an unused column, which
    # column pruning would silently drop) it keeps every valid row.
    # Placed AFTER the materialize barrier, never on the raw input: a
    # deterministic filter on ``df`` would be pushed below the
    # caller's own joins inside the input plan and raise on rows those
    # joins eliminate — rows that are not part of the frame the caller
    # handed us.
    w_ok = F.col(weight_col).isNotNull() & (F.col(weight_col) >= 0)
    parts = parts.filter(
        F.assert_true(
            w_ok,
            f"budget_select: {weight_col} must be non-negative and "
            "non-NULL (greedy-prefix contract)",
        ).isNull()
    )
    totals = parts.groupBy("__pid").agg(
        F.sum(weight_col).alias("__pw")
    )
    w_parts = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__pw").over(w_parts), F.lit(0)).alias("__poff"),
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parts.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "tokens_before",
            (
                F.col("__poff")
                + F.coalesce(F.sum(weight_col).over(w_in), F.lit(0))
            ).cast("long"),
        )
        .filter(F.col("tokens_before") < budget)
        .drop("__pid", "__poff")
    )


PPM = 1_000_000


def mixture_resample(
    df: DataFrame,
    weights: DataFrame,
    budget_ppm: int = PPM,
    salt: str = "mix-v1",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialized mixture resample to an ARBITRARY target mixture —
    the "mix" stage between corpus curation and the seeded training
    order: given per-source target shares, keep a deterministic
    pseudo-random subset of each source so the output corpus
    approximates ``budget_ppm/10^6 * n_total`` rows distributed by the
    target weights. Each row's fate is a pure function of
    ``(salt, id)`` vs its source's keep rate, so the curated mixture
    is reproducible from the raw corpus on any cluster layout and
    re-rollable by changing one salt token.

    ``weights`` is a tiny (source, ``weight_ppm``) frame — the
    caller's mixture spec (e.g. web 500000 / code 300000 / books
    200000 ppm). Shares are of the TOTAL corpus: source s's target
    row count is ``budget_ppm/10^6 * weight_ppm_s/10^6 * n_total``,
    so its keep rate is that target over ``n_source_s`` — clamped at
    1 (an over-subscribed source keeps everything; this engine
    resamples, it does not upsample). Sources absent from ``weights``
    are DROPPED (the spec defines the mixture); weights need not sum
    to 10^6 (an under-subscribed spec just keeps fewer rows).

    Everything stays ENGINE-EXACT integer arithmetic (the qx60
    contract): per source,
    ``rate_ppm = least(10^6, ((budget_ppm * weight_ppm) div 10^6)
    * n_total div n_source)`` — BIGINT floor division, no doubles —
    and a row keeps iff ``split_bucket(id, salt, 10^6) < rate_ppm``.
    Overflow bound: the inner term is ≤ 10^12 before the division and
    ≤ 10^6 after, so the multiply by ``n_total`` needs
    ``n_total < 2^63/10^6 ≈ 9.2*10^12`` rows — the same 10^12-class
    corpus bound as seeded_shuffle's id zero-pad, documented here
    because exceeding it would overflow silently.

    Scale shape: one tiny per-source aggregate + a 1-row total, the
    O(sources) rate table broadcast to a map-only keep filter at the
    scan — no corpus shuffle. The weights spec is validated EAGERLY
    driver-side (non-NULL, non-negative, one row per source — two
    O(sources) probes; the shard_assignments precedent: a clear raise
    beats a silently skewed mixture). Returns the kept rows with
    ``rate_ppm`` attached as the per-row witness of the rate applied.

    Composition: ``mixture_rates`` builds the rate table,
    ``mixture_gate`` applies it — split out so a STREAMING ingest can
    compute rates once from a corpus snapshot (a periodic batch job)
    and gate every arriving micro-batch with the identical keep rule
    (qs14).
    """
    return mixture_gate(
        df,
        mixture_rates(df, weights, budget_ppm, source_col=source_col),
        salt=salt,
        source_col=source_col,
        id_col=id_col,
    )


def source_counts(
    df: DataFrame, source_col: str = "source"
) -> dict:
    """Per-source row counts of ``df`` as a driver-side dict — ONE
    map-side-combined hash aggregate with O(sources) rows collected
    (spec-sized metadata, the ranked-weights-spec precedent). The
    single corpus pass behind :func:`mixture_rates`; callers that also
    need the observed source set (to BUILD the weights spec) read it
    off the keys instead of running a second distinct scan."""
    return {
        r[0]: r[1]
        for r in df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n_source"))
        .collect()
    }


def _validate_weight_rows(
    weight_rows, budget_ppm: int, source_col: str
) -> None:
    """Eager spec validation (see mixture_resample), driver-side over
    the O(sources) rows. Range check includes the UPPER bound:
    weight_ppm is a ppm share, so > 10^6 is meaningless — and it
    silently voids the documented overflow bound (budget_ppm *
    weight_ppm must stay <= 10^12 before the n_total multiply)."""
    if not (0 < budget_ppm <= PPM):
        raise ValueError(
            f"budget_ppm must be in (0, {PPM}], got {budget_ppm}"
        )
    seen = set()
    for s, w in weight_rows:
        if s is None:
            # A NULL source could never equi-join a corpus row — a
            # dead spec entry. The contract is a clear raise, not a
            # silently skewed mixture (ranked_source_weights raises on
            # NULL sources corpus-side for the same reason).
            raise ValueError(
                f"mixture weights must name a non-NULL {source_col!r} "
                "per row; found a NULL source in the spec"
            )
        if w is None:
            raise ValueError(
                f"mixture weights must be non-NULL ppm shares in "
                f"[0, {PPM}]; source {s!r} has a NULL weight"
            )
        if w < 0 or w > PPM:
            raise ValueError(
                f"mixture weights must be non-NULL ppm shares in "
                f"[0, {PPM}]; source {s!r} has weight {w}"
            )
        if s in seen:
            raise ValueError(
                f"mixture weights must have one row per "
                f"{source_col!r}; found duplicate {s!r}"
            )
        seen.add(s)


def mixture_rates_from_counts(
    spark,
    counts: dict,
    weight_rows,
    budget_ppm: int = PPM,
    source_col: str = "source",
) -> DataFrame:
    """The (source, ``rate_ppm``) keep-rate table from pre-collected
    per-source counts (:func:`source_counts`) and spec rows — per
    source present in BOTH, ``min(10^6, ((budget_ppm * weight_ppm) //
    10^6) * n_total // n_source)``. EXACT integer arithmetic: every
    operand is a non-negative int, where Python ``//`` (floor) and SQL
    BIGINT ``div`` (truncate) agree, so the rates are bit-identical to
    the former distributed form — and, being unbounded Python ints,
    the intermediate product cannot overflow where BIGINT would.
    Returned as a literal local frame: O(sources) rows IS the scale
    contract (the table broadcasts to the map-only gate), so composing
    it on the driver removes two corpus-shaped aggregate jobs and the
    join/broadcast machinery per invocation, never adds driver load.
    Validates the spec eagerly (see mixture_resample)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    weight_rows = list(weight_rows)
    _validate_weight_rows(weight_rows, budget_ppm, source_col)
    n_total = sum(counts.values())
    rows = [
        (
            s,
            min(
                PPM,
                (int(budget_ppm) * int(w) // PPM)
                * int(n_total)
                // int(counts[s]),
            ),
        )
        for s, w in weight_rows
        if s in counts and s is not None
    ]
    # local_rows_df (r16): a createDataFrame(list) parallelizes into
    # defaultParallelism Python-RDD slices, so every consumer of this
    # O(sources) table paid a 32-task Python-worker wave (broadcast
    # build, parquet snapshot write) per action for a handful of
    # rows. The literal one-partition JVM frame is the right layout
    # for spec-sized metadata at any scale.
    from gh_archive_clickhouse_spark.operators._util import local_rows_df

    return local_rows_df(
        spark,
        rows,
        StructType(
            [
                StructField(source_col, StringType()),
                StructField("rate_ppm", LongType()),
            ]
        ),
    )


def mixture_rates(
    df: DataFrame,
    weights: DataFrame,
    budget_ppm: int = PPM,
    source_col: str = "source",
) -> DataFrame:
    """The (source, ``rate_ppm``) keep-rate table of
    :func:`mixture_resample` — per source,
    ``least(10^6, ((budget_ppm * weight_ppm) div 10^6) * n_total div
    n_source)`` over ``df``'s observed per-source counts. O(sources)
    rows; validates the weights spec eagerly (see mixture_resample).
    Persist it (tiny parquet) to gate a stream against a corpus
    snapshot's rates.

    Execution shape (r15): ONE corpus pass — the per-source counts
    come back driver-side whole (:func:`source_counts`; O(sources)
    rows, the same metadata class as the weights spec itself), the
    totals row is their sum, and the rate arithmetic runs as exact
    Python integers (:func:`mixture_rates_from_counts`). The former
    form paid a second full-corpus count job for the totals row plus
    a distributed join + broadcast to combine three O(sources)-row
    frames."""
    if "weight_ppm" not in weights.columns:
        raise ValueError(
            "weights frame must carry a weight_ppm column; got "
            f"{weights.columns}"
        )
    # One O(sources) collect of the spec. weight_ppm comes back as a
    # Python int whatever the column dtype — the INT-typed-spec
    # overflow hazard of the old SQL expression cannot exist here.
    weight_rows = [
        (r[0], r[1])
        for r in weights.select(source_col, "weight_ppm").collect()
    ]
    return mixture_rates_from_counts(
        df.sparkSession,
        source_counts(df, source_col),
        weight_rows,
        budget_ppm,
        source_col=source_col,
    )


def mixture_gate(
    df: DataFrame,
    rates: DataFrame,
    salt: str = "mix-v1",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a :func:`mixture_rates` table as a map-only keep filter:
    a row survives iff ``split_bucket(id, salt, 10^6) < rate_ppm`` for
    its source. The stateless per-micro-batch half of the streaming
    mixture gate (qs14): the rate table broadcasts, the hash is
    computed at the scan, and a row's fate depends only on (salt, id,
    rates) — so replaying a batch, re-partitioning, or re-ordering
    arrival cannot change membership. Rows whose source has no rate
    row are dropped (the spec defines the mixture). The input must
    not already carry a ``rate_ppm`` column (the output witness) —
    re-mixing gated output requires dropping the old witness first,
    and an eager raise beats an AMBIGUOUS_REFERENCE at plan time
    (the ``_assign`` output-column precedent)."""
    from gh_archive_clickhouse_spark.functions.hashing import split_bucket

    # Case-insensitive: Spark resolves columns case-insensitively by
    # default, so a 'Rate_PPM' survivor would still collide post-join.
    if any(c.lower() == "rate_ppm" for c in df.columns):
        raise ValueError(
            "input already has a rate_ppm column (a prior gate's "
            "witness) — drop it before re-mixing"
        )
    return df.join(F.broadcast(rates), source_col).filter(
        split_bucket(id_col, salt=salt, n_buckets=PPM)
        < F.col("rate_ppm")
    )


def pack_coordinates(
    df: DataFrame,
    n_tokens: Column,
    budget: int,
    order_col: str = "doc_id",
    group_size: int = 4096,
) -> DataFrame:
    """Packing coordinates for every row of ``df``.

    ``n_tokens`` is a Column expression giving the row's token count
    (evaluated once, staged). Output columns: ``order_col``,
    ``n_tokens``, ``tokens_before`` (exclusive prefix sum), ``seq_id``
    (= tokens_before div budget), ``seq_offset`` (= tokens_before mod
    budget), ``crosses_boundary`` (document spans >1 sequence).

    Zero-token documents keep a row (seq coordinates of the point they
    occupy); they never set ``crosses_boundary``.

    CONTRACT — ``order_col`` should be reasonably DENSE (ids assigned
    by an upstream enumeration step, the normal case for a packing
    job). The bucket key is ``order_col div group_size``, so sparse
    64-bit keys (e.g. hashes) put ~1 doc per bucket and stage 3's
    offset table degrades back toward a single-partition window over
    ~n rows. For sparse keys, run an id-densification pass first
    (itself this same two-level scan over counts) or raise
    ``group_size`` to match the key spacing.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    staged = df.select(
        F.col(order_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.floor(F.col(order_col) / F.lit(group_size)).alias("__g"),
    )
    bucket_totals = staged.groupBy("__g").agg(
        F.sum("n_tokens").alias("__g_tokens")
    )
    # Exclusive prefix over bucket totals — O(n/group_size) rows, the
    # only global-order window, deliberately tiny.
    w_buckets = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_totals.select(
        "__g",
        F.coalesce(F.sum("__g_tokens").over(w_buckets), F.lit(0)).alias(
            "__g_before"
        ),
    )
    # Within-bucket exclusive prefix: window partitioned by bucket, so
    # the scan parallelizes across buckets.
    w_in = (
        Window.partitionBy("__g")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = F.lit(budget).cast("long")
    # No broadcast hint: the offsets frame is O(n/group_size) rows and
    # under sparse order keys degrades toward O(n) — a forced
    # broadcast there is a driver/executor OOM, not a slow plan. AQE
    # broadcasts it whenever it is actually small.
    with_prefix = staged.join(offsets, "__g").select(
        order_col,
        "n_tokens",
        (
            F.col("__g_before")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        ).alias("tokens_before"),
    )
    return with_prefix.select(
        order_col,
        "n_tokens",
        "tokens_before",
        F.floor(F.col("tokens_before") / b).cast("long").alias("seq_id"),
        (F.col("tokens_before") % b).alias("seq_offset"),
        (
            (F.col("n_tokens") > F.lit(0))
            & (
                F.floor(
                    (F.col("tokens_before") + F.col("n_tokens") - 1) / b
                )
                > F.floor(F.col("tokens_before") / b)
            )
        ).alias("crosses_boundary"),
    )


def emit_packed_sequences(
    coords: DataFrame, budget: int, order_col: str = "doc_id"
) -> DataFrame:
    """The MATERIALIZED packing layout: one row per (sequence,
    document slice) — which contiguous token range of each document
    lands in which training sequence at which offset. This is what a
    packed-batch consumer actually reads; :func:`pack_coordinates`
    gives each document its coordinates, this emits the per-sequence
    assembly plan.

    Output columns: ``order_col``, ``seq_id`` (sequence the slice
    belongs to), ``slice_start`` (0-based token offset inside the
    document), ``slice_len``, ``seq_pos`` (0-based offset inside the
    sequence). A document spanning k sequence boundaries emits k+1
    rows; zero-token documents occupy a point and emit none.

    Scale shape: a pure MAP stage over the coordinates — the spanned
    sequence ids come from an explode of ``sequence(first, last)``
    whose per-row fan-out is ceil(n_tokens/budget)+1, and every slice
    bound is arithmetic on the already-computed prefix sums. No
    window, no join, no shuffle beyond what pack_coordinates already
    did.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    b = F.lit(budget).cast("long")
    # First spanned sequence is DERIVED from tokens_before, never
    # trusted from coords.seq_id: if the caller's budget disagreed
    # with the one coords was packed at, reusing seq_id would make
    # F.sequence(first, last) DESCEND (Spark steps -1 when start >
    # stop) and emit negative-length garbage slices silently. Derived,
    # first <= last always holds; the two are identical when budgets
    # match.
    spanned = coords.filter(F.col("n_tokens") > 0).select(
        order_col,
        "n_tokens",
        "tokens_before",
        F.explode(
            F.sequence(
                F.floor(F.col("tokens_before") / b).cast("long"),
                F.floor(
                    (F.col("tokens_before") + F.col("n_tokens") - 1) / b
                ).cast("long"),
            )
        ).alias("__s"),
    )
    start_tok = F.greatest(F.col("__s") * b, F.col("tokens_before"))
    end_tok = F.least(
        (F.col("__s") + 1) * b, F.col("tokens_before") + F.col("n_tokens")
    )
    return spanned.select(
        order_col,
        F.col("__s").alias("seq_id"),
        (start_tok - F.col("tokens_before")).alias("slice_start"),
        (end_tok - start_tok).alias("slice_len"),
        (start_tok - F.col("__s") * b).alias("seq_pos"),
    )


def packed_sequence_fingerprints(
    toks: DataFrame,
    budget: int,
    order_col: str = "doc_id",
    tokens_col: str = "__t",
) -> DataFrame:
    """One row per packed training sequence — (``seq_id``,
    ``n_slices``, ``n_tokens``, ``content_md5``) — from a
    (``order_col``, ``tokens_col`` token-array) frame: pack
    coordinates → slice emission → slice join-back → in-order concat
    fingerprint. The ONE definition of the sequence-content
    fingerprint, shared by qx45 (document order) and qx42 (seeded
    shuffle order) so the two pipelines and their oracles cannot
    drift.

    ``toks`` is consumed by BOTH the packing branch and the slice
    join-back — pass a materialized/persisted frame or the upstream
    plan executes twice (the qx45 barrier).

    Scale shape: nothing beyond pack_coordinates' two-level prefix
    scan — the emission is a pure map stage, the join-back is a
    uniform-key equi-join, and the fingerprint is one hash aggregate
    over (sequence, slice) rows."""
    coords = pack_coordinates(
        toks,
        F.size(F.col(tokens_col)),
        budget=budget,
        order_col=order_col,
    )
    slices = emit_packed_sequences(coords, budget, order_col=order_col)
    sliced = slices.join(toks, order_col).select(
        "seq_id",
        "seq_pos",
        "slice_len",
        F.slice(
            F.col(tokens_col),
            (F.col("slice_start") + 1).cast("int"),
            F.col("slice_len").cast("int"),
        ).alias("__st"),
    )
    return sliced.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_slices"),
        F.sum("slice_len").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("seq_pos", "__st"))
                        ),
                        lambda s: s["__st"],
                    )
                ),
            )
        ).alias("content_md5"),
    )


def sequence_fill_stats(coords: DataFrame, budget: int) -> DataFrame:
    """Per-sequence packing summary from :func:`pack_coordinates`
    output: how many documents START in each sequence, how many of the
    sequence's tokens come from boundary-crossing continuation, and
    the started-token fill fraction of the ``budget``.
    One uniform-key aggregation over seq_id."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    return coords.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs_starting"),
        F.sum("n_tokens").alias("tokens_started"),
        F.sum(F.col("crosses_boundary").cast("long")).alias("n_split_docs"),
        # UNROUNDED integer ratio (dec_avg class): power-of-two budgets
        # (2048...) put true fill fractions exactly on round-6
        # half-boundaries; the raw quotient is bit-deterministic.
        (
            F.sum("n_tokens") / F.lit(float(budget))
        ).alias("fill_frac_started"),
    )


def _dense_total(df: DataFrame, pos_col: str) -> int:
    """Validate the shard-position contract and return the row count:
    ``pos_col`` must hold exactly the dense values 0..total-1 (no
    gaps, duplicates, or NULLs — any of which would silently skew or
    drop shards).  ONE aggregate over the single position column
    (column-pruned at a parquet scan), collected driver-side — the
    eager-validation precedent of seeded_shuffle's validate_distinct;
    raising here with the observed bounds beats a mid-write executor
    error."""
    pos = F.col(pos_col)
    total, distinct, mn, mx = df.select(
        F.count(F.lit(1)),
        F.count_distinct(pos),
        F.min(pos),
        F.max(pos),
    ).first()
    if total and not (distinct == total and mn == 0 and mx == total - 1):
        raise ValueError(
            f"shard assignment requires a dense 0-based position "
            f"column; got min={mn} max={mx} distinct={distinct} over "
            f"{total} rows in {pos_col!r}"
        )
    return int(total)


def _assign(
    df: DataFrame, n_shards: int, pos_col: str, out_col: str, total: int
) -> DataFrame:
    if out_col in df.columns:
        raise ValueError(
            f"output column {out_col!r} already exists in the input"
        )
    if total == 0:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    # BIGINT `DIV`, never `/`: double division loses exactness once
    # pos * n_shards crosses 2^53 (10^13 rows x 1024 shards), and a
    # boundary row would silently land in the wrong shard. total is a
    # validated Python int, pos_col backtick-escaped.
    pc = pos_col.replace("`", "``")
    return df.withColumn(
        out_col,
        F.expr(
            f"CAST((CAST(`{pc}` AS BIGINT) * {int(n_shards)}) "
            f"DIV {total} AS INT)"
        ),
    )


def shard_assignments(
    df: DataFrame,
    n_shards: int,
    pos_col: str = "shuffle_pos",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic contiguous-range shard assignment over a DENSE
    0-based position column (:func:`densify_order` /
    :func:`seeded_shuffle` output): ``shard = pos * n_shards div
    total`` — shard k holds the k-th contiguous run of the training
    order, shard sizes balanced within one row, and the assignment
    depends only on (pos, total), so it is partitioning-invariant.

    Scale shape: the density contract (dense 0-based, no duplicates
    or NULLs) is validated EAGERLY by one aggregate over the position
    column alone — column-pruned at a parquet scan, so the validation
    pass reads one column, not the corpus — and the assignment itself
    is a map-only integer expression with the validated total inlined
    as a literal: no join, no window, nothing an optimizer could
    prune away.  The input should be deterministic (a materialized or
    seeded frame — seeded_shuffle output is); a non-deterministic
    upstream could disagree between the validation scan and the
    assignment scan.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    return _assign(
        df, n_shards, pos_col, out_col, _dense_total(df, pos_col)
    )


def _write_manifest(path: str, n_shards: int, shards: list) -> None:
    """Commit the shard manifest local-fs atomically (temp +
    ``os.replace``, the fold-manifest convention; route through the
    Hadoop FS API when emitting to an object store)."""
    import json
    import os

    tmp = os.path.join(path, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"n_shards": n_shards, "shards": shards}, f, indent=1)
    os.replace(tmp, os.path.join(path, "_manifest.json"))


def _shard_manifest_rows(back: DataFrame) -> dict:
    """Per-shard (n_rows, fingerprint) from a read of a shard tree —
    the ONE definition of the manifest fingerprint (count +
    ``bit_xor`` of the 60-bit md5 row hash over the sorted data
    columns, order-independent and overflow-free), shared by the
    writer's read-back attestation and the consumer-side verifier so
    the two can never drift."""
    from gh_archive_clickhouse_spark.functions.hashing import md5_long

    data_cols = [c for c in back.columns if c != "shard"]
    row_fp = md5_long(
        F.to_json(F.struct(*[F.col(c) for c in sorted(data_cols)]))
    )
    return {
        int(r["shard"]): {
            "shard": int(r["shard"]),
            "n_rows": int(r["n_rows"]),
            "fingerprint": int(r["fingerprint"]),
        }
        for r in (
            back.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor(row_fp).alias("fingerprint"),
            )
            .collect()
        )
    }


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    pos_col: str = "shuffle_pos",
    mode: str = "error",
) -> list:
    """The emission sink closing the training-order story
    (seeded_shuffle → pack → emit → SHARDS ON DISK): writes the corpus
    as ``n_shards`` contiguous-order parquet shards
    (``path/shard=k/``) plus a ``_manifest.json`` recording per-shard
    row counts and an order-independent content fingerprint — what a
    training job needs to read shard k without listing the corpus,
    verify integrity before burning accelerator time, and resume at a
    shard boundary.  Every shard id 0..n_shards-1 appears in the
    manifest (zero-row shards explicitly, fingerprint 0 — the XOR
    identity), so a missing directory is always distinguishable from
    a legitimately empty shard.

    Scale shape: the density validation reads ONE column (see
    :func:`shard_assignments`); the write itself is a
    ``repartitionByRange`` on the position column, so each write task
    holds a contiguous order range and lands in one (at a range-sample
    boundary, two) shard directories, sorted within files — a reader
    streams shard k's files in order with no corpus-wide sort.  The
    manifest (count + ``bit_xor`` of the 60-bit md5 row hash —
    order-independent, overflow-free) is computed from a READ-BACK of
    the written files, so it attests what actually landed.  A zero-row
    corpus goes through the same parquet writer (``mode`` semantics —
    error-on-existing, overwrite — apply identically) and records an
    all-empty manifest.  Returns the manifest rows (shard, n_rows,
    fingerprint) sorted by shard.
    """
    total = _dense_total(df, pos_col)
    assigned = _assign(df, n_shards, pos_col, "shard", total)
    (
        assigned.repartitionByRange(n_shards, F.col(pos_col))
        .sortWithinPartitions(pos_col)
        .write.partitionBy("shard")
        .mode(mode)
        .parquet(path)
    )
    written: dict[int, dict] = {}
    if total:
        written = _shard_manifest_rows(df.sparkSession.read.parquet(path))
    manifest = [
        written.get(k, {"shard": k, "n_rows": 0, "fingerprint": 0})
        for k in range(n_shards)
    ]
    _write_manifest(path, n_shards, manifest)
    return manifest


def verify_training_shards(spark, path: str) -> list:
    """Consumer-side integrity check of a :func:`write_training_shards`
    tree — what a training job runs BEFORE burning accelerator time:
    recompute every shard's row count and ``bit_xor`` content
    fingerprint from a fresh read (via the same
    :func:`_shard_manifest_rows` the writer attested with, so the two
    formulas cannot drift) and diff against ``_manifest.json``.

    Raises ``ValueError`` naming every diverging shard (count or
    fingerprint mismatch, a shard on disk the manifest doesn't know,
    or a missing/garbled manifest); returns the verified manifest rows
    on success. An all-empty tree (zero-row corpus) verifies against
    its all-empty manifest without needing a readable parquet schema.

    Scale shape: ONE column-complete scan of the shard tree into a
    per-shard aggregate (map-side combined, O(n_shards) rows to the
    driver) — the cheapest full-content check possible; a reader that
    trusts counts alone can drop the fingerprint column but then
    can't see silent row corruption."""
    import json
    import os

    mpath = os.path.join(path, "_manifest.json")
    try:
        with open(mpath) as f:
            m = json.load(f)
        n_shards = int(m["n_shards"])
        rows = m["shards"]
        # Normalize EVERY field inside the try: a row missing
        # n_rows/fingerprint (or carrying garbage) is a malformed
        # manifest, not a KeyError leaking out of the verifier.
        want = {
            int(s["shard"]): {
                "n_rows": int(s["n_rows"]),
                "fingerprint": int(s["fingerprint"]),
            }
            for s in rows
        }
        if len(want) != len(rows):
            raise ValueError("duplicate shard entries")
    except (OSError, KeyError, TypeError, ValueError) as e:
        raise ValueError(
            f"unreadable or malformed shard manifest at {mpath}: {e}"
        ) from e
    # Cheap length guard BEFORE any range(n_shards) materializes: a
    # tampered manifest declaring n_shards=10^12 must fail as
    # "malformed", not allocate unbounded driver memory in the very
    # function whose job is to fail cleanly. With len(want) == n_shards
    # established, n_shards is bounded by the parsed row count, and n
    # DISTINCT ints with min 0 / max n-1 are exactly 0..n-1.
    if len(want) != n_shards or (
        want and (min(want) != 0 or max(want) != n_shards - 1)
    ):
        raise ValueError(
            f"manifest at {mpath} must enumerate every shard 0.."
            f"{n_shards - 1} exactly once; got {len(want)} entries"
            + (
                f" spanning [{min(want)}, {max(want)}]"
                if want
                else ""
            )
        )
    # An UNREADABLE tree (no parquet files at all — every shard
    # directory lost, or a legitimately all-empty corpus) raises
    # AnalysisException at plan time ("unable to infer schema"); that
    # specific case reads as zero rows everywhere so the per-shard
    # diff below reports exactly which counts the manifest expected,
    # as a ValueError (the documented contract). Anything else — a
    # transient executor failure, a permission error, one corrupt
    # footer mid-scan — PROPAGATES: misreporting an infra failure on
    # an intact tree as total data loss could prompt a rewrite of
    # healthy shards.
    from pyspark.errors import AnalysisException

    try:
        got = _shard_manifest_rows(spark.read.parquet(path))
    except AnalysisException:
        got = {}
    problems = []
    for k in range(n_shards):
        w, g = want[k], got.get(k, {"n_rows": 0, "fingerprint": 0})
        if w["n_rows"] != g["n_rows"]:
            problems.append(
                f"shard {k}: manifest n_rows={w['n_rows']} "
                f"on disk {g['n_rows']}"
            )
        elif w["fingerprint"] != g["fingerprint"]:
            problems.append(
                f"shard {k}: content fingerprint mismatch "
                f"(manifest {w['fingerprint']}, disk {g['fingerprint']})"
            )
    for k in sorted(set(got) - set(range(n_shards))):
        problems.append(
            f"shard {k}: on disk ({got[k]['n_rows']} rows) but not in "
            f"the manifest"
        )
    if problems:
        raise ValueError(
            "training-shard verification FAILED: " + "; ".join(problems)
        )
    return [
        got.get(k, {"shard": k, "n_rows": 0, "fingerprint": 0})
        for k in range(n_shards)
    ]
