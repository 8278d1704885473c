"""Shared bits for the query library.

Engine-parity conventions used by every query (the driver hash-compares
Spark output against DuckDB running the oracle SQL on the same files):

- **Timestamps leave as strings** (`ts_fmt` / strftime '%…%f'): avoids
  tz/precision representation drift between engines.
- **Derived doubles are rounded** — 2 decimals for money sums (inputs
  are 2-decimal, so true sums sit ~1e-9 from representable 2-decimal
  values, far from the 0.005 rounding boundary), 6 decimals for
  avg/ratio-style values (error ~1e-12 « 5e-7 boundary). Pass-through
  doubles are NOT rounded (bit-identical already).
- **Every computed column is aliased identically** in the DataFrame
  plan and the oracle SQL (the driver sorts columns by name).
- **Deterministic total orders** everywhere a limit or row_number
  could tie.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.checkpoints import release_checkpoint

# Spark datetime pattern ≍ DuckDB strftime('%Y-%m-%d %H:%M:%S.%f'):
# microseconds, zero-padded to 6.
TS_PATTERN_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def ts_fmt(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_PATTERN_SPARK)


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-exact money sum: accumulate in DECIMAL(18,6), round, cast
    back to double.

    Float sums depend on accumulation order (partition count, AQE),
    so a sum whose true value sits ON the rounding boundary (e.g. a
    4-decimal product sum ending in ...50) can round differently here
    vs an oracle. Decimal addition is exact and order-independent;
    inputs here are ≤2-decimal (products ≤6), so the cast is lossless.
    SQL mirror: ``CAST(round(sum(CAST(x AS DECIMAL(18,6))), s) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,6)")), scale).cast("double")


def dec_avg(col: Column | str) -> Column:
    """Order- AND engine-exact average: exact decimal sum → one double
    division, UNROUNDED.

    ``avg(double)`` re-aggregates partial sums, so the quotient's last
    bits depend on partition count/AQE; the exact decimal sum fixes
    that. The former ``round(quotient, 6)`` then UNDID the guarantee:
    the r12 sf1 oracle sweep caught qe4 flipping 43.472812 vs
    43.472813 — when the quotient sits within an ULP of the rounding
    boundary (13911.30/320 = 43.4728125), Spark rounds the double's
    exact binary expansion via BigDecimal HALF_UP while DuckDB rounds
    through floating ``q*1e6``, and they disagree. The UNROUNDED
    quotient has no such step: identical exact sum → identical
    correctly-rounded double cast → identical IEEE division, so the
    result is bit-deterministic across engines, partitionings, and
    scales. (DECIMAL rounding as in :func:`dec_sum` stays safe — it
    is exact arithmetic with matching HALF_UP semantics in both
    engines; only rounding a DOUBLE is hazardous.)
    SQL mirror:
    ``CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(c)


def micros_long(col: Column | str) -> Column:
    """A money value as an exact integer count of micro-units (long).

    ``round(x * 1e6)`` recovers the true ≤6-decimal value exactly: the
    inputs are ≤2-decimal and their 2-3-factor products ≤6-decimal, so
    the double arithmetic error (~1e-10 absolute at 1e5-scale values)
    is orders of magnitude below the 0.5-micro rounding boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(1_000_000.0)).cast("long")


def dec_sum_2stage(
    df: DataFrame,
    keys: list[str],
    money_cols: dict[str, Column | str],
    count_alias: str = "__n",
) -> DataFrame:
    """Exact money sums via TWO-STAGE integer aggregation: long sums of
    micro-units per (keys, input partition), then DECIMAL sums of the
    few partials per key.

    Same exact result as ``dec_sum`` on every column (both paths
    accumulate the identical per-row 6-decimal integers exactly), but
    the per-row work is codegen long adds instead of Decimal128 — ~2x
    faster when several money aggregates stack on one groupBy.

    Overflow bound: a stage-1 partial is bounded by rows-per-partition
    x max|value| in micro-units; with 128 MB input partitions (~1-3M
    rows) and values < 10^6 money units the partial stays < 4e18 <
    long-max with margin. Stage 2 accumulates in DECIMAL(28,0), exact
    to 10^28 micro-units — beyond any corpus. (``spark_partition_id``
    makes stage-1 grouping partition-dependent, but integer sums are
    associative-exact, so the final result is partitioning-invariant.)

    Returns one row per key with columns: for each alias in
    ``money_cols`` the DECIMAL(28,0) micro-unit total named
    ``{alias}__us``, plus ``count_alias`` (row count). Callers divide /
    round to their output scales.
    """
    partials = df.groupBy(
        *[F.col(k) for k in keys], F.spark_partition_id().alias("__pid")
    ).agg(
        *[
            F.sum(micros_long(c)).alias(f"{a}__p")
            for a, c in money_cols.items()
        ],
        F.count(F.lit(1)).alias("__pn"),
    )
    return partials.groupBy(*[F.col(k) for k in keys]).agg(
        *[
            F.sum(F.col(f"{a}__p").cast("decimal(28,0)")).alias(f"{a}__us")
            for a in money_cols
        ],
        F.sum("__pn").alias(count_alias),
    )


def us_round(total_us: Column, scale: int) -> Column:
    """micro-unit DECIMAL total → rounded double money value."""
    return F.round(total_us / F.lit(1_000_000), scale).cast("double")


def us_avg(total_us: Column, n: Column) -> Column:
    """micro-unit DECIMAL total → UNROUNDED double average (one double
    division, same contract as :func:`dec_avg` and fixed for the same
    r12 reason: money quotients can land exactly on a decimal
    rounding boundary, where the engines' double-round
    implementations disagree within an ULP — the exact-division →
    double-cast → IEEE-division chain is bit-deterministic, rounding
    it was the one divergent step). ``total_us / 1e6`` is exact
    decimal division (≤6-decimal inputs), so the cast sees the same
    rational the oracle's ``CAST(sum(decimal) AS DOUBLE)`` does."""
    return (total_us / F.lit(1_000_000)).cast("double") / n


@dataclass(frozen=True)
class Query:
    """One declared query: a DataFrame builder + its DuckDB oracle.

    ``oracle`` is None only for operators whose semantics are not
    SQL-expressible (custom streaming state, ingestion); the driver
    then records a weaker rows-only check.
    """

    name: str
    description: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())


# Process-level uniquifier for scratch materializations: two operator
# calls composed lazily in one pipeline must never overwrite each
# other's table (materialize's read-back is LAZY, so a later write to
# the same path would silently replace the earlier call's data).
_SCRATCH_SEQ = itertools.count()
# Scratch trees from OTHER applications older than this are garbage-
# collected on this process's first materialize. A day is far past
# any plausible concurrent-job overlap; tests set it to 0.
SCRATCH_TTL_ENV = "SPARK_GRAFT_SCRATCH_TTL"
_SWEPT = False


def sweep_scratch(
    current_app_id: str | None = None, min_age_seconds: float = 0.0
) -> list[str]:
    """Remove per-application scratch trees under
    ``SPARK_GRAFT_MATERIALIZE_DIR/_scratch``.

    ``current_app_id`` (a live job passes its own
    ``sparkContext.applicationId``) is always kept;
    ``min_age_seconds`` protects recently-modified trees — i.e. other
    jobs still running — from a concurrent sweep. Returns the removed
    application ids.
    """
    import os
    import shutil
    import time
    from pathlib import Path

    base = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if not base:
        return []
    scratch = Path(base) / "_scratch"
    if not scratch.exists():
        return []
    removed = []
    now = time.time()
    for d in scratch.iterdir():
        # Another application sweeping the same shared dir can delete
        # a tree out from under this scan — a vanishing entry is just
        # "already swept", never an error (matching the
        # ignore_errors rmtree below).
        try:
            if not d.is_dir() or d.name == current_app_id:
                continue
            newest = max(
                (p.stat().st_mtime for p in d.rglob("*")),
                default=d.stat().st_mtime,
            )
        except OSError:
            continue
        if now - newest >= min_age_seconds:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d.name)
    return removed


def materialize(df: DataFrame, name: str) -> DataFrame:
    """Compute-once materialization for frames consumed by both sides
    of a self-join (LSH signatures, IVF assignments): Spark plans each
    side of a self-join independently, so an unmaterialized input runs
    its whole pipeline twice.

    Default: lazy ``localCheckpoint`` — block-manager-backed, zero
    extra I/O, ideal for interactive/bench runs; its blocks die with
    their executors. Set ``SPARK_GRAFT_MATERIALIZE_DIR`` to a
    cluster-visible path to instead WRITE the frame as a parquet table
    and read it back — the durable form for multi-stage jobs on real
    clusters where executor loss is routine.

    Lifecycle: the table is SCRATCH — written under
    ``_scratch/<spark application id>/<name>_<seq>`` (per-call-unique,
    so lazily-composed operator calls can never clobber each other)
    and garbage-collected: this process's first scratch write sweeps
    trees left by finished applications (older than
    ``SPARK_GRAFT_SCRATCH_TTL`` seconds, default one day), and
    :func:`sweep_scratch` is the explicit form.
    """
    import os

    base = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if base:
        global _SWEPT
        app = df.sparkSession.sparkContext.applicationId
        if not _SWEPT:
            _SWEPT = True
            ttl = float(os.environ.get(SCRATCH_TTL_ENV, 86400))
            sweep_scratch(current_app_id=app, min_age_seconds=ttl)
        path = f"{base}/_scratch/{app}/{name}_{next(_SCRATCH_SEQ)}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    return df.localCheckpoint(eager=False)


# (application id, key) -> [the frame last returned under that key,
# plus its predecessor if that one's release failed]. A failed release
# is retried once, on the next invocation; after that the frame is left
# to the ContextCleaner, so a key never holds more than two frames.
_RESULT_SNAPSHOTS: dict[tuple[str, str], list[DataFrame]] = {}


def snapshot_result(df: DataFrame, key: str) -> DataFrame:
    """Eagerly ``localCheckpoint`` a builder's RESULT frame so it
    survives the builder's temp-dir cleanup — and release the blocks
    the PREVIOUS invocation under the same ``key`` left in the block
    manager, so repeated invocations (bench times every builder twice;
    the oracle gate runs it again) hold O(1) snapshots per query
    instead of accumulating storage for the session's lifetime.

    Contract: invoking a builder AGAIN invalidates the frame its
    previous invocation returned (the old blocks are freed — a later
    action on that frame fails at block-fetch time). Callers that need
    two results of the same query live at once must collect the first
    before re-invoking — which every harness (bench, driver, tests)
    already does. A session without a reachable ``sparkContext``
    (connect-style APIs) registers nothing; its snapshots are left to
    the JVM ContextCleaner.
    """
    out = df.localCheckpoint(eager=True)
    try:
        app = out.sparkSession.sparkContext.applicationId
    except Exception:
        return out
    prev = _RESULT_SNAPSHOTS.pop((app, key), [])
    for f in prev[1:]:
        release_checkpoint(f)
    retry = [f for f in prev[:1] if not release_checkpoint(f)]
    # entries from stopped sessions hold dead references — drop them
    # so the registry stays O(keys), not O(keys x sessions)
    for k in [k for k in _RESULT_SNAPSHOTS if k[0] != app]:
        del _RESULT_SNAPSHOTS[k]
    _RESULT_SNAPSHOTS[(app, key)] = [out] + retry
    return out


_SHIPPED_CONTEXTS: set[str] = set()
_PKG_ZIP: str | None = None


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make the engine importable by PYTHON WORKERS regardless of the
    host session's working directory.

    Arrow kernels (mapInPandas / applyInPandasWithState) are pickled
    BY MODULE REFERENCE, so executors must import
    ``gh_archive_clickhouse_spark`` themselves. A session launched
    from the repo root inherits it via cwd; any other launch dir (or
    a real cluster without the package installed on executors) would
    fail with ModuleNotFoundError deep inside the first Arrow stage.
    Fix: zip the package once per process and ``addPyFile`` it once
    per SparkContext — Spark ships the zip to every executor and adds
    it to worker sys.path. On a cluster where the package IS properly
    installed this is a no-op duplicate at the END of sys.path
    (site-packages wins).
    """
    global _PKG_ZIP
    sc = spark.sparkContext
    ctx_id = sc.applicationId
    if ctx_id in _SHIPPED_CONTEXTS:
        return
    if _PKG_ZIP is None:
        import os
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        root = os.path.dirname(pkg_dir)
        fd, zpath = tempfile.mkstemp(
            prefix="gh_archive_clickhouse_spark_", suffix=".zip"
        )
        os.close(fd)
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        zf.write(full, os.path.relpath(full, root))
        _PKG_ZIP = zpath
    sc.addPyFile(_PKG_ZIP)
    _SHIPPED_CONTEXTS.add(ctx_id)


def read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a fixture table, normalizing nanosecond timestamps.

    The events fixture stores TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; we read nanos as long and floor-divide to
    microseconds — the same truncation DuckDB applies when casting its
    TIMESTAMP_NS to TIMESTAMP, so both engines see identical values.
    """
    # Harden against caller-provided sessions (the driver builds its
    # own SparkSession): nanosecond parquet support and a UTC session
    # timezone are part of this engine's semantics, not optional tuning
    # — timestamp formatting must not depend on the host JVM timezone.
    # Likewise the package must reach the Python workers even when the
    # session was launched outside the repo root.
    ensure_package_on_workers(spark)
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_timestamps(
        spark.read.parquet(f"{sf_dir}/{table}.parquet")
    )


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Turn a fixture frame's raw temporal columns into TIMESTAMP (batch
    or stream alike): a nanosecond ``ts`` read as long (the
    ``nanosAsLong`` reader conf) is floor-divided to microseconds, and
    every TIMESTAMP_NTZ column is reinterpreted as a UTC instant."""
    for f_ in df.schema.fields:
        if f_.name == "ts" and f_.dataType.simpleString() == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif f_.dataType.simpleString() == "timestamp_ntz":
            # Fixtures written as timestamp[us] without a tz annotation
            # surface as TIMESTAMP_NTZ, which watermarks and
            # unix_micros reject. With the session tz pinned UTC the
            # NTZ→LTZ cast is a pure reinterpretation (identical
            # wall-clock values, matching DuckDB's naive reading).
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df
