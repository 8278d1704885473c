"""Incremental near-dup detection over a DOCUMENT STREAM.

The batch LSH pipeline (operators/dedup.py) re-pairs the whole corpus;
a firehose needs the incremental form: per micro-batch, signatures are
computed for NEW docs only, appended to a persisted signature table,
and candidate pairs are found by bucket-joining the new signatures
against the table — work per batch is O(new × bucket density), never
O(corpus²), and the signature table doubles as the durable LSH index.

Equivalence to batch (the property qs4's oracle checks): with every
doc arriving exactly once, a pair (a, b) is emitted exactly when the
later of a, b arrives — the union of per-batch pair sets equals
``lsh_candidate_pairs`` over the full corpus.

Retention: both tables are :class:`EpochTable` tables, the format
every stream sink in the package writes: epoch-partitioned for replay
idempotency, and epochs older than the replayable window are
periodically FOLDED into one consolidated ``epoch=-1`` partition —
directory count stays O(keep_epochs), not O(stream lifetime), and the
consolidated partition is compacted on a SIZE-TIERED schedule so total
rewrite work over the stream's lifetime is amortized O(N log N), never
the O(N²) of rewriting the whole corpus every few batches. See
``_compact_old_epochs``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.checkpoints import pinned
from gh_archive_clickhouse_spark.operators.dedup import (
    lsh_candidate_pairs_between,
    minhash_signatures,
)

# Reserved partition value for the consolidated (compacted) epochs.
COMPACTED_EPOCH = -1

# Columns of the pair log and the signature table other than ``epoch``.
PAIRS_SCHEMA = "doc_a long, doc_b long"
SIGS_SCHEMA = "doc_id long, minhash array<bigint>"
LABELS_SCHEMA = "doc_id long, cluster_rep long"


def _epoch_dirs(path: str) -> list[tuple[int, Path]]:
    """(epoch, dir) for every epoch partition currently on disk."""
    root = Path(path)
    if not root.exists():
        return []
    out = []
    for child in root.iterdir():
        if child.is_dir() and child.name.startswith("epoch="):
            try:
                out.append((int(child.name.split("=", 1)[1]), child))
            except ValueError:
                continue
    return out


FOLD_MANIFEST = "_fold_manifest.json"


def _consolidated_file_bytes(
    cons: Path, major_names: set[str]
) -> tuple[int, int, int]:
    """(bytes written by the last major rewrite, bytes minor-appended
    since, COUNT of minor-appended files) for the consolidated
    partition dir."""
    major_b = minor_b = minor_n = 0
    if cons.exists():
        for f in cons.rglob("*.parquet"):
            if str(f.relative_to(cons)) in major_names:
                major_b += f.stat().st_size
            else:
                minor_b += f.stat().st_size
                minor_n += 1
    return major_b, minor_b, minor_n


def _compact_old_epochs(
    spark: SparkSession,
    path: str,
    schema: str,
    current_epoch: int,
    dedup_cols: list[str],
    keep_epochs: int = 4,
    partition_cols: list[str] | None = None,
    tier_factor: int = 4,
    target_file_bytes: int = 128 << 20,
    max_minor_files: int = 64,
) -> str:
    """Fold committed epoch partitions into the consolidated
    ``epoch=-1`` partition so the long-running table's directory count
    is O(keep_epochs), not O(stream lifetime). Returns which fold ran:
    ``"none"``, ``"minor"``, or ``"major"``.

    Two-tier design (the consolidated partition IS the whole
    historical corpus for these tables, so rewriting it per fold would
    be O(N²/keep_epochs) total work — the classic repeated-full-
    compaction blowup):

    * MINOR fold — every time ≥ ``keep_epochs`` committed epochs have
      accumulated: their data files are RENAMED into ``epoch=-1``.
      Because ``partitionBy`` derives the epoch column from the
      directory name (it is not stored in the files), a rename
      reassigns the rows to the consolidated partition with zero
      read/compute/write — O(files) metadata ops per fold, O(N) over
      the stream's lifetime. Any sub-partition layout (the IVF-PQ
      index's ``cluster_id=C`` dirs) is preserved by moving files at
      their partition-relative paths, so probe pruning never degrades.
    * MAJOR fold — SIZE-TIERED: only when the bytes minor-appended
      since the last major rewrite reach ``1/tier_factor`` of that
      rewrite's output (tracked in a hidden ``_fold_manifest.json``)
      is ``epoch=-1`` actually read, de-duplicated on ``dedup_cols``
      (collapsing any crash-replay leftovers), and rewritten — IN
      PARALLEL: repartitioned by the pruning sub-key when
      ``partition_cols`` has one (one task and one file per cluster),
      else hash-bucketed on ``dedup_cols`` into
      ceil(bytes/target_file_bytes) tasks/files. Each byte is
      rewritten only when the consolidation has grown by a constant
      factor, so total major-fold work is amortized O(N log N).

    Between major rewrites the consolidated partition accumulates one
    small file set per minor fold (LSM L0-style); readers just see
    more files, never more rows. The byte tier alone would let a huge
    consolidation sit behind an UNBOUNDED pile of tiny minor files
    (1 TB of history gates ~250 GB of minors — 100k+ loose files), so
    a second trigger caps the pile: once more than
    ``max_minor_files`` minor files have accumulated, the major
    rewrite runs regardless of bytes. That re-admits at most
    O(S per max_minor_files minor folds) rewrite work — the standard
    LSM L0 file-count compromise, a constant factor bounded by the
    threshold, not the per-keep_epochs O(N²) this design replaces.

    Safety argument (at-least-once foreachBatch): once epoch E starts,
    epochs < E are committed and will never be replayed, so folding
    them cannot collide with a dynamic-overwrite replay; the CURRENT
    epoch's partition is never touched. Minor folds are per-file
    renames — a crash mid-loop leaves each file in exactly one place,
    no duplicates. A crash inside the major fold's partition commit
    can leave duplicate rows, which ``dedup_cols`` de-duplicates on
    the next major fold and every consumer tolerates (pair logs and
    signature tables are sets; the MV reader dedups on src_epoch). A
    stale/lost manifest only makes the next major fold run early.

    Local-filesystem partition surgery; an object-store deployment
    routes the minor fold through a table format's metadata-only
    rewrite and the major fold through its compaction (Delta OPTIMIZE,
    Iceberg rewrite_data_files). ``partition_cols`` (default
    ``["epoch"]``) must lead with ``epoch``.
    """
    partition_cols = partition_cols or ["epoch"]
    if partition_cols[0] != "epoch":
        raise ValueError(
            f"partition_cols must lead with 'epoch', got {partition_cols}"
        )
    old = [
        (e, d)
        for e, d in _epoch_dirs(path)
        if e not in (current_epoch, COMPACTED_EPOCH)
    ]
    if len(old) < keep_epochs:
        return "none"
    root = Path(path)
    cons = root / f"epoch={COMPACTED_EPOCH}"
    # ---- minor fold: move committed epochs' data files into the
    # consolidated partition at their partition-relative paths (part
    # file names embed task/attempt UUIDs, so collisions cannot occur)
    for _e, d in sorted(old):
        for f in sorted(p for p in d.rglob("*") if p.is_file()):
            if f.name.startswith(("_", ".")):
                continue
            dest = cons / f.relative_to(d)
            dest.parent.mkdir(parents=True, exist_ok=True)
            f.rename(dest)
        shutil.rmtree(d, ignore_errors=True)
    # ---- size tier: is a major rewrite due?
    manifest = root / FOLD_MANIFEST
    major_names: set[str] = set()
    if manifest.exists():
        try:
            major_names = set(
                json.loads(manifest.read_text()).get("major_files", [])
            )
        except (ValueError, OSError):
            major_names = set()
    major_b, minor_b, minor_n = _consolidated_file_bytes(
        cons, major_names
    )
    if (
        major_b
        and minor_b * tier_factor < major_b
        and minor_n <= max_minor_files
    ):
        return "minor"
    # ---- major fold: read, dedup, rewrite in parallel
    folded = (
        spark.read.schema(schema)
        .parquet(path)
        .filter(F.col("epoch") == COMPACTED_EPOCH)
        .dropDuplicates(dedup_cols)
    )
    if len(partition_cols) > 1:
        folded = folded.repartition(*partition_cols[1:])
    else:
        n_files = max(1, -(-(major_b + minor_b) // target_file_bytes))
        folded = folded.repartition(int(n_files), *dedup_cols)
    # Lineage-break pin: the rewrite reads the very partition it
    # overwrites, so the frame must be pinned first. The blocks are
    # dead the moment the overwrite commits (the next fold re-reads
    # from disk) — released on exit rather than once per fold for the
    # stream's lifetime until the ContextCleaner notices; on a failed
    # write they are equally dead (the replay recomputes the fold from
    # the on-disk epochs).
    with pinned(folded) as snap:
        write_epoch(snap, path, COMPACTED_EPOCH, *partition_cols[1:])
    # Crash-atomic manifest commit: write-to-temp + os.replace (atomic
    # on POSIX), so a crash mid-write can never leave a torn/partial
    # JSON behind — the manifest is either the old one (next major
    # fold merely runs early, as the safety argument documents) or the
    # complete new one.
    tmp = manifest.with_name(manifest.name + ".tmp")
    tmp.write_text(
        json.dumps(
            {
                "major_files": sorted(
                    str(f.relative_to(cons))
                    for f in cons.rglob("*.parquet")
                )
            }
        )
    )
    os.replace(tmp, manifest)
    return "major"


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, *sub_partitions: str
) -> None:
    """Write ``df`` as the ``epoch=epoch_id`` partition of the table at
    ``path`` (under any ``sub_partitions`` dirs), replacing only that
    partition: DYNAMIC partition overwrite, so a foreachBatch replay
    rewrites its own epoch instead of appending duplicates and every
    other epoch is untouched. Callers choose the file layout with their
    own ``repartition``."""
    (
        df.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", *sub_partitions)
        .parquet(path)
    )


@dataclass(frozen=True)
class EpochTable:
    """An epoch-partitioned parquet table written from ``foreachBatch``
    — the one place that knows the format: one ``epoch=E`` partition
    per batch (under any ``sub_partitions`` dirs), committed with
    :func:`write_epoch`, folded into ``epoch=-1`` by
    :func:`_compact_old_epochs`, and read back with an explicit
    schema.

    ``schema`` is the DDL of every column but ``epoch`` (sub-partition
    columns included); ``key`` identifies a row, so the major fold and
    :meth:`read_set` collapse replay and crash duplicates on it.
    """

    path: str
    schema: str
    key: tuple[str, ...]
    sub_partitions: tuple[str, ...] = ()
    keep_epochs: int = 4

    def commit(self, df: DataFrame, epoch_id: int) -> str:
        """Write ``df`` as epoch ``epoch_id`` (a replay rewrites it),
        then fold the committed epochs; returns the fold kind."""
        write_epoch(df, self.path, epoch_id, *self.sub_partitions)
        return _compact_old_epochs(
            df.sparkSession,
            self.path,
            f"{self.schema}, epoch int",
            int(epoch_id),
            dedup_cols=list(self.key),
            keep_epochs=self.keep_epochs,
            partition_cols=["epoch", *self.sub_partitions],
        )

    def read(
        self, spark: SparkSession, exclude_epoch: int | None = None
    ) -> DataFrame:
        """Every committed row, without the ``epoch`` column, skipping
        epoch ``exclude_epoch`` when given. The explicit schema reads a
        table whose batches wrote no rows. Before the first commit the
        frame is an empty relation, which the optimizer drops from a
        union."""
        if not os.path.exists(self.path):
            return spark.createDataFrame([], self.schema).limit(0)
        df = spark.read.schema(f"{self.schema}, epoch int").parquet(
            self.path
        )
        if exclude_epoch is not None:
            df = df.filter(F.col("epoch") != int(exclude_epoch))
        return df.drop("epoch")

    def read_set(self, spark: SparkSession) -> DataFrame:
        """:meth:`read` with one row per ``key``: at-least-once
        replays and a crash inside the major fold can leave
        duplicates."""
        return self.read(spark).dropDuplicates(list(self.key))


def pairs_table(path: str, keep_epochs: int = 4) -> EpochTable:
    """The discovered-pairs log at ``path``."""
    return EpochTable(
        path, PAIRS_SCHEMA, ("doc_a", "doc_b"), keep_epochs=keep_epochs
    )


def incremental_lsh_sink(
    sig_path: str, pairs_path: str, keep_epochs: int = 4
):
    """foreachBatch callable maintaining two :class:`EpochTable`
    tables: the signature table and the discovered-pairs log.

    REPLAY-IDEMPOTENT: Spark re-runs a failed epoch through
    foreachBatch, and a commit rewrites its own epoch's partition
    instead of appending duplicates; other epochs are untouched.
    Per-epoch increments are compacted to a few files (post-compute
    repartition), and epochs older than the replayable window fold
    into one consolidated partition per ``_compact_old_epochs`` — the
    table's directory count is bounded by O(keep_epochs) for the
    stream's whole lifetime, and the consolidation is rewritten only
    on the size-tiered schedule. Banding and shingling are the batch
    ``lsh_candidate_pairs`` defaults, so the union of the per-batch
    pair sets equals the batch pair set.
    """
    sigs = EpochTable(
        sig_path, SIGS_SCHEMA, ("doc_id",), keep_epochs=keep_epochs
    )
    pairs = pairs_table(pairs_path, keep_epochs)

    def _write(batch_df: DataFrame, epoch_id: int) -> dict:
        # ONE signature build per batch, pinned in the block manager:
        # both consumers (the epoch write and the pair join's probe
        # side) read this checkpoint, so the minhash pipeline (shingle
        # explode + 16-way hash aggregate) runs exactly once. Both
        # commits run on the calling (stream) thread, so every job of
        # the batch is in the query's job group and ``query.stop()``
        # can cancel it. localCheckpoint round-trips the long arrays
        # exactly (same blocks), so the pairs are identical.
        with pinned(minhash_signatures(batch_df)) as sigs_new:
            # The probe side unions the PRIOR epochs from disk with
            # the new checkpoint — equal to a "whole table including
            # the just-written epoch E" read: each doc lives in
            # exactly one epoch, and on a replay excluding E skips
            # E's stale partition exactly as the commit replaces it.
            # The pairs commit goes first: the signature fold may move
            # the very files this read lists.
            all_sigs = sigs.read(
                batch_df.sparkSession, exclude_epoch=epoch_id
            ).unionByName(sigs_new)
            pairs_fold = pairs.commit(
                lsh_candidate_pairs_between(sigs_new, all_sigs)
                .repartition(1),
                epoch_id,
            )
            sig_fold = sigs.commit(sigs_new.repartition(4), epoch_id)
        # foreachBatch ignores the return value; composing sinks
        # (incremental_dedup_sink) use it to share the fold cadence.
        return {"sigs": sig_fold, "pairs": pairs_fold}

    return _write


def fold_cluster_labels(
    spark: SparkSession, pairs_path: str, labels_path: str
) -> None:
    """Refresh the duplicate-cluster LABELS table from the pair log:
    connected components (operators/dedup.connected_components —
    min-label propagation with pointer jumping, O(log diameter)
    rounds) over ALL discovered pairs, written to ``labels_path`` as
    (doc_id, cluster_rep).

    This is the step that turns the streaming pair log into the thing
    consumers actually want — a survivors cut (keep cluster_rep, drop
    the rest; never-paired docs are absent from the table and always
    survive). Scale shape: the pair log is O(true near-dup pairs) —
    orders of magnitude smaller than the corpus — and arrives here
    already size-tier compacted, so each refresh is CC over a compact
    table, not a corpus scan. Labels must be recomputed globally (a
    new pair can merge two existing clusters transitively), which is
    why this is a periodic FOLD on the major-compaction cadence
    (amortized — see :func:`incremental_dedup_sink`) rather than
    per-batch work.

    Local-FS overwrite has the same reader-vs-rewrite caveat as the
    epoch fold; an object-store deployment commits the refresh
    through a table format's atomic snapshot swap.
    """
    from gh_archive_clickhouse_spark.operators.dedup import (
        connected_components,
    )

    # Written without a pin of its own: CC's result already reads its
    # last round's checkpoint, which the convergence probe computed,
    # and labels_path is a separate table from the pair log it reads.
    connected_components(
        pairs_table(pairs_path).read_set(spark)
    ).write.mode("overwrite").parquet(labels_path)


def survivors(df: DataFrame, labels_path: str) -> DataFrame:
    """The survivors cut over a labels table written by
    :func:`fold_cluster_labels`: ``df`` without the docs whose label
    is another doc (``doc_id != cluster_rep``). Never-paired docs are
    absent from the table and survive."""
    drops = (
        df.sparkSession.read.schema(LABELS_SCHEMA)
        .parquet(labels_path)
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
    )
    return df.join(drops, "doc_id", "left_anti")


def incremental_dedup_sink(
    sig_path: str,
    pairs_path: str,
    labels_path: str,
    keep_epochs: int = 4,
):
    """foreachBatch callable: incremental LSH pair discovery PLUS a
    periodically-refreshed cluster-labels table — the streaming dedup
    story ended in SURVIVORS instead of a pair log the consumer still
    has to batch-process.

    Composition: :func:`incremental_lsh_sink` maintains the signature
    and pair tables per batch; whenever the PAIR table's epoch fold
    runs its MAJOR rewrite (the amortized size-tiered schedule), the
    labels table is refreshed via :func:`fold_cluster_labels` — CC
    work over the full (compact) pair log is paid O(log N) times over
    the stream's lifetime, never per batch. Between refreshes the
    labels are a bounded-staleness materialized view of the pair log;
    a consumer needing exact point-in-time clusters calls
    ``fold_cluster_labels`` on demand (the "close the books" form the
    qs13 query uses at stream end).

    The labels table EXISTS from the first batch: before the first
    major fold an EMPTY table is seeded (meaning "no drops known
    yet"), so a :func:`survivors` read never hits PATH_NOT_FOUND
    early in the stream's life.
    """
    inner = incremental_lsh_sink(sig_path, pairs_path, keep_epochs)

    def _write(batch_df: DataFrame, epoch_id: int) -> dict:
        if not os.path.exists(labels_path):
            # local_rows_df (r16): an empty createDataFrame still
            # parallelizes to defaultParallelism Python-RDD slices —
            # the seed write was a 32-task wave emitting 32 empty
            # part files. The literal empty frame writes one.
            from gh_archive_clickhouse_spark.operators._util import (
                local_rows_df,
            )

            local_rows_df(
                batch_df.sparkSession, [], LABELS_SCHEMA
            ).write.mode("ignore").parquet(labels_path)
        kinds = inner(batch_df, epoch_id)
        if kinds["pairs"] == "major":
            fold_cluster_labels(
                batch_df.sparkSession, pairs_path, labels_path
            )
        return kinds

    return _write
