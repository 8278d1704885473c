"""Incremental maintenance of the persisted IVF-PQ index over a
VECTOR STREAM.

The batch build (operators/similarity.build_ivfpq_index) projects the
whole corpus once; a firehose corpus needs the incremental form: per
micro-batch, ONLY the new vectors run the map-only index projection
(codes + cluster assignment against the broadcast codebook/centroids
— operators/similarity.ivfpq_index_rows, the SAME expression the
batch build uses, so the two paths cannot desynchronize) and are
appended as an epoch partition under the index root. Probes read the
union of epochs with identical pruning: the layout is
``epoch=E/cluster_id=C``, so a cluster_id filter still eliminates
every other cluster directory inside every epoch.

Equivalence (the property qs10's oracle checks): with every vector
arriving exactly once and the codebook/centroids fixed up front (the
offline-trained coarse quantizer, standard for streaming ANN ingest),
the incrementally-built index is row-identical to the batch build —
assignment and encoding are per-row map functions, so batch slicing
cannot change them.

Retention mirrors the LSH signature table: the index is an
``EpochTable`` (dedup_stream.py) whose epoch partitions are
dynamic-overwrite idempotent under foreachBatch replay,
and epochs older than the replayable window fold into the consolidated
``epoch=-1`` partition — directory count stays O(keep_epochs ×
clusters) for the stream's lifetime, the per-cluster sublayout
survives the fold so probe pruning never degrades, and the
consolidation itself is rewritten only on the size-tiered schedule
(minor folds are pure file renames; the major rewrite repartitions by
``cluster_id``, one task per cluster) so a billion-vector index is
never funneled through a single task nor rewritten per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gh_archive_clickhouse_spark.operators.similarity import (
    ivfpq_index_rows,
)
from gh_archive_clickhouse_spark.streaming.dedup_stream import EpochTable

INDEX_SCHEMA = (
    "vec_id long, codes array<int>, vec array<double>, norm double, "
    "cluster_id int"
)


def incremental_ivfpq_sink(
    index_path: str,
    codebook: DataFrame,
    cents: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_epochs: int = 4,
):
    """foreachBatch callable appending each micro-batch's vectors to
    the persisted IVF-PQ index.

    ``codebook`` is :func:`pq_codebook`'s one-row frame and ``cents``
    :func:`_prep_cents`'s — both fixed before the stream starts (the
    trained quantizer). Per batch: one map-only projection of the NEW
    vectors (zero reads of the existing index), one repartition by
    ``cluster_id`` (the write's only shuffle — clusters write in
    PARALLEL, one task and one file per populated (epoch, cluster)
    directory, so a backfill-scale batch never serializes through a
    single writer), one dynamic-overwrite write of the batch's epoch
    partition (replay rewrites its own epoch, never appends
    duplicates), then the epoch fold once the committed window
    exceeds ``keep_epochs``.
    """

    # ``cents`` must be _prep_cents' ONE-ROW shape (an __cents array
    # column), not a raw centroid table — validate by array size so a
    # first centroid id of 0 can't be mistaken for emptiness, and an
    # un-prepped frame fails here on the missing column rather than
    # deep inside the per-batch fold.
    head = cents.select(F.size("__cents").alias("__n")).head(1)
    if not head or head[0][0] <= 0:
        raise ValueError(
            "centroid table is empty — nothing to index by (same guard "
            "as build_ivfpq_index: an empty fold would silently park "
            "every vector in the sentinel cell)"
        )
    # The fold reads the table back with an explicit schema; it must
    # name the actual id column, not assume the default.
    index = EpochTable(
        index_path,
        INDEX_SCHEMA.replace("vec_id", id_col, 1),
        (id_col,),
        sub_partitions=("cluster_id",),
        keep_epochs=keep_epochs,
    )

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        rows = ivfpq_index_rows(
            batch_df, codebook, cents, m=m, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )
        index.commit(rows.repartition("cluster_id"), epoch_id)

    return _write
