"""Small shared utilities for operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_rows_df(spark, rows, schema) -> DataFrame:
    """A driver-local SPEC-SIZED table (mixture rates, merge tables,
    model weights, single-row query literals) as a ONE-partition,
    JVM-only frame.

    ``spark.createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` Python-RDD slices, so EVERY downstream
    action — broadcast build, snapshot write, noop sink — pays a full
    task wave of Python-worker round-trips for a handful of rows
    (~0.35 s per action at local[32] for an 80-row table; a
    ``coalesce(1)`` on top is worse still: it computes the 32 Python
    slices SEQUENTIALLY in one task, 4+ s). Here the rows become one
    literal array-of-structs exploded in a single task: no Python
    worker in the lineage at all (~0.05 s per action), and one
    partition is the right layout for spec-sized metadata at any
    scale. Values must be plain literals (ints/floats/strings/bools/
    lists/None) — which is what a spec-sized table holds by
    definition; this is NOT a general createDataFrame replacement.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    st = (
        schema
        if isinstance(schema, StructType)
        else StructType.fromDDL(schema)
    )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for f, v in zip(st.fields, row)
            ]
        )
        for row in rows
    ]
    arr = (
        F.array(*structs)
        if structs
        # typed EMPTY array: explode yields the correct zero-row frame
        else F.array().cast(ArrayType(st))
    )
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(arr).alias("__r"))
        .select(*[F.col(f"__r.{f.name}").alias(f.name) for f in st.fields])
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Fan out compute-heavy per-row operators when the input arrives
    under-partitioned (e.g. one small parquet file → one task, so 31 of
    32 local cores idle).

    Decides from the plan alone and never starts a job. A root
    ``repartition(n)`` has n partitions, and a plan that AQE does not
    wrap (a scan, a checkpoint, a stream micro-batch) has the split
    count the driver plans for it. Either fans out only below half the
    cluster's default parallelism, so a well-partitioned 100 TB input
    passes through untouched (no extra shuffle). Any other plan (one
    with a shuffle or a broadcast) fans out directly: AQE sets its
    partition count at run time, and reading it here would run the
    plan's map stages as jobs of their own that the real action then
    runs again. A small shuffle output lands in one partition anyway;
    on a large one the fan-out costs one round-robin shuffle more."""
    target = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    root = qe.logical()
    if root.nodeName() == "Repartition" and root.shuffle():
        n = root.numPartitions()
    elif qe.executedPlan().nodeName() != "AdaptiveSparkPlan":
        n = qe.toRdd().getNumPartitions()
    else:
        return df.repartition(target)
    if n < max(target // 2, 1):
        return df.repartition(target)
    return df
