"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Repartition iff the input has fewer partitions than the cluster can
    use. A single small parquet file arrives as ONE split, serializing every
    downstream narrow stage; at production scale inputs are already split by
    spark.sql.files.maxPartitionBytes and this is a no-op.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces a plan
    conversion, once per call."""
    if df.isStreaming:
        return df  # micro-batch sizing is the stream trigger's job
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
