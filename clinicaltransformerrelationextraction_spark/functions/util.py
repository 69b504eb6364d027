"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count that the next action on it collects, with
    no Spark job of its own; read it as ``obs.get["n"]`` after that
    action. An Observation serves one action: call this once per action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


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
