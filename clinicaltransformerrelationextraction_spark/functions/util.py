"""Small shared utilities."""

from __future__ import annotations

from typing import Callable

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


def row_kernel(src: DataFrame, schema: str, rows_of: Callable) -> DataFrame:
    """``rows_of(*row) -> [tuple]`` over every row of ``src``, called with
    the row's values of ``src``'s columns in order, as one Arrow-batched
    ``mapInPandas`` pass that yields one pandas frame per batch. Output
    tuples follow ``schema``'s column order. Arrow hands ``array`` cells
    over as numpy arrays: test them with ``len(x) == 0``, never ``not x``."""
    import pandas as pd

    cols = [f.split()[0] for f in schema.split(", ")]

    def kernel(batches):
        for pdf in batches:
            rows = [r for row in pdf.itertuples(index=False, name=None)
                    for r in rows_of(*row)]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(kernel, schema=schema)
