"""Small shared utilities."""

from __future__ import annotations

import gc
import os
import sys
import zipimport
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


# process-wide, as the importers are: archive -> (stat key, directory)
# of its last read, and zipimporter's own eager re-read
_zip_reads: dict = {}
_zip_reread = zipimport.zipimporter.invalidate_caches


def _reread_if_changed(self) -> None:
    try:  # stat before the read: a change during it shows next time
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    last_key, files = _zip_reads.get(self.archive, (None, None))
    if key is not None and key == last_key:
        self._files = zipimport._zip_directory_cache[self.archive] = files
        return
    _zip_reread(self)
    if self.archive in zipimport._zip_directory_cache:
        _zip_reads[self.archive] = (key, self._files)
    else:  # unreadable: the original emptied it, so re-read it next time
        _zip_reads.pop(self.archive, None)


def set_up_python_worker() -> None:
    """Once per Python worker process (idempotent), at the start of each
    product runner's task; Spark reuses workers, so both steps hold for
    every later task on the worker.

    - Stop re-reading zip archives on ``sys.path`` whose ``(st_ino,
      st_size, st_mtime_ns)`` has not changed since their directory was
      last read. Spark calls ``importlib.invalidate_caches()`` at the start
      of every task, and on CPython < 3.12 that makes each ``zipimporter``
      (one per package of ``pyspark.zip``, plus the py4j zip: 16 on a stock
      worker) re-read its archive's whole directory, about 240 ms of worker
      CPU per task before any row is touched. The importers of an unchanged
      archive now share the directory of its last read. An archive
      replaced, rewritten or deleted on disk, for example a re-shipped
      ``--py-files`` zip, still goes through the original
      ``zipimporter.invalidate_caches``. CPython >= 3.12 re-reads lazily
      and is left alone.
    - Freeze the worker's heap once (``gc.freeze()``). With worker reuse,
      pyspark's daemon runs a full ``gc.collect()`` after every task, and a
      warm worker tracks ~73,500 objects (mostly pandas, pyarrow and
      numpy), so each collect cost 27-34 ms, as much as the stub scorer's
      own work in a task. Frozen objects sit in the permanent generation,
      which no collection scans. Only inside a Spark task
      (``TaskContext.get()``): a driver or a test that calls this freezes
      nothing."""
    cls = zipimport.zipimporter
    if sys.version_info < (3, 12) and cls.invalidate_caches is _zip_reread:
        cls.invalidate_caches = _reread_if_changed
    if not gc.get_freeze_count():
        from pyspark import TaskContext

        if TaskContext.get() is not None:
            gc.freeze()


def row_kernel(src: DataFrame, schema: str, rows_of: Callable) -> DataFrame:
    """``rows_of(*row) -> [tuple]`` over every row of ``src``, called with
    the row's values of ``src``'s columns in order, as one Arrow-batched
    ``mapInPandas`` pass that yields one pandas frame per batch. Output
    tuples follow ``schema``'s column order. Arrow hands ``array`` cells
    over as numpy arrays: test them with ``len(x) == 0``, never ``not x``."""
    import pandas as pd

    cols = [f.split()[0] for f in schema.split(", ")]

    def kernel(batches):
        set_up_python_worker()
        for pdf in batches:
            rows = [r for row in pdf.itertuples(index=False, name=None)
                    for r in rows_of(*row)]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(kernel, schema=schema)
