"""Python workers set themselves up once: ``set_up_python_worker``.

Spark calls ``importlib.invalidate_caches()`` at the start of every Python
task; on CPython < 3.12 that re-reads the directory of every zip archive
on the worker's path (``pyspark.zip`` once per package importer). The
hook, called by the product's Python runners, keeps the directory of an
archive that has not changed on disk and re-reads one that has. It also
freezes the worker's heap once, so the full ``gc.collect()`` that
pyspark's daemon runs after every task no longer scans it.

- pure Python, on a zip put on ``sys.path``: an unchanged archive is not
  re-read, a rewritten one is (and its new module imports), a deleted or
  corrupt one behaves as without the hook, and CPython >= 3.12 is left alone;
- Spark: inside a ``row_kernel`` task and a ``run_pipeline`` task, a
  second ``importlib.invalidate_caches()`` re-reads no archive;
- Spark: after such tasks, later tasks on the same worker see the heap
  frozen once (the same non-zero ``gc.get_freeze_count()``); the hook
  called in the driver freezes nothing.
"""

from __future__ import annotations

import gc
import importlib
import importlib.util
import json
import os
import sys
import zipfile
import zipimport

import pytest

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.functions import util
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    SCORER_REGISTRY,
    register_scorer,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    run_pipeline,
)

eager = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip directories lazily; no hook")


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def hook(monkeypatch):
    """The hook from a clean slate; zipimporter's own method is restored
    after the test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        util._zip_reread)
    monkeypatch.setattr(util, "_zip_reads", {})
    return util.set_up_python_worker


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` reads, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path):
    """A zip with module ``zw_a`` on ``sys.path``; path, finder and
    modules are removed afterwards."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zw_a": "X = 1\n", "zw_b": "Y = 2\n"})
    sys.path.insert(0, str(path))
    importlib.import_module("zw_a")
    yield str(path)
    sys.path.remove(str(path))
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)
    for name in ("zw_a", "zw_b", "zw_c"):
        sys.modules.pop(name, None)


@eager
def test_unchanged_archive_is_not_reread(hook, reads, archive):
    hook()
    importlib.invalidate_caches()
    assert archive in reads  # the first call after the hook reads it
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:] == []
    # the kept directory still serves imports
    assert importlib.import_module("zw_b").Y == 2


@eager
def test_rewritten_archive_is_reread(hook, reads, archive):
    hook()
    importlib.invalidate_caches()
    _write_zip(archive, {"zw_a": "X = 1\n", "zw_c": "Z = 3\n"})
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:].count(archive) == 1
    assert importlib.import_module("zw_c").Z == 3


@eager
@pytest.mark.parametrize("hooked", [False, True])
@pytest.mark.parametrize("damage", ["deleted", "corrupt"])
def test_damaged_archive_behaves_as_without_hook(hook, archive, hooked,
                                                damage):
    if hooked:
        hook()
        importlib.invalidate_caches()
    if damage == "deleted":
        os.remove(archive)
    else:
        with open(archive, "wb") as f:
            f.write(b"not a zip archive")
    importlib.invalidate_caches()
    importlib.invalidate_caches()  # an unchanged unreadable one too
    finder = sys.path_importer_cache[archive]
    assert finder._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert importlib.util.find_spec("zw_b") is None


def test_hook_is_idempotent_and_leaves_312_alone(hook, monkeypatch):
    if sys.version_info < (3, 12):
        hook()
        patched = zipimport.zipimporter.invalidate_caches
        assert patched is not util._zip_reread
        hook()
        assert zipimport.zipimporter.invalidate_caches is patched
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            util._zip_reread)
        monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    hook()
    assert zipimport.zipimporter.invalidate_caches is util._zip_reread


def _rereads_in_task():
    """(zip importers on this worker's path, archives the first and the
    second of two back-to-back ``importlib.invalidate_caches()`` read).
    Returned as a closure so it pickles by value to the workers."""

    def probe():
        import importlib
        import sys
        import zipimport

        seen = []
        real = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(seen)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return zips, first, len(seen) - first

    return probe


@eager
def test_row_kernel_task_rereads_no_unchanged_zip(spark):
    probe = _rereads_in_task()
    rows = util.row_kernel(
        spark.range(4).repartition(4), "zips int, first int, second int",
        lambda _: [probe()],
    ).collect()
    assert len(rows) == 4
    assert all(r.zips > 0 for r in rows), rows  # pyspark.zip is on the path
    assert all(r.second == 0 for r in rows), rows


@eager
def test_run_pipeline_task_rereads_no_unchanged_zip(spark, tmp_path):
    probe = _rereads_in_task()
    log = str(tmp_path / "tasks.jsonl")
    stub = SCORER_REGISTRY["stub"]

    def factory(cfg, labels):  # built at the start of each task
        zips, first, second = probe()
        with open(log, "a") as f:
            f.write(json.dumps({"zips": zips, "second": second}) + "\n")
        return stub(cfg, labels)

    register_scorer("probing", factory)
    try:
        docs = spark.createDataFrame(
            [(i, "join spark") for i in range(8)], "doc_id long, text string")
        run_pipeline(docs, PipelineConfig(scorer="probing")).triples.collect()
    finally:
        SCORER_REGISTRY.pop("probing")
    with open(log) as f:
        tasks = [json.loads(line) for line in f]
    assert tasks
    assert all(t["zips"] > 0 and t["second"] == 0 for t in tasks), tasks


def test_product_tasks_freeze_the_worker_heap_once(hook, spark, tmp_path):
    hook()
    assert gc.get_freeze_count() == 0  # the driver is no Spark task

    def state():
        import gc
        import os

        return os.getpid(), gc.get_freeze_count()

    product = util.row_kernel(
        spark.range(4).repartition(4), "pid int, frozen long",
        lambda _: [state()]).collect()
    log = str(tmp_path / "tasks.jsonl")
    stub = SCORER_REGISTRY["stub"]

    def factory(cfg, labels):  # built at the start of each task
        with open(log, "a") as f:
            f.write(json.dumps(state()) + "\n")
        return stub(cfg, labels)

    register_scorer("freeze-probing", factory)
    try:
        docs = spark.createDataFrame(
            [(i, "join spark") for i in range(8)], "doc_id long, text string")
        run_pipeline(docs, PipelineConfig(scorer="freeze-probing")
                     ).triples.collect()
    finally:
        SCORER_REGISTRY.pop("freeze-probing")
    with open(log) as f:
        product += [tuple(json.loads(line)) for line in f]

    def plain(batches):  # a later task that does not call the hook
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame([state()], columns=["pid", "frozen"])

    later = spark.range(16).repartition(8).mapInPandas(
        plain, "pid int, frozen long").collect()
    assert all(frozen > 0 for _, frozen in product), product
    frozen_at = {}
    for pid, frozen in product:
        assert frozen_at.setdefault(pid, frozen) == frozen, product
    same = [(pid, frozen) for pid, frozen in later if pid in frozen_at]
    assert same, (product, later)  # workers are reused
    assert all(frozen == frozen_at[pid] for pid, frozen in same), same
    assert gc.get_freeze_count() == 0
