"""Versioned ingest state (plans/ingest.py) — sequential delta ingests
reproduce the from-scratch state exactly, commits are manifest-atomic
(orphan dirs from a crash are invisible to readers), and expire() keeps
the referenced state intact.

The from-scratch baselines (`clusters_frame`, the exact-hash aggregate,
`kmv_sketch`/`hll_registers` tied back to their oracle-verified queries
in tests/test_incremental.py) give the state dir transitive external
verification without a driver window slot."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark import cli
from clinicaltransformerrelationextraction_spark.functions.util import (
    ensure_parallelism,
)
from clinicaltransformerrelationextraction_spark.operators.dedup import (
    clusters_frame,
    exact_partial,
    latest_partial,
    pages_with_crawl_ts,
)
from clinicaltransformerrelationextraction_spark.operators.graph import (
    min_label_components,
    undirected_edges,
)
from clinicaltransformerrelationextraction_spark.operators.textstats import (
    hll_registers,
    kmv_sketch,
)
from clinicaltransformerrelationextraction_spark.plans.ingest import IngestState
from clinicaltransformerrelationextraction_spark.plans.pipeline import run_linked
from tests.conftest import SF_SMOKE


def _same(a, b) -> None:
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _deltas(spark, tmp_path, n=3):
    docs = ensure_parallelism(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ).select("doc_id", "text", "lang")
    paths = []
    for i in range(n):
        p = str(tmp_path / f"delta{i}")
        docs.filter(F.col("doc_id") % n == i).write.parquet(p)
        paths.append(p)
    return docs, paths


def test_sequential_ingests_match_full_recompute(spark, tmp_path):
    docs, paths = _deltas(spark, tmp_path)
    root = str(tmp_path / "state")
    s = IngestState(root)
    st1 = s.ingest(spark, spark.read.parquet(paths[0]))  # bootstrap
    assert st1["version"] == 1 and st1["n_delta_docs"] > 0
    s.ingest(spark, spark.read.parquet(paths[1]))
    # third delta through the CLI surface
    st3 = cli.main(
        ["ingest", "--state", root, "--delta", paths[2]], spark=spark
    )
    assert st3["version"] == 3
    assert st3["n_docs_total"] == docs.count()

    _same(s.labels(spark), clusters_frame(docs))
    _same(s.read_compact(spark, "hash_index"), exact_partial(docs))
    _same(s.read_compact(spark, "kmv"), kmv_sketch(docs))
    _same(s.read_compact(spark, "hll"), hll_registers(docs))
    # the KG state: contraction-merged components == full re-extraction,
    # latest-per-url snapshot == the one-shot aggregate, the edge log
    # covers exactly the full corpus edge set
    _same(
        s.read_compact(spark, "graph"),
        min_label_components(undirected_edges(run_linked(docs))),
    )
    _same(
        s.read_compact(spark, "latest"),
        latest_partial(pages_with_crawl_ts(docs)),
    )
    _same(
        s.read_append(spark, "edges").distinct(),
        undirected_edges(run_linked(docs)),
    )
    assert st3["n_entities"] > 0 and st3["n_components"] > 0
    assert st3["n_urls"] > 0
    # the docs log IS the corpus
    _same(s.docs(spark), docs)
    # every ingest appended its pairs audit log
    assert len(s.manifest()["appends"]["pairs"]) == 3


def test_orphan_dirs_invisible_and_expire_retention(spark, tmp_path):
    docs, paths = _deltas(spark, tmp_path, n=2)
    root = str(tmp_path / "state")
    s = IngestState(root)
    s.ingest(spark, spark.read.parquet(paths[0]))
    before = s.docs(spark).count()
    # a crashed ingest leaves fully-written data dirs but no manifest
    # update: fabricate one and confirm readers never see it
    orphan = f"{root}/docs/ingest_99999"
    spark.read.parquet(paths[1]).write.parquet(orphan)
    assert s.docs(spark).count() == before
    s.ingest(spark, spark.read.parquet(paths[1]))
    assert s.docs(spark).count() == docs.count()

    deleted = s.expire(spark, keep_last=1)
    # the orphan and the superseded v_00001 compacted dirs are gone
    assert any(d.endswith("ingest_99999") for d in deleted)
    assert any(d.endswith("labels/v_00001") for d in deleted)
    assert not os.path.exists(orphan)
    # current state fully intact after GC
    _same(s.labels(spark), clusters_frame(docs))
    assert s.docs(spark).count() == docs.count()


def test_empty_delta_is_a_committed_noop(spark, tmp_path):
    docs, paths = _deltas(spark, tmp_path, n=2)
    root = str(tmp_path / "state")
    s = IngestState(root)
    s.ingest(spark, spark.read.parquet(paths[0]))
    lab1 = s.labels(spark).collect()
    g1 = s.read_compact(spark, "graph").collect()
    st = s.ingest(spark, spark.read.parquet(paths[1]).limit(0))
    assert st["version"] == 2 and st["n_delta_docs"] == 0
    assert st["n_new_verified_pairs"] == 0
    assert sorted(map(tuple, s.labels(spark).collect())) == sorted(
        map(tuple, lab1)
    )
    # KG state is a committed no-op too
    assert sorted(map(tuple, s.read_compact(spark, "graph").collect())) \
        == sorted(map(tuple, g1))
    # manifest is valid json pointing at v2 compacted state
    m = json.loads(open(f"{root}/MANIFEST.json").read())
    assert m["version"] == 2
    assert m["compacted"]["labels"].endswith("v_00002")


def test_pre_graph_era_state_dir_upgrades_with_backfill(spark, tmp_path):
    """A state dir committed before the graph/latest tables existed (its
    manifest lacks those compacted keys and the edges append log) is
    upgraded IN the next ingest: the old graph state is backfilled once
    from the docs log, the reconstructed edge log commits alongside the
    delta, and the post-upgrade state equals the full recompute."""
    docs, paths = _deltas(spark, tmp_path, n=2)
    root = str(tmp_path / "state")
    s = IngestState(root)
    s.ingest(spark, spark.read.parquet(paths[0]))
    # simulate the pre-graph-era manifest shape
    m = json.loads(open(s.manifest_path).read())
    for t in ("graph", "latest"):
        del m["compacted"][t]
    del m["appends"]["edges"]
    open(s.manifest_path, "w").write(json.dumps(m))

    s.ingest(spark, spark.read.parquet(paths[1]))
    _same(
        s.read_compact(spark, "graph"),
        min_label_components(undirected_edges(run_linked(docs))),
    )
    _same(
        s.read_compact(spark, "latest"),
        latest_partial(pages_with_crawl_ts(docs)),
    )
    _same(
        s.read_append(spark, "edges").distinct(),
        undirected_edges(run_linked(docs)),
    )
    # the backfill dir is a committed append alongside the delta's own
    names = [p.rsplit("/", 1)[-1] for p in s.manifest()["appends"]["edges"]]
    assert "backfill_00002" in names and "ingest_00002" in names


def test_compact_appends_preserves_state_and_gc(spark, tmp_path):
    """Small-files maintenance: compact() rewrites each append log's dirs
    into one under a new manifest version, readers see identical data,
    a later ingest keeps composing correctly from the compacted state,
    and expire() GCs the superseded per-ingest dirs."""
    docs, paths = _deltas(spark, tmp_path, n=3)
    root = str(tmp_path / "state")
    s = IngestState(root)
    s.ingest(spark, spark.read.parquet(paths[0]))
    s.ingest(spark, spark.read.parquet(paths[1]))
    done = s.compact(spark)
    assert done["docs"] == 2
    m = s.manifest()
    assert m["version"] == 3
    assert all(len(m["appends"][t]) == 1 for t in m["appends"])
    _same(
        s.docs(spark),
        docs.filter(F.col("doc_id") % 3 != 2),
    )
    # ingest + compact + expire through the CLI, from the compacted state
    st = cli.main(
        ["ingest", "--state", root, "--delta", paths[2],
         "--compact-appends", "2", "--expire-keep", "1"],
        spark=spark,
    )
    assert st["compacted_appends"]["docs"] == 2  # compact dir + new delta
    assert st["expired"] > 0
    _same(s.docs(spark), docs)
    _same(s.labels(spark), clusters_frame(docs))
    _same(
        s.read_compact(spark, "graph"),
        min_label_components(undirected_edges(run_linked(docs))),
    )
    _same(
        s.read_append(spark, "edges").distinct(),
        undirected_edges(run_linked(docs)),
    )
    # after expire, each append root holds ONLY the live compacted dir
    for t in ("docs", "bands", "shingles", "pairs", "edges"):
        assert os.listdir(f"{root}/{t}") == ["compact_00005"], t
    # compacting a single-dir log is a no-op (returns {}, no commit)
    assert s.compact(spark) == {}
    assert s.manifest()["version"] == 5


def test_expire_rejects_negative_keep_last(spark, tmp_path):
    """``cli ingest --expire-keep -1`` would slice ``[1:]`` and silently
    keep every compacted version but the oldest: expire must fail naming
    the argument before it reads any state."""
    with pytest.raises(ValueError, match="keep_last must be >= 0, got -1"):
        IngestState(str(tmp_path / "state")).expire(spark, keep_last=-1)
