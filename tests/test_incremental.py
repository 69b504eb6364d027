"""Incremental (delta-vs-index) dedup — pytest-pinned equal to the
from-scratch recompute on ANY corpus split.

The full recompute (`clusters_frame` == `q_dedup_clusters`) is itself
oracle-verified against DuckDB, so equality here transitively gives the
incremental path external verification without a driver window slot:

    full pairs    == old-only pairs ∪ incremental pairs   (exact, incl.
                                                           n_shared_bands)
    full clusters == merge_clusters(old clusters, verified delta edges,
                                    delta)

plus the two degenerate deltas (empty delta; everything-is-delta)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.functions.util import (
    ensure_parallelism,
)
from clinicaltransformerrelationextraction_spark.operators.dedup import (
    bands_frame,
    candidate_pairs_frame,
    clusters_frame,
)
from clinicaltransformerrelationextraction_spark.operators.incremental import (
    incremental_candidate_pairs,
    incremental_dedup,
    incremental_verified_pairs,
    merge_clusters,
)
from tests.conftest import SF_SMOKE


def _split(spark):
    docs = ensure_parallelism(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    return docs, old, new


def _same(a, b) -> None:
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_incremental_pairs_equal_full_recompute(spark):
    docs, old, new = _split(spark)
    full = candidate_pairs_frame(docs)
    old_only = candidate_pairs_frame(old)
    inc = incremental_candidate_pairs(bands_frame(old), bands_frame(new))
    assert inc.count() > 0  # the split must actually exercise the path
    # every incremental pair touches the delta; no old-old pair leaks in
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert all(
        r.doc_a in new_ids or r.doc_b in new_ids for r in inc.collect()
    )
    _same(full, old_only.unionByName(inc))


def test_incremental_clusters_equal_full_recompute(spark):
    docs, old, new = _split(spark)
    full = clusters_frame(docs)
    old_labels = clusters_frame(old).select("doc_id", "cluster_id")
    cand = incremental_candidate_pairs(bands_frame(old), bands_frame(new))
    verified = incremental_verified_pairs(cand, old, new)
    merged = merge_clusters(old_labels, verified, new)
    _same(full, merged)


def test_incremental_stored_shingles_mode_identical(spark):
    """The persisted-shingle-table fast path (the bench's operational
    mode) returns byte-identical verified pairs to the recompute-from-
    text path."""
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        shingle_frame,
    )

    _docs, old, new = _split(spark)
    cand = incremental_candidate_pairs(bands_frame(old), bands_frame(new))
    from_text = incremental_verified_pairs(cand, old, new)
    stored = shingle_frame(old.select("doc_id", "text"))
    from_store = incremental_verified_pairs(cand, old, new, stored)
    _same(from_text, from_store)


def test_incremental_dedup_one_call(spark):
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        JACCARD_MIN,
        shingle_frame,
    )

    docs, old, new = _split(spark)
    verified, labels, index_delta, shingle_delta = incremental_dedup(
        old,
        bands_frame(old),
        clusters_frame(old).select("doc_id", "cluster_id"),
        new,
    )
    _same(labels, clusters_frame(docs))
    # the returned deltas are exactly the delta's band/shingle rows
    _same(index_delta, bands_frame(new))
    _same(shingle_delta, shingle_frame(new.select("doc_id", "text")))
    # verified pairs pass the same threshold discipline as the corpus
    # query: every returned pair is delta-involving and jaccard >= min
    assert verified.filter(F.col("jaccard") < JACCARD_MIN).count() == 0


def test_two_successive_ingests(spark):
    """The day-2 scenario: ingest delta 1, append BOTH returned deltas
    to the persisted state, ingest delta 2 against the updated state —
    final labels equal the full recompute. Also covers the
    stale-shingle-table backfill: a second variant deliberately does
    NOT append the shingle delta and must still be exact (day-1 docs
    are old on day 2 but missing from the shingle table)."""
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        shingle_frame,
    )

    docs, _old, _new = _split(spark)
    d0 = docs.filter(F.col("doc_id") % 3 == 1)
    d1 = docs.filter(F.col("doc_id") % 3 == 2)
    d2 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = bands_frame(d0)
    lab = clusters_frame(d0).select("doc_id", "cluster_id")
    shg = shingle_frame(d0.select("doc_id", "text"))

    _v1, lab1, idx_d1, sh_d1 = incremental_dedup(d0, idx, lab, d1, shg)
    old2 = d0.unionByName(d1)
    lab1 = lab1.select("doc_id", "cluster_id")
    full = clusters_frame(docs)

    # maintained state: append both deltas
    _v2, lab2, _i, _s = incremental_dedup(
        old2, idx.unionByName(idx_d1), lab1, d2, shg.unionByName(sh_d1)
    )
    _same(lab2, full)

    # stale shingle table (index still appended — the index is the
    # correctness-critical table): backfill must recompute d1 shingles
    _v3, lab3, _i, _s = incremental_dedup(
        old2, idx.unionByName(idx_d1), lab1, d2, shg
    )
    _same(lab3, full)


def test_incremental_exact_equals_full(spark):
    from clinicaltransformerrelationextraction_spark.operators.incremental import (
        incremental_exact,
    )

    docs, old, new = _split(spark)

    def exact(d):
        return d.groupBy(F.md5("text").alias("text_hash")).agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )

    # full side = the driver-verified query itself, so the incremental
    # update transitively carries its oracle evidence
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        q_dedup_exact,
    )

    _same(q_dedup_exact(spark, SF_SMOKE), incremental_exact(exact(old), new))
    # empty delta is the identity
    _same(exact(old), incremental_exact(exact(old), docs.limit(0)))


def test_contraction_merge_is_domain_general(spark):
    """merge_clusters is not dedup-specific: folding a batch of NEW
    edges of the canonical KG entity graph into the components of the
    OLD edge set (by contraction) equals recomputing components over
    all edges. The old half of the smoke entity graph is one component,
    so two synthetic old clusters that only a new node bridges, and a
    new node with no edge at all, are added."""
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        _undirected,
        min_label_components,
    )

    def labels(edges):
        return min_label_components(edges.toDF("a", "b")).select(
            F.col("entity").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )

    und = _undirected(spark, SF_SMOKE).localCheckpoint()
    old_e = und.filter(F.xxhash64("a", "b") % 2 == 0)
    new_e = und.filter(F.xxhash64("a", "b") % 2 != 0)
    assert old_e.count() > 0 and new_e.count() > 0
    # two more old clusters, {~a1, ~a2} and {~b1, ~b2}, that only the new
    # node ~m bridges, and a new node ~z with no edge ("~" sorts after
    # every entity name)
    pair = "a string, b string"
    old_e = old_e.unionByName(
        spark.createDataFrame([("~a1", "~a2"), ("~b1", "~b2")], pair)
    )
    delta = new_e.unionByName(
        spark.createDataFrame([("~a2", "~m"), ("~b2", "~m")], pair)
    )
    old_labels = labels(old_e).localCheckpoint()
    new_nodes = (
        delta.select(F.col("a").alias("doc_id"))
        .unionByName(delta.select(F.col("b").alias("doc_id")))
        .unionByName(spark.createDataFrame([("~z",)], "doc_id string"))
        .distinct()
        .join(old_labels, "doc_id", "left_anti")
    )
    merged = merge_clusters(old_labels, delta.toDF("doc_a", "doc_b"),
                            new_nodes).select("doc_id", "cluster_id")
    full = labels(old_e.unionByName(delta)).unionByName(
        spark.createDataFrame([("~z", "~z")],
                              "doc_id string, cluster_id string")
    )
    _same(merged, full)
    got = dict(merged.filter(F.col("doc_id").startswith("~")).collect())
    assert got == {"~a1": "~a1", "~a2": "~a1", "~b1": "~a1", "~b2": "~a1",
                   "~m": "~a1", "~z": "~z"}


def test_kmv_sketch_merge_identity_and_query_tieback(spark):
    """K-min of (k-min(old) ∪ k-min(delta)) == k-min(full) — the set
    identity that makes KMV incremental — and the merged sketch's
    (k_actual, kth) reproduce the oracle-verified q_kmv_distinct's own
    columns on the full corpus."""
    from clinicaltransformerrelationextraction_spark.operators.incremental import (
        kmv_merge,
    )
    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        kmv_sketch,
        q_kmv_distinct,
    )

    docs, old, new = _split(spark)
    merged = kmv_merge(kmv_sketch(old), kmv_sketch(new))
    _same(merged, kmv_sketch(docs))
    from_sketch = merged.groupBy("lang").agg(
        F.max("h").alias("kth"), F.count("*").alias("k_actual")
    )
    from_query = q_kmv_distinct(spark, SF_SMOKE).select(
        "lang", "kth", "k_actual"
    )
    _same(from_sketch.select("lang", "kth", "k_actual"), from_query)


def test_hll_register_merge_identity_and_query_tieback(spark):
    """Element-wise register max over (old ∪ delta) equals the
    registers of the union corpus byte-for-byte, and the merged
    registers reproduce q_hll_distinct's (n_buckets_hit, s_int) exactly
    (all-integer restatement)."""
    from clinicaltransformerrelationextraction_spark.operators.incremental import (
        hll_merge,
    )
    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        HLL_M,
        HLL_MAXR,
        hll_registers,
        q_hll_distinct,
    )

    docs, old, new = _split(spark)
    merged = hll_merge(hll_registers(old), hll_registers(new))
    _same(merged, hll_registers(docs))
    from_regs = merged.groupBy("lang").agg(
        F.count("*").alias("n_buckets_hit"),
        F.sum(F.expr(f"shiftleft(1L, {HLL_MAXR} - mj)")).alias("s_hit"),
    ).select(
        "lang", "n_buckets_hit",
        (
            F.col("s_hit")
            + (F.lit(HLL_M) - F.col("n_buckets_hit"))
            * F.lit(1 << HLL_MAXR)
        ).alias("s_int"),
    )
    from_query = q_hll_distinct(spark, SF_SMOKE).select(
        "lang", "n_buckets_hit", "s_int"
    )
    _same(from_regs, from_query)


def test_incremental_degenerate_deltas(spark):
    docs, old, _new = _split(spark)
    empty = docs.limit(0)

    # empty delta: nothing changes
    old_labels = clusters_frame(old)
    merged = merge_clusters(
        old_labels.select("doc_id", "cluster_id"),
        incremental_verified_pairs(
            incremental_candidate_pairs(bands_frame(old), bands_frame(empty)),
            old,
            empty,
        ),
        empty,
    )
    _same(merged, old_labels)

    # everything-is-delta against an empty index: equals the full
    # recompute on the delta corpus
    merged_all = merge_clusters(
        clusters_frame(empty).select("doc_id", "cluster_id"),
        incremental_verified_pairs(
            incremental_candidate_pairs(bands_frame(empty), bands_frame(docs)),
            empty,
            docs,
        ),
        docs,
    )
    _same(merged_all, clusters_frame(docs))
