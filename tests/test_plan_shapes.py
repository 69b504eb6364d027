"""Plan-shape regression guards: the physical plans we designed for 100 TB
must not silently regress (extra shuffles, single-partition exchanges,
forced broadcasts of corpus-sized tables)."""

from __future__ import annotations

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_brat,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def _nodes(plan: str) -> list[str]:
    """Node headers of a formatted plan ('(3) Exchange' -> 'Exchange')."""
    return re.findall(r"^\(\d+\) (\S+)", plan, re.M)


def test_candidate_generation_is_shuffle_free(spark):
    """The candidate stage may contain ONLY the input-split repartition
    (round-robin from ensure_parallelism) — never a hash-partition
    exchange: the pair blow-up is in-row by design. Both emits are one
    doc-row kernel: one MapInPandas and no Generate (explode)."""
    docs = load_documents(spark, SF_SMOKE)
    for emit in ("text", "lengths"):
        plan = _plan(candidates(docs, PipelineConfig(), emit=emit))
        nodes = _nodes(plan)
        assert nodes.count("Exchange") <= 1, emit
        assert "hashpartitioning" not in plan, emit
        assert "SinglePartition" not in plan, emit
        assert nodes.count("MapInPandas") == 1, emit
        assert "Generate" not in nodes, emit


def test_fused_triples_pipeline_is_shuffle_free(spark):
    """Fused score+filter+number: zero shuffle end to end beyond the input
    split; no Window node (numbering happens inside the Arrow UDF) — for
    a lengths backend (stub, binary) and a text backend (mlp) alike."""
    for cfg in (PipelineConfig(), PipelineConfig(scorer="mlp"),
                PipelineConfig(scorer="binary")):
        trip = run_pipeline(load_documents(spark, SF_SMOKE), cfg).triples
        plan = _plan(trip)
        nodes = _nodes(plan)
        assert nodes.count("Exchange") <= 1, cfg.scorer
        assert "hashpartitioning" not in plan, cfg.scorer
        assert "Window" not in nodes, cfg.scorer


def test_brat_pass_is_shuffle_free(spark):
    """Brat rendering is the triples pass itself: one MapInPandas over the
    docs, no hash-partition exchange (no groupBy or join against the
    triples) and no Window, for a lengths backend and a text backend."""
    for cfg in (PipelineConfig(), PipelineConfig(scorer="mlp"),
                PipelineConfig(scorer="binary")):
        plan = _plan(run_brat(load_documents(spark, SF_SMOKE), cfg))
        nodes = _nodes(plan)
        assert nodes.count("MapInPandas") == 1, cfg.scorer
        assert "hashpartitioning" not in plan, cfg.scorer
        assert "Window" not in nodes, cfg.scorer


def test_no_single_partition_exchange_in_headline_queries(spark):
    """A SinglePartition exchange funnels the corpus through one task —
    the q_fold_split regression this guards against. orderBy+limit top-k
    (TakeOrderedAndProject) is fine and does not use one."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in [
        "q_fold_split", "q_triples", "q_candidates", "q_rel_stats",
        "q_dedup_minhash_pairs", "q_ann_topk", "q_tpch_q1", "q_tpch_q5",
        "q_seeded_sample",
    ]:
        plan = _plan(qs[name](spark, SF_SMOKE))
        assert "SinglePartition" not in plan, name


def test_no_forced_broadcast_of_corpus_tables(spark):
    """ResolvedHint/static broadcast must appear only on true dimension
    tables. The mentions-derived joins in q_rel_stats/q_triples_linked
    carry no hint (AQE decides from runtime stats)."""
    from clinicaltransformerrelationextraction_spark.operators.postprocess import (
        link_triples,
    )
    from clinicaltransformerrelationextraction_spark.operators.segmentation import (
        mentions,
    )

    docs = load_documents(spark, SF_SMOKE)
    cfg = PipelineConfig()
    trip = run_pipeline(docs, cfg).triples
    men = mentions(docs, cfg)
    linked = link_triples(trip, men)
    optimized = linked._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized
    assert ", broadcast" not in optimized


def test_ann_topk_has_mapside_window_group_limit(spark):
    """rank<=k must keep its partial (map-side) WindowGroupLimit: each scan
    task prunes to its local top-k BEFORE the shuffle, so the small
    post-shuffle partition count (one per query id) is no parallelism
    ceiling."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["q_ann_topk"](spark, SF_SMOKE))
    assert _nodes(plan).count("WindowGroupLimit") >= 2


def test_validate_rels_joins_aggregated_counts_not_mentions(spark):
    """q_validate_rels computes its pair census arithmetically from
    per-(doc, sentence, type) counts: every join must key on
    (doc_id, anchor) over the AGGREGATED count table — never the
    mention-level doc_id-only self-join (quadratic per doc) this replaced."""
    from clinicaltransformerrelationextraction_spark.operators.preprocess import (
        q_validate_rels,
    )

    plan = _plan(q_validate_rels(spark, SF_SMOKE))
    assert "anchor" in plan
    # no join keyed on doc_id alone (the old mention×mention shape)
    assert re.search(r"keys \[1\]: \[doc_id", plan) is None


def test_tpch_q6_pushes_every_filter_to_the_scan(spark):
    """Q6's whole WHERE clause must reach the parquet reader as
    PushedFilters — a scan that reads then filters is the regression this
    guards."""
    from clinicaltransformerrelationextraction_spark.operators.relational import (
        q_tpch_q6,
    )

    plan = _plan(q_tpch_q6(spark, SF_SMOKE))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_kmv_sketch_keeps_partial_window_group_limit(spark):
    """The rank<=K filter must keep its map-side (partial) WindowGroupLimit
    so each task prunes to a local K-min set before the shuffle — the
    sketch-merge dataflow (one partial + one final node)."""
    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        q_kmv_distinct,
    )

    plan = _plan(q_kmv_distinct(spark, SF_SMOKE))
    assert _nodes(plan).count("WindowGroupLimit") == 2


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Bucketed-table co-located join — the 100 TB pattern for a join you
    run repeatedly on the same key (e.g. the triples table joined to an
    entity dimension by canonical id): both sides written bucketBy(8, key)
    + sortBy(key), so the SortMergeJoin consumes the on-disk bucketing and
    the plan has ZERO Exchange nodes — the shuffle was paid ONCE at write
    time, not per query. The same query over plain parquet must show
    Exchanges (the control, so this test can't pass vacuously)."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdemo")
    try:
        (orders.write.format("parquet")
         .bucketBy(8, "o_custkey").sortBy("o_custkey")
         .option("path", str(tmp_path / "orders_b"))
         .mode("overwrite").saveAsTable("bktdemo.orders_b"))
        (cust.write.format("parquet")
         .bucketBy(8, "c_custkey").sortBy("c_custkey")
         .option("path", str(tmp_path / "cust_b"))
         .mode("overwrite").saveAsTable("bktdemo.cust_b"))
        with_buckets = spark.sql("""
            SELECT /*+ MERGE(o) */ c.c_custkey, count(*) AS n,
                   sum(o.o_totalprice) AS total
            FROM bktdemo.cust_b c JOIN bktdemo.orders_b o
              ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        """)
        plain = (
            cust.hint("merge")
            .join(orders, cust.c_custkey == orders.o_custkey)
            .groupBy("c_custkey")
            .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
        )
        nodes_b = _nodes(_plan(with_buckets))
        nodes_p = _nodes(_plan(plain))
        assert "Exchange" not in nodes_b, nodes_b
        assert "Exchange" in nodes_p  # control: shuffle without bucketing
        # same result either way (order-insensitive)
        rb = sorted(map(tuple, with_buckets.collect()))
        rp = sorted(map(tuple, plain.collect()))
        assert rb == rp and len(rb) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bktdemo.orders_b")
        spark.sql("DROP TABLE IF EXISTS bktdemo.cust_b")
        spark.sql("DROP DATABASE IF EXISTS bktdemo")


def test_stratified_sample_keeps_partial_window_group_limit(spark):
    """Per-stratum rank<=N must keep its map-side WindowGroupLimit so
    each task prunes to a local top-N per language before the shuffle
    (one partial + one final node) — at corpus scale the shuffle carries
    n_langs * N * tasks rows, not the corpus."""
    from clinicaltransformerrelationextraction_spark.operators.preprocess import (
        q_stratified_sample,
    )

    plan = _plan(q_stratified_sample(spark, SF_SMOKE))
    assert _nodes(plan).count("WindowGroupLimit") == 2


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling is ON in the session factory and actually
    fires: a join whose build side has one dominant key (the host-domain
    skew of a crawl corpus) gets its oversized shuffle partition SPLIT at
    runtime — the executed plan shows SortMergeJoin(skew=true) with an
    'AQEShuffleRead skewed' child instead of one straggler task. The
    salting path (cfg.salt_buckets, q_salted_agg) remains the static
    fallback; this pins the adaptive one. Thresholds are lowered so the
    skew is detectable at test scale; a skew-split must not change
    results (checked against the plain aggregate)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        big = spark.range(0, 200000).select(
            F.when(F.col("id") < 180000, F.lit(0))
            .otherwise((F.col("id") % 100) + 1).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 101).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
        )
        j = big.join(dim, "k").select(
            F.sum(F.length("payload")).alias("s")
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
        assert row.s == 200000 * 32  # every payload md5 joined exactly once
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_triples_scan_prunes_partitions(spark, tmp_path):
    """Materialized triples partitioned by predicate (the Iceberg-style
    graph-table layout the north rule asks for): a pred-filtered read
    must prune at the PARTITION level — the filter appears under
    PartitionFilters in the scan, so non-matching predicate directories
    are never listed/read. At 100 TB this is the difference between
    scanning one relation type and scanning the whole KG."""
    trip = run_pipeline(
        load_documents(spark, SF_SMOKE), PipelineConfig()
    ).triples.select("doc_id", "rel_id", "subj_id", "obj_id", "pred")
    out = str(tmp_path / "triples_by_pred")
    trip.write.partitionBy("pred").parquet(out)
    back = spark.read.parquet(out).filter(F.col("pred") == "adverse")
    plan = _plan(back)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "pred" in pf.group(1), plan[:1500]
    assert back.count() == trip.filter(F.col("pred") == "adverse").count()


def test_kmeans_assignment_broadcasts_codebook(spark):
    """One Lloyd assignment round must BROADCAST the K-row codebook
    against the corpus (BroadcastNestedLoopJoin from the hinted
    crossJoin) with no SinglePartition funnel — the shape that keeps
    each round a single scan of the vectors. Built from the same
    internals q_kmeans_centroids iterates (the full query executes its
    rounds eagerly via localCheckpoint, so the round plan must be
    inspected directly)."""
    from pyspark.sql import functions as F

    from clinicaltransformerrelationextraction_spark.operators import (
        similarity as S,
    )

    vecs = S._q(spark, SF_SMOKE)
    cent = S._centroids(spark, SF_SMOKE).select(
        F.col("label").alias("cid"), "centroid"
    )
    d = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid",
        S._sq_l2(F.col("qe"), F.col("centroid")).alias("dist"),
    )
    plan = _plan(d)
    nodes = _nodes(plan)
    assert "BroadcastNestedLoopJoin" in nodes, nodes
    assert "SinglePartition" not in plan


def test_tfidf_topk_keeps_partial_window_group_limit(spark):
    """The per-doc rank<=K must keep its map-side WindowGroupLimit
    (partial + final): at corpus scale the window shuffle then carries
    K*tasks rows per doc partition, not the full (doc, term) tf table."""
    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        q_tfidf_topk,
    )

    plan = _plan(q_tfidf_topk(spark, SF_SMOKE))
    assert _nodes(plan).count("WindowGroupLimit") == 2


def test_pages_latest_is_single_aggregate_no_window(spark):
    """Latest-crawl-per-url must plan as ONE map-side-combinable
    aggregate on url — no Window node and no self-join; the max(struct)
    tiebreak is an ordinary aggregate, so a hot domain's recrawls reduce
    to one candidate row per task before the shuffle. Spark holds a
    struct-typed max buffer in a SortAggregate (not HashAggregate), and
    the reader wraps in ensure_parallelism's round-robin repartition, so
    the assertions target the aggregate's partial/final split and the
    single url hash-shuffle rather than raw node counts."""
    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        q_pages_latest,
    )

    plan = _plan(q_pages_latest(spark, SF_SMOKE))
    nodes = _nodes(plan)
    assert "Window" not in nodes
    assert "SortMergeJoin" not in nodes and "BroadcastHashJoin" not in nodes
    assert "partial_max" in plan  # map-side combine exists
    assert nodes.count("SortAggregate") == 2  # partial + final
    assert plan.count("hashpartitioning(url") == 1  # the one real shuffle


def test_pq_adc_broadcasts_tables_keeps_window_group_limit(spark):
    """The ADC plan must broadcast EVERY small side — the codebook into
    the encoding joins, the per-query distance tables into the
    corpus-codes join (the property that keeps the corpus scan
    shuffle-light at 10^12 vectors), and since r6 the shortlist + query
    vectors into the exact re-rank joins (raw vectors are touched only
    via queries × PQ_RERANK point lookups, never shuffled) — and BOTH
    top-k windows (ADC shortlist srank, exact-dist rank) must keep their
    partial + final WindowGroupLimit pairs."""
    from clinicaltransformerrelationextraction_spark.operators.similarity import (
        q_pq_ann_topk,
    )

    plan = _plan(q_pq_ann_topk(spark, SF_SMOKE))
    nodes = _nodes(plan)
    assert nodes.count("BroadcastHashJoin") >= 4, nodes
    assert "SortMergeJoin" not in nodes
    assert nodes.count("WindowGroupLimit") == 4
