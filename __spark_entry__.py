"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline
(documents -> candidates -> Arrow-batched scoring -> triples) at sf0.001.
``queries()`` / ``oracle_sql()`` expose every oracle-checked operator; the
oracle SQL lives in clinicaltransformerrelationextraction_spark/plans/oracle.py
and shares its constants with the Spark operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import (
    GOLD_MOD,
    GOLD_SHIFT,
    LABELS,
    NON_REL,
    PipelineConfig,
)
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.evaluation import (
    prf_counts,
)
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    score_candidates,
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
    sentences,
)
from clinicaltransformerrelationextraction_spark.operators import (
    dedup,
    evalqueries,
    incremental,
    multimodal,
    preprocess,
    relational,
    similarity,
    textstats,
)
from clinicaltransformerrelationextraction_spark.plans import (
    oracle,
    oracle_eval,
    oracle_relational,
    oracle_training,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_brat,
    run_linked,
    run_pipeline,
)

CFG = PipelineConfig()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline documents -> (subj, pred, obj) triples."""
    docs = load_documents(spark, "/root/testdata/sf0.001")
    return run_pipeline(docs, CFG).triples.select(
        "doc_id", "rel_id", "pred", "subj_id", "obj_id", "score"
    )


# --- pipeline queries --------------------------------------------------------

def _q_sentences(spark: SparkSession, sf: str) -> DataFrame:
    return sentences(load_documents(spark, sf), CFG)


def _q_mentions(spark: SparkSession, sf: str) -> DataFrame:
    return mentions(load_documents(spark, sf), CFG)


def _q_candidates(spark: SparkSession, sf: str) -> DataFrame:
    return candidates(load_documents(spark, sf), CFG)


def _q_predictions(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        scoring_emit,
    )

    # emit per the backend's declared input (r7): the stub consumes only
    # window lengths, so the marked strings are never built here
    scored = score_candidates(
        candidates(load_documents(spark, sf), CFG, emit=scoring_emit(CFG)),
        CFG,
    )
    return scored.select(
        "doc_id", "ent_id_1", "ent_id_2", "ent_type_1", "ent_type_2",
        "sent_diff", "i1", "i2", "pred_label", "score",
    )


def _q_triples(spark: SparkSession, sf: str) -> DataFrame:
    return run_pipeline(load_documents(spark, sf), CFG).triples.select(
        "doc_id", "rel_id", "pred", "subj_id", "obj_id", "score"
    )


def _q_triples_uni(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship pipeline in uni mode (--data-format-mode 1): the scorer
    encodes ONE sequence [CLS] s1 s2 [SEP] (src/task.py:41-49)."""
    cfg = PipelineConfig(data_format_mode=1)
    return run_pipeline(load_documents(spark, sf), cfg).triples.select(
        "doc_id", "rel_id", "pred", "subj_id", "obj_id", "score"
    )


def _q_triples_linked(spark: SparkSession, sf: str) -> DataFrame:
    return run_linked(load_documents(spark, sf), CFG)


def _q_rel_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_documents(spark, sf)
    res = run_pipeline(docs, CFG)
    men = mentions(docs, CFG)
    m1 = men.select(
        "doc_id", F.col("tok_idx").alias("i1"),
        F.col("surface").alias("subj_surface"),
    )
    m2 = men.select(
        "doc_id", F.col("tok_idx").alias("i2"),
        F.col("surface").alias("obj_surface"),
    )
    # mentions is corpus-sized: never broadcast; AQE picks the strategy
    return (
        res.triples.join(m1, ["doc_id", "i1"])
        .join(m2, ["doc_id", "i2"])
        .groupBy("pred", "subj_surface", "obj_surface")
        .agg(F.count("*").alias("n"))
    )


def _q_eval_prf(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.evaluation import (
        gold_label_expr,
    )
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        scoring_emit,
    )

    scored = score_candidates(
        candidates(load_documents(spark, sf), CFG, emit=scoring_emit(CFG)),
        CFG,
    )
    with_gold = scored.withColumn(
        "gold_label",
        gold_label_expr(F.col("label_idx"), F.col("i1"), F.col("i2")),
    )
    return prf_counts(with_gold, LABELS)


def _q_brat_render(spark: SparkSession, sf: str) -> DataFrame:
    return run_brat(load_documents(spark, sf), CFG)


def _q_micro_prf(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.evaluation import (
        micro_prf,
    )

    return micro_prf(_q_eval_prf(spark, sf))


def _q_graph_degree(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_degree,
    )

    return q_graph_degree(spark, sf)


def _q_graph_two_hop(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_two_hop,
    )

    return q_graph_two_hop(spark, sf)


def _q_graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_pagerank,
    )

    return q_graph_pagerank(spark, sf)


def _q_graph_components(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_components,
    )

    return q_graph_components(spark, sf)


def _q_graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_triangles,
    )

    return q_graph_triangles(spark, sf)


def _q_graph_user_components(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_user_components,
    )

    return q_graph_user_components(spark, sf)


def _q_graph_user_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_user_pagerank,
    )

    return q_graph_user_pagerank(spark, sf)


def _q_graph_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_neighbor_jaccard,
    )

    return q_graph_neighbor_jaccard(spark, sf)


def _q_graph_components_star(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.graph import (
        q_graph_components_star,
    )

    return q_graph_components_star(spark, sf)


def _q_binary_triples(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.binarymode import (
        q_binary_triples,
    )

    return q_binary_triples(spark, sf)


def _q_tokenized_features(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.tokenize import (
        q_tokenized_features,
    )

    return q_tokenized_features(spark, sf)


def _q_tokenized_uni(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.tokenize import (
        q_tokenized_uni,
    )

    return q_tokenized_uni(spark, sf)


def _module_queries(impl_mods, sql_mod):
    """Pair up q_* oracle SQL builders with the same-named implementation
    in one of the operator modules."""
    if not isinstance(impl_mods, (list, tuple)):
        impl_mods = [impl_mods]
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    sqls: dict[str, str] = {}
    for name in dir(sql_mod):
        if name.startswith("q_"):
            for mod in impl_mods:
                if hasattr(mod, name):
                    qs[name] = getattr(mod, name)
                    break
            else:
                raise AttributeError(f"no implementation found for {name}")
            sqls[name] = getattr(sql_mod, name)()
    return qs, sqls


_REL_QUERIES, _REL_SQL = _module_queries(relational, oracle_relational)
_TRAIN_QUERIES, _TRAIN_SQL = _module_queries(
    [dedup, textstats, similarity, multimodal, preprocess, incremental],
    oracle_training,
)
_EVAL_QUERIES, _EVAL_SQL = _module_queries(evalqueries, oracle_eval)


# --- Python segmenter: since round 3 this is oracle-checked too (the
# default splitter is deterministic, so even its char offsets are
# SQL-expressible; the Spark side is a per-page row kernel) ------------------

def _q_segment_pages_pandas(spark: SparkSession, sf: str) -> DataFrame:
    from clinicaltransformerrelationextraction_spark.operators.segmentation import (
        segment_pages_udf,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        documents_as_pages,
    )

    return segment_pages_udf(
        documents_as_pages(load_documents(spark, sf)), CFG
    )


# NOTE on ordering: the external driver verifies the FIRST 50 entries in
# dict-insertion order. _WINDOW pins those 50 explicitly (the r3 advice:
# every query whose implementation changed in the current round must sit
# inside the window, plus rotation so that cumulative driver evidence
# covers all queries). Round-6 window = this round's changed/new queries
# PLUS the complete r4-evidence rotation — after the r5 staleness sweep,
# exactly 47 queries' latest driver row is round 4 (computed from
# CORRECTNESS_r04/r05.json); all 47 rotate in, so after this round no
# query's evidence is older than round 5. The remaining 3 slots are the
# round's changed/new queries that are NOT already in the stale 47:
#   - q_dedup_incremental (NEW): the incremental delta-vs-index dedup
#     path's first driver-oracle row (the r5 verdict's #2 ask); oracle =
#     an independent full-corpus recompute with the delta-side predicate.
#   - q_pq_ann_topk (CHANGED): exact re-rank stage added (PQ_RERANK
#     shortlist; recall@10 0.59 -> 0.94, floor-asserted 0.9); output now
#     ranks by exact dist and carries both dist and adist.
#   - q_contamination (CHANGED): census window is now config.CONTAM_NGRAM
#     (=3) with a trigram probe set, not the shared dedup bigrams.
# The two PageRank queries flipped to the hub-split adjacency-list plan
# (integer_pagerank_adj, the r5 verdict's #1 ask — measured 1.4× faster;
# bit-identical output, pytest-pinned incl. hub_split=2) are inside the
# stale-47 block below, satisfying the window rule for changed queries.
# Outside the window: only round-5-green queries whose code is unchanged
# (covered by the in-repo sf0.001 parity suite and the full local sf0.01
# verify drive). q_pq_codes (r5-green, unchanged — the re-rank touches
# only the top-k query, not the encoding) stays outside.
_WINDOW: list[str] = [
    # changed/new this round (not already in the stale-47 rotation)
    "q_dedup_incremental", "q_pq_ann_topk", "q_contamination",
    # the 47 queries whose latest driver row is round 4 — the complete
    # rotation set, including the two CHANGED PageRank queries
    # (adjacency-list plan) and the flagship-pipeline anchors that
    # yielded their r5 slots (q_candidates, q_predictions, q_mentions,
    # q_sentences, q_binary_triples, q_triples_uni, q_graph_components)
    "q_graph_pagerank", "q_graph_user_pagerank",
    "q_big_spenders", "q_binary_triples", "q_brat_render",
    "q_candidates", "q_custkey_setops", "q_customers_with_building_orders",
    "q_customers_without_orders", "q_eval_prf", "q_events_funnel",
    "q_events_percentiles", "q_events_retention",
    "q_first_orders_per_customer", "q_fold_split", "q_graph_components",
    "q_graph_degree", "q_graph_triangles", "q_graph_two_hop",
    "q_hll_distinct", "q_loss_focal", "q_mentions", "q_micro_prf",
    "q_ngram_topk", "q_predictions", "q_rel_stats", "q_revenue_by_region",
    "q_salted_agg", "q_seeded_sample", "q_sentences", "q_simhash",
    "q_simhash_band_pairs", "q_simhash_hamming_hist", "q_stratified_sample",
    "q_token_stats", "q_tokenized_features", "q_top_orders", "q_tpch_q1",
    "q_tpch_q10", "q_tpch_q18", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6",
    "q_triples_linked", "q_triples_uni", "q_union_priorities",
    "q_validate_rels",
]


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_triples": _q_triples,
        "q_triples_uni": _q_triples_uni,
        "q_candidates": _q_candidates,
        "q_predictions": _q_predictions,
        "q_mentions": _q_mentions,
        "q_sentences": _q_sentences,
        "q_binary_triples": _q_binary_triples,
        "q_graph_degree": _q_graph_degree,
        "q_graph_two_hop": _q_graph_two_hop,
        "q_graph_pagerank": _q_graph_pagerank,
        "q_graph_components": _q_graph_components,
        "q_graph_triangles": _q_graph_triangles,
        "q_graph_user_components": _q_graph_user_components,
        "q_graph_components_star": _q_graph_components_star,
        "q_graph_neighbor_jaccard": _q_graph_neighbor_jaccard,
        "q_graph_user_pagerank": _q_graph_user_pagerank,
        "q_micro_prf": _q_micro_prf,
        "q_tokenized_features": _q_tokenized_features,
        "q_tokenized_uni": _q_tokenized_uni,
        "q_brat_render": _q_brat_render,
        "q_eval_prf": _q_eval_prf,
        "q_rel_stats": _q_rel_stats,
        "q_triples_linked": _q_triples_linked,
        "q_segment_pages_pandas": _q_segment_pages_pandas,
        **_EVAL_QUERIES,
        **_TRAIN_QUERIES,
        **_REL_QUERIES,
    }


def _all_oracle_sql() -> dict[str, str]:
    return {
        "q_triples": oracle.q_triples(),
        "q_triples_uni": oracle.q_triples_uni(),
        "q_candidates": oracle.q_candidates(),
        "q_predictions": oracle.q_predictions(),
        "q_mentions": oracle.q_mentions(),
        "q_sentences": oracle.q_sentences(),
        "q_binary_triples": oracle.q_binary_triples(),
        "q_graph_degree": oracle.q_graph_degree(),
        "q_graph_two_hop": oracle.q_graph_two_hop(),
        "q_graph_pagerank": oracle.q_graph_pagerank(),
        "q_graph_components": oracle.q_graph_components(),
        "q_graph_triangles": oracle.q_graph_triangles(),
        "q_graph_user_components": oracle.q_graph_user_components(),
        # the star-contraction variant computes the identical fixpoint,
        # so it shares the components oracle verbatim
        "q_graph_components_star": oracle.q_graph_components(),
        "q_graph_neighbor_jaccard": oracle.q_graph_neighbor_jaccard(),
        "q_graph_user_pagerank": oracle.q_graph_user_pagerank(),
        "q_micro_prf": oracle.q_micro_prf(),
        "q_tokenized_features": oracle.q_tokenized_features(),
        "q_tokenized_uni": oracle.q_tokenized_uni(),
        "q_brat_render": oracle.q_brat_render(),
        "q_eval_prf": oracle.q_eval_prf(),
        "q_rel_stats": oracle.q_rel_stats(),
        "q_triples_linked": oracle.q_triples_linked(),
        "q_segment_pages_pandas": oracle.q_segment_pages_pandas(),
        **_EVAL_SQL,
        **_TRAIN_SQL,
        **_REL_SQL,
    }


def _window_first(full: dict) -> dict:
    """Reorder so _WINDOW occupies the first 50 insertion slots; raises
    KeyError if a window name has no registered implementation/oracle."""
    return {**{n: full[n] for n in _WINDOW}, **full}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _window_first(_all_queries())


def oracle_sql() -> dict[str, str]:
    return _window_first(_all_oracle_sql())
