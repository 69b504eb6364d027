"""Evaluation engine: P/R/F1 metrics and gold-vs-system matching as
DataFrame queries.

Reference semantics re-expressed relationally:
- per-class TP/FP/FN counts         src/utils.py:83-117 measure_prf (A3)
- micro P/R/F1 excluding NonRel     src/utils.py:120-127 acc_and_f1 (A4)
- relation equality (both args + type) src/brat_eval.py:63-70 (J8)
- micro/macro corpus rollup         src/brat_eval.py:310-357 (A5)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import NON_REL

__all__ = [
    "prf_counts", "micro_prf", "relation_match_prf",
    "stub_label_idx_expr", "gold_label_expr",
]


def stub_label_idx_expr(s1_col, s2_col, i1_col, i2_col):
    """The stub scorer's label index as a Column — the SINGLE Spark-side
    definition (mirrors config stub semantics and the oracle's stub_idx);
    every consumer (featurize labels, eval gold, loss counts) must use
    this or the scorer's label_idx output, never a hand-copied formula."""
    from ..config import LABELS, STUB_W2, STUB_W3

    return (
        F.length(s1_col) + STUB_W2 * F.length(s2_col)
        + STUB_W3 * (i1_col + i2_col)
    ) % len(LABELS)


def gold_label_expr(label_idx_col, i1_col, i2_col):
    """The synthetic gold-relation rule as a Column: gold iff
    (3*i1 + i2) % GOLD_MOD == 0, label = LABELS[(idx + GOLD_SHIFT) % n],
    else NonRel. Single definition shared by eval, loss and featurize."""
    from ..config import GOLD_MOD, GOLD_SHIFT, LABELS

    lab_arr = F.array(*[F.lit(l) for l in LABELS])
    gidx = (label_idx_col + GOLD_SHIFT) % len(LABELS)
    return F.when(
        (3 * i1_col + i2_col) % GOLD_MOD == 0,
        F.element_at(lab_arr, gidx + 1),
    ).otherwise(F.lit(NON_REL))


def prf_counts(scored: DataFrame, labels: list[str]) -> DataFrame:
    """(label, tp, fp, fn) per non-NonRel label — one grouped aggregation
    over the (pred_label, gold_label) confusion pairs, pivoted by
    arithmetic instead of the reference's per-label python loops."""
    pos = [l for l in labels if l != NON_REL]
    lab = scored.sparkSession.createDataFrame(
        [(l,) for l in pos], ["label"]
    )
    conf = scored.groupBy("pred_label", "gold_label").count()
    joined = F.broadcast(lab).crossJoin(conf)
    return joined.groupBy("label").agg(
        F.sum(
            F.when(
                (F.col("pred_label") == F.col("label"))
                & (F.col("gold_label") == F.col("label")),
                F.col("count"),
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                (F.col("pred_label") == F.col("label"))
                & (F.col("gold_label") != F.col("label")),
                F.col("count"),
            ).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(
                (F.col("pred_label") != F.col("label"))
                & (F.col("gold_label") == F.col("label")),
                F.col("count"),
            ).otherwise(0)
        ).alias("fn"),
    )


def micro_prf(counts: DataFrame) -> DataFrame:
    """Micro-averaged P/R/F1 over the per-label count table (NonRel already
    excluded upstream, matching utils.py:123)."""
    return counts.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
    ).select(
        "tp", "fp", "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
    )


def relation_match_prf(sys_triples: DataFrame, gold_triples: DataFrame,
                       keys=("doc_id", "subj_id", "obj_id", "pred")) -> DataFrame:
    """The (subj, pred, obj) set comparator — DataFrame port of
    Relation.equals (src/brat_eval.py:63-70), strict mode: exact key match.
    Returns one row (tp, fp, fn, precision, recall, f1). This is the
    north-rule P/R ≥ 0.95 gate."""
    keys = list(keys)
    s = sys_triples.select(*keys).distinct().withColumn("in_sys", F.lit(1))
    g = gold_triples.select(*keys).distinct().withColumn("in_gold", F.lit(1))
    # ONE full-outer join aggregated to (tp, fp, fn); the derived metrics
    # are lazy column expressions, so the whole gate stays a single
    # composable Spark plan (no .first()/createDataFrame round-trip)
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    p = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    r = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(
        2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn)
    ).otherwise(F.lit(0.0))
    return (
        s.join(g, keys, "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("in_sys").isNotNull() & F.col("in_gold").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(F.when(F.col("in_gold").isNull(), 1).otherwise(0)).alias(
                "fp"
            ),
            F.sum(F.when(F.col("in_sys").isNull(), 1).otherwise(0)).alias(
                "fn"
            ),
        )
        .select(
            "tp", "fp", "fn",
            p.alias("precision"), r.alias("recall"), f1.alias("f1"),
        )
    )
