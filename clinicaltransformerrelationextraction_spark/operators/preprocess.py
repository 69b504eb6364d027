"""Preprocessing parity operators: de-identification (C4), gold-relation
validation with a rejects side-output (F8), and seeded sampling (R1).

Reference semantics:
- C4: MIMIC de-id regex ``\\[\\*\\*|\\*\\*\\]`` stripped before
  segmentation (preprocessing.ipynb cell 4, ``MIMICIII_PATTERN``);
- F8: ``validate_rels`` drops any relation whose entity-type combination is
  outside the valid set and logs the reject (preprocessing.ipynb cell 6) —
  here the rejects are a first-class side-output, not a print;
- R1: ``RandomSampler`` for training / ``SequentialSampler`` for inference
  (src/data_utils.py:131-137). The seeded shuffle is md5(seed || key) —
  deterministic, engine-identical, and a parallel top-k rather than a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig

__all__ = [
    "q_deid", "q_validate_rels", "q_seeded_sample",
    "q_stratified_sample",
]

MIMIC_PATTERN = r"\[\*\*|\*\*\]"
SAMPLE_SEED = 13  # reference run.sh seed
SAMPLE_N = 100


def comb_map_col(cfg: PipelineConfig) -> Column:
    """t1 -> array of allowed t2: EXACT tuple membership in
    ``cfg.valid_combs`` (the reference's ``(en1t, en2t) not in valid_comb``
    set check, preprocessing.ipynb cell 6) — not the cross product of the
    projected type sets, which silently diverges for any config whose combo
    set is not a full cross product. Lookup of an absent t1 yields NULL and
    ``array_contains(NULL, x)`` is NULL, so such pairs are filtered."""
    by_t1: dict[str, list[str]] = {}
    for t1, t2 in cfg.valid_combs:
        by_t1.setdefault(t1, []).append(t2)
    entries: list[Column] = []
    for t1 in sorted(by_t1):
        entries.append(F.lit(t1))
        entries.append(F.array(*[F.lit(x) for x in sorted(by_t1[t1])]))
    return F.create_map(*entries)


def q_deid(spark: SparkSession, sf: str) -> DataFrame:
    """The synthetic corpus carries no PHI markers, so the query injects
    them deterministically (doc_id and lang wrapped in [** **]) and then
    strips with the reference pattern; the digest proves the strip is
    byte-exact."""
    d = spark.read.parquet(f"{sf}/documents.parquet")
    raw = F.concat(
        F.lit("[**"), F.col("doc_id").cast("string"), F.lit("**] "),
        F.col("text"), F.lit(" [**"), F.col("lang"), F.lit("**]"),
    )
    clean = F.regexp_replace(raw, MIMIC_PATTERN, "")
    return d.select(
        "doc_id",
        F.length(raw).alias("raw_len"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def q_validate_rels(spark: SparkSession, sf: str) -> DataFrame:
    """F8 — relation validator with rejects side-output: ALL ordered
    mention pairs within the sentence cutoff (no type pruning) are graded
    'ok' / 'rejected' by exact (t1, t2) membership in the valid set;
    output is the (status, type-pair) census so both streams are visible.
    In a production pipeline the 'rejected' partition is the side-output
    sink (the reference prints "invalid:" and drops).

    Plan: the census is computed ARITHMETICALLY from per-(doc, sentence,
    type) mention counts — pairs(t1@a, t2@b, |a-b|<=cutoff) =
    sum(c1(a,t1) * c2(b,t2)) minus the self-pair diagonal (total mentions
    of t when t1==t2). The only join keys on (doc_id, sent_id) of the
    AGGREGATED count table — bounded by sentences×types, never the
    quadratic mention-level self-join (a mention-heavy page contributes
    counts, not pair rows)."""
    from .segmentation import mentions

    cfg = PipelineConfig()
    men = mentions(spark.read.parquet(f"{sf}/documents.parquet"), cfg)
    cnt = men.groupBy("doc_id", "sent_id", "ent_type").agg(
        F.count("*").alias("c")
    )
    # each (doc, sent b, t2) count row targets every anchor sentence
    # a = b + o, o in [-cutoff, cutoff]; a fixed (a, b) pair matches
    # exactly one offset, so every ordered pair is counted once
    offsets = [
        F.col("sent_id") + F.lit(o)
        for o in range(-cfg.cutoff, cfg.cutoff + 1)
    ]
    c2e = cnt.select(
        "doc_id", F.explode(F.array(*offsets)).alias("anchor"),
        F.col("ent_type").alias("ent_type_2"), F.col("c").alias("c2"),
    )
    c1 = cnt.select(
        "doc_id", F.col("sent_id").alias("anchor"),
        F.col("ent_type").alias("ent_type_1"), F.col("c").alias("c1"),
    )
    raw = (
        c1.join(c2e, ["doc_id", "anchor"])
        .groupBy("ent_type_1", "ent_type_2")
        .agg(F.sum(F.col("c1") * F.col("c2")).alias("n_raw"))
    )
    # subtract the i1 == i2 diagonal: a mention pairs with itself exactly
    # once (the a == b term of its own type)
    diag = men.groupBy(F.col("ent_type").alias("ent_type_1")).agg(
        F.count("*").alias("n_self")
    ).withColumn("ent_type_2", F.col("ent_type_1"))
    valid = F.array_contains(
        comb_map_col(cfg)[F.col("ent_type_1")], F.col("ent_type_2")
    )
    return (
        raw.join(diag, ["ent_type_1", "ent_type_2"], "left")
        .select(
            # NULL map lookup (t1 not an arg1 type) falls to 'rejected'
            F.when(valid, F.lit("ok")).otherwise(F.lit("rejected"))
            .alias("status"),
            "ent_type_1", "ent_type_2",
            (F.col("n_raw") - F.coalesce(F.col("n_self"), F.lit(0)))
            .alias("n"),
        )
        .filter(F.col("n") > 0)
    )


def q_seeded_sample(spark: SparkSession, sf: str) -> DataFrame:
    """R1 — seeded random sample: order by md5(seed || key) (the
    deterministic shuffle both engines agree on), take SAMPLE_N. Spark-side
    this is a parallel TakeOrdered top-k, never a global sort; the rank
    window then runs over SAMPLE_N rows only."""
    o = spark.read.parquet(f"{sf}/orders.parquet")
    rk = F.md5(
        F.concat(
            F.lit(f"{SAMPLE_SEED}|"), F.col("o_orderkey").cast("string")
        )
    )
    top = (
        o.select(rk.alias("rk"), "o_orderkey")
        .orderBy("rk", "o_orderkey")
        .limit(SAMPLE_N)
    )
    w = Window.orderBy("rk", "o_orderkey")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select("rank", "o_orderkey", "rk")


STRAT_N = 40  # docs kept per language stratum


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling — the balanced-subset selection a
    training-data pipeline runs before expensive stages (e.g. cap each
    language at N docs so a dominant language can't swamp the batch):
    rank by md5(seed || doc_id) WITHIN each language and keep the first
    STRAT_N. The per-stratum rank<=k is planned with a map-side partial
    WindowGroupLimit (each task prunes to a local top-k before the one
    shuffle on lang — the same sketch-merge dataflow as KMV), so at
    10^12 docs the shuffle carries at most n_langs * STRAT_N * tasks
    rows, not the corpus."""
    from ..plans.pipeline import load_documents

    d = load_documents(spark, sf)
    rk = F.md5(
        F.concat(
            F.lit(f"{SAMPLE_SEED}|"), F.col("doc_id").cast("string")
        )
    )
    w = Window.partitionBy("lang").orderBy("rk", "doc_id")
    return (
        d.select("lang", "doc_id", rk.alias("rk"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= STRAT_N)
    )
