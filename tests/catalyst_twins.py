"""Catalyst twins: the pre-kernel formulations of the package's Python
kernels, kept as equality oracles for the tests.

Each twin is the interpreted Catalyst form (higher-order functions,
windows, or a per-round edge join) that a kernel in the package
replaced with identical output:

- ``shingle_frame_hof``       == ``dedup.shingle_frame``
- ``bands_from_shingles_hof`` == ``dedup.bands_from_shingles`` and
  ``dedup.bands_frame``
- ``minhash_signatures_hof``  == ``dedup.minhash_signatures``
- ``simhash_frame_hof``       == ``dedup.q_simhash``
- ``mentions_hof``            == ``segmentation.mentions``
- ``integer_pagerank``        == ``graph.integer_pagerank_adj``
- ``ivf_assign``              == the corpus cell pick of
  ``similarity.q_ann_ivf_topk`` (its ``crank == 1`` rows)
- ``sessionize_batch``        == ``sessionize.sessions_canonical`` over
  the ``sessionize.sessionize_stream`` sink

The equality tests are tests/test_round7_perf.py,
tests/test_nonvacuous.py and, for ``sessionize_batch``,
tests/test_stateful_cogroup.py, tests/test_cli.py and
tests/test_round3_features.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.dedup import (
    BAND_ROWS,
    N_SEEDS,
    SIMHASH_BITS,
)
from clinicaltransformerrelationextraction_spark.operators.graph import (
    PR_ITERS,
    PR_UNIT,
    _edge_nodes,
    _rank_step,
)
from clinicaltransformerrelationextraction_spark.streaming.sessionize import (
    SESSION_GAP_MIN,
)


def shingles_col(toks: Column, n: int = 2) -> Column:
    """Distinct n-token shingles, built in-row. Guarded for short docs:
    Spark's sequence(1, 0) DESCENDS, so the empty case must be explicit."""
    joined = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(joined)


def minhash_cols(digests: Column, n_seeds: int = N_SEEDS) -> list[Column]:
    """One min-hash per seed: min over shingles of the seed's 4-hex-char
    slice of the shingle's single md5 digest."""
    return [
        F.array_min(
            F.transform(digests, lambda d: F.substring(d, 1 + 4 * s, 4))
        ).alias(f"mh{s}")
        for s in range(n_seeds)
    ]


def digest_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles, digs): one md5 digest per shingle, materialized
    ONCE via an explode(array(...)) Generate barrier so the per-seed
    array_min projections reference an attribute instead of re-evaluating
    the md5 transform (Catalyst does not CSE across separate HOF lambdas).
    """
    return sh.select(
        "doc_id",
        "shingles",
        F.explode(
            F.array(F.transform(F.col("shingles"), lambda x: F.md5(x)))
        ).alias("digs"),
    )


def shingle_frame_hof(docs: DataFrame) -> DataFrame:
    """Twin of ``dedup.shingle_frame``: split + shingles_col, docs with no
    shingle dropped."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", shingles_col(toks).alias("shingles")
    ).filter(F.size("shingles") > 0)


def minhash_signatures_hof(sh: DataFrame) -> DataFrame:
    """Twin of ``dedup.minhash_signatures``: digest_frame + minhash_cols,
    one row per seed."""
    mhs = minhash_cols(F.col("digs"))
    return digest_frame(sh).select(
        "doc_id", F.posexplode(F.array(*mhs)).alias("seed", "mh")
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "mh")


def bands_from_shingles_hof(shingles: DataFrame) -> DataFrame:
    """Twin of ``dedup.bands_from_shingles``: each band key is the md5 of
    the concat_ws('|') of its minima."""
    sh = digest_frame(shingles)
    mhs = minhash_cols(F.col("digs"))
    n_bands = N_SEEDS // BAND_ROWS
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[mhs[b * BAND_ROWS + r] for r in range(BAND_ROWS)]
                )
            )
            for b in range(n_bands)
        ]
    )
    return sh.select("doc_id", F.posexplode(band_keys).alias("band", "bkey")) \
        .select("doc_id", F.col("band").cast("int").alias("band"), "bkey")


def simhash_col(toks: Column) -> Column:
    """16-bit SimHash over distinct tokens: bit j is the majority of bit j
    of md5(token) across tokens (ties -> 1)."""
    dt = F.array_distinct(toks)
    n = F.size(dt)
    terms = []
    for j in range(SIMHASH_BITS):
        hex_pos = 1 + j // 4
        shift = 3 - (j % 4)
        ones = F.size(
            F.filter(
                dt,
                lambda t: (
                    F.shiftright(
                        F.conv(F.substring(F.md5(t), hex_pos, 1), 16, 10)
                        .cast("int"),
                        shift,
                    ).bitwiseAND(F.lit(1))
                    == 1
                ),
            )
        )
        terms.append(
            F.when(2 * ones >= n, F.lit(1 << j)).otherwise(F.lit(0))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def simhash_frame_hof(docs: DataFrame) -> DataFrame:
    """Twin of ``dedup.q_simhash``'s projection."""
    return docs.select(
        "doc_id", simhash_col(F.split("text", " ")).alias("simhash")
    )


def mentions_hof(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Twin of ``segmentation.mentions``: posexplode the tokens and take
    char offsets from a per-doc cumulative-sum window (which shuffles
    every token row; the kernel's prefix sum is in-row)."""
    cfg = cfg or PipelineConfig()
    base = df.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    tok_rows = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("i"), "tok"
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tok_rows.withColumn(
        "start",
        F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)).cast("long"),
    )
    vocab = F.create_map(*[F.lit(x) for kv in cfg.ent_vocab.items() for x in kv])
    return (
        offs.withColumn("ent_type", vocab[F.col("tok")])
        .filter(F.col("ent_type").isNotNull())
        .select(
            "doc_id",
            F.concat(F.lit("T"), F.col("i")).alias("mention_id"),
            "ent_type",
            F.col("i").alias("tok_idx"),
            F.floor((F.col("i") - 1) / cfg.sent_len).cast("int").alias(
                "sent_id"
            ),
            F.col("tok").alias("surface"),
            "start",
            (F.col("start") + F.length("tok")).cast("long").alias("end"),
        )
    )


def integer_pagerank(edges: DataFrame) -> DataFrame:
    """Twin of ``graph.integer_pagerank_adj``: the edge-join power
    iteration, which re-joins the full edge table every round."""
    edges = edges.localCheckpoint(eager=False)
    nodes = _edge_nodes(edges)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.withColumn("rank", F.lit(PR_UNIT).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("entity").alias("src"), "rank"), "src"
            )
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("entity"),
                # integral `div`, NOT floor(double /): floor-of-double
                # diverges from integer // once operands near 2^53
                F.expr("rank div outdeg").cast("long").alias("c"),
            )
            .groupBy("entity")
            .agg(F.sum("c").alias("s"))
        )
        ranks = _rank_step(nodes, contrib)
    return ranks


def ivf_assign(
    q: DataFrame, cents: DataFrame, dist: Column, descending: bool = False
) -> DataFrame:
    """Window form of the IVF coarse-quantizer cell assignment: broadcast
    the codebook, score every (vector, cell) pair with ``dist`` and rank
    cells per vector with a deterministic label tiebreak —
    ``(vec_id, qe, label, cdist, crank)``."""
    order = F.desc("cdist") if descending else F.asc("cdist")
    return (
        q.crossJoin(F.broadcast(cents))
        .select("vec_id", "qe", "label", dist.alias("cdist"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(order, F.asc("label"))
            ),
        )
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin of ``sessionize.sessionize_stream`` read through
    ``sessions_canonical``: a session boundary where the gap to the
    previous event of the same user exceeds SESSION_GAP_MIN minutes. Pure
    window program (lag + cumulative sum)."""
    ts = F.col("ts").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(ts)
    gap = F.unix_timestamp(ts) - F.unix_timestamp(F.lag(ts).over(w))
    marked = events.withColumn(
        "new_session",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    with_sid = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
