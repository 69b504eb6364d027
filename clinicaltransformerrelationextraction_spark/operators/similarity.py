"""Similarity search over the embeddings table.

Cross-engine float discipline: embeddings are quantized to fixed-point
integers (round(x * 1e7) via floor(x*1e7 + 0.5)) so dot products are exact
BIGINT arithmetic; the final cosine is a single double expression of those
integers — bit-identical on Spark and DuckDB regardless of summation order.

Scale design:
- brute-force top-k is the CORRECTNESS baseline (quadratic; fine for a
  query set × corpus);
- hyperplane LSH bucketing is the SCALE path: the quadratic all-pairs join
  becomes an equi-join on bucket id. At 100 TB you'd bucket once, store
  bucket as a partition column, and prune at scan time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ANN_NPROBE, PipelineConfig

QUANT = 10_000_000
N_PLANES = 16
TOPK = 10
N_QUERIES = 8  # vec_id < N_QUERIES are the query set
NEARDUP_COS = 0.4


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def quantized(col: Column) -> Column:
    # explicit widen to double FIRST: float32*int arithmetic differs between
    # engines; float->double widening is exact and identical
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long"),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Fixed-point cosine: exact integer dots, one double expression."""
    return _dot(a, b).cast("double") / (
        F.sqrt(_dot(a, a).cast("double")) * F.sqrt(_dot(b, b).cast("double"))
    )


def norm_col(a: Column) -> Column:
    """sqrt(dot(a, a)) as a double — the per-VECTOR factor of ``cosine``.
    Precomputing it once per vector (r7, guide §1.2 'don't compute things
    you throw away') turns the 3 interpreted HOF dot products per PAIR
    into 1: cosine(a, b) == dot(a,b)/ (norm(a) * norm(b)) with the exact
    same IEEE operation order (integer dot -> cast double -> sqrt ->
    multiply -> divide), so the factored form is bit-identical to
    ``cosine`` — pinned in tests/test_round7_perf.py."""
    return F.sqrt(_dot(a, a).cast("double"))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with both vectors' norms precomputed (see norm_col)."""
    return _dot(a, b).cast("double") / (na * nb)


def _q(spark: SparkSession, sf: str) -> DataFrame:
    return _emb(spark, sf).select(
        "vec_id", quantized(F.col("embedding")).alias("qe")
    )


def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < N_QUERIES),
    the TOPK nearest corpus vectors (vec_id >= N_QUERIES), rank by cosine
    desc with vec_id tiebreak."""
    from pyspark.sql import Window

    # norms once per VECTOR, not per pair (r7): the brute scan then runs
    # ONE interpreted dot per (query, corpus) pair instead of three —
    # bit-identical cosine (see norm_col), measured ~2× on this query
    q = _q(spark, sf).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("qv"),
        norm_col(F.col("qe")).alias("qn"),
    )
    c = _q(spark, sf).filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), F.col("qe").alias("cv"),
        norm_col(F.col("qe")).alias("cn"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos"),
    )
    # Parallelism note (verified in the physical plan, test_plan_shapes):
    # rank<=k over a window is planned with a PARTIAL WindowGroupLimit
    # BEFORE the exchange — Spark does the two-phase top-k natively, each
    # scan task keeps only its local top-k per query, so the N_QUERIES
    # post-shuffle partitions see <= k rows per upstream partition and the
    # small partition count is no ceiling. A manual salted two-phase was
    # benchmarked and only added an exchange.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def lsh_bucket(qe: Column) -> Column:
    """Random-hyperplane LSH with deterministic ±1 planes:
    s(i,j) = +1 if (i*7 + j*13) even else -1 (i = 1-based dim index).
    bucket = sum_j [dot(v, s_j) >= 0] << j. Integer-exact."""
    terms = []
    for j in range(N_PLANES):
        proj = F.aggregate(
            F.transform(
                qe,
                lambda x, i0: F.when(
                    ((i0 + 1) * 7 + j * 13) % 2 == 0, x
                ).otherwise(-x),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        terms.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def q_ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, bucket) hyperplane-LSH assignment — the scale-path index."""
    return _q(spark, sf).select(
        "vec_id", lsh_bucket(F.col("qe")).alias("bucket")
    )


def q_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-duplicate pairs: all (a < b) with fixed-point cosine
    above NEARDUP_COS. Brute force here (correctness baseline); the LSH
    bucket join is the scale path for the same predicate.

    O(N^2) all-pairs cross join: guarded against large inputs — NEVER run
    it at scale; use q_embed_neardup_lsh."""
    from .guards import guard_brute

    guard_brute(_q(spark, sf), "q_embed_neardup", "q_embed_neardup_lsh")
    a = _q(spark, sf).select(
        F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa")
    )
    b = _q(spark, sf).select(
        F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", cosine(F.col("qa"), F.col("qb")).alias("cos")
        )
        .filter(F.col("cos") > NEARDUP_COS)
    )


EMB_BANDS = 4
EMB_BAND_PLANES = N_PLANES // EMB_BANDS


def q_embed_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """SCALE path for embedding near-dup: banded hyperplane LSH. The 16-bit
    hyperplane signature is split into 4 bands of 4 planes; candidate pairs
    are docs sharing at least one band value (equi-join on (band, bval) over
    a SLIM (vec_id, band, bval) frame — vectors join back only for the
    candidates), then verified with the exact fixed-point cosine. Subset of
    the brute ``q_embed_neardup`` by construction; recall is asserted in
    tests. This replaces the O(N²) cross join with the LSH bucket shape the
    100 TB path needs (reference analog: corpus sharding,
    preprocessing-batch.ipynb cells 17-21 — never all-pairs)."""
    q = _q(spark, sf)
    sig = q.select("vec_id", lsh_bucket(F.col("qe")).alias("bucket"))
    bands = sig.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("bucket", b * EMB_BAND_PLANES)
                    .bitwiseAND(F.lit((1 << EMB_BAND_PLANES) - 1))
                    .cast("long")
                    for b in range(EMB_BANDS)
                ]
            )
        ).alias("band", "bval"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # norms once per vector (r7, see norm_col): one dot per verified pair
    va = q.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"),
                  norm_col(F.col("qe")).alias("na"))
    vb = q.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"),
                  norm_col(F.col("qe")).alias("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a", "vec_b",
            cosine_with_norms(
                F.col("qa"), F.col("qb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .filter(F.col("cos") > NEARDUP_COS)
    )


def _centroids(spark: SparkSession, sf: str) -> DataFrame:
    """(label, centroid): per-label integer centroid (floor of per-dim
    mean over the quantized vectors) — the coarse quantizer codebook.
    Broadcast-sized by construction (one row per label)."""
    q = _emb(spark, sf).select(
        "vec_id", "label", quantized(F.col("embedding")).alias("qe")
    )
    dims = q.select("label", F.posexplode("qe").alias("dim", "v"))
    return int_mean_centroid(dims, "label")


# cells each query probes — IVF's recall/scan-scope dial. Measured curve
# on the test corpus (10 cells, recall@10 vs brute): nprobe 1 -> 0.125,
# 3 -> 0.50, 4 -> 0.65, 5 -> 0.71, 6 -> 0.81, 10 -> 1.0 (the synthetic
# clusters are loose, so cross-cell neighbors are common). The default
# lives in config.ANN_NPROBE (PipelineConfig.ann_nprobe is the runtime
# dial); this module-level alias keeps the oracle twin and historical
# imports on the same value.
N_PROBE = ANN_NPROBE


def q_ann_ivf_topk(
    spark: SparkSession, sf: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    """IVF (coarse-quantizer) ANN: every vector — corpus AND query — is
    assigned to its nearest centroid cell (label centroids as the
    codebook); each query then searches only its nprobe closest cells
    (``PipelineConfig.ann_nprobe``; default config.ANN_NPROBE — the
    oracle twin mirrors the default, so parity runs leave ``cfg`` unset)
    for the top-k by exact fixed-point cosine. The scale path
    complementary to the hyperplane-LSH variant: the cell id becomes a
    partition column at 100 TB, so a query scans nprobe partitions
    instead of the corpus. Recall vs the brute top-k is floor-asserted in
    tests at the default and measured across the dial (IVF's standard
    trade-off).

    r7 physical-plan changes, same output (oracle-pinned):
    - vector/centroid norms are computed once per VECTOR (norm_col) so
      every assignment + scoring cosine is ONE interpreted dot, not 3;
    - the CORPUS cell assignment is a scalar-only map-side argmax
      aggregate (max of (ccos, -label) structs == the row_number
      (cos DESC, label ASC) pick), so the corpus qe arrays no longer ride
      an n_cells-times-amplified window exchange — at 10^12 vectors that
      window would shuffle the corpus n_cells times; the nprobe top-n
      window survives only on the QUERY side, where it is queries-sized."""
    from pyspark.sql import Window

    nprobe = (cfg or PipelineConfig()).ann_nprobe
    q = _q(spark, sf).withColumn("qn", norm_col(F.col("qe")))
    cents = _centroids(spark, sf).withColumn(
        "cn", norm_col(F.col("centroid"))
    )
    ccos = cosine_with_norms(
        F.col("qe"), F.col("centroid"), F.col("qn"), F.col("cn")
    )
    qs = (
        q.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "qe", "qn", "label", ccos.alias("ccos"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("ccos"), F.asc("label")
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"), F.col("qe").alias("qv"),
            F.col("qn").alias("qvn"), F.col("label").alias("cell"),
        )
    )
    # the cell rides out of the aggregate WITH the vector (first() of a
    # per-vec-constant column): one qe per vector crosses the shuffle,
    # no second corpus-sized join to reunite vector and cell
    corpus = (
        q.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "qe", "qn", "label", ccos.alias("ccos"))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("ccos"), (-F.col("label")).alias("nl"))
            ).alias("m"),
            F.first("qe").alias("cv"),
            F.first("qn").alias("cvn"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"), "cv", "cvn",
            (-F.col("m.nl")).alias("cell"),
        )
    )
    scored = (
        F.broadcast(qs)
        .join(corpus, "cell")
        .select(
            "query_id", "neighbor_id",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qvn"), F.col("cvn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("int").alias("rank"), "cos",
        )
    )


def int_mean_centroid(dims: DataFrame, key) -> DataFrame:
    """Per-``key`` integer centroid from exploded (key, dim, v) rows:
    per-dim floor(sum/count), re-assembled in dim order. floor, not
    cast: Spark double->long cast truncates toward zero while DuckDB
    ::BIGINT rounds — floor() agrees on both engines (the load-bearing
    cross-engine discipline; the SQL twin is oracle_training._cent_body).
    Single shared implementation for the label codebook, the
    centroid-similarity query, the k-means update step, and (with a
    two-column key) the per-subspace PQ codebooks. ``key`` is a column
    name or a list of them."""
    keys = [key] if isinstance(key, str) else list(key)
    return (
        dims.groupBy(*keys, "dim")
        .agg(F.floor(F.sum("v") / F.count("*")).cast("long").alias("cv"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cv")))
                ),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )


def q_label_centroid_sim(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label quantized centroid (integer mean, floor division) and each
    vector's cosine to its own label centroid, aggregated per label —
    exercises array aggregation + rejoin."""
    q = _emb(spark, sf).select(
        "vec_id", "label", quantized(F.col("embedding")).alias("qe")
    )
    dims = q.select(
        "vec_id", "label", F.posexplode("qe").alias("dim", "v")
    )
    cent = int_mean_centroid(dims, "label").withColumn(
        "cn", norm_col(F.col("centroid"))
    )
    joined = q.join(F.broadcast(cent), "label").select(
        "label",
        cosine_with_norms(
            F.col("qe"), F.col("centroid"),
            norm_col(F.col("qe")), F.col("cn"),
        ).alias("cos"),
    )
    # average via integer micro-cosines: exact bigint sum (order-free), one
    # double division — engine-identical (double avg would be order-dependent)
    return (
        joined.select(
            "label",
            F.floor(F.col("cos") * 1e6 + F.lit(0.5)).cast("long").alias(
                "cos_u"
            ),
            "cos",
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (F.sum("cos_u") / F.count("*")).alias("avg_cos_micro"),
            F.min("cos").alias("min_cos"),
        )
    )


KM_ITERS = 2  # fixed Lloyd rounds (cross-engine contract, like PR_ITERS)


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def q_kmeans_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """K-means (Lloyd) refinement of the IVF coarse-quantizer codebook,
    FULLY oracle-checked because every step is deterministic integer
    arithmetic: seed = the per-label integer centroids (_centroids),
    then exactly KM_ITERS rounds of

        assign:  nearest centroid by exact bigint squared-L2
                 (tie -> smallest cid, a total order)
        update:  per-dim floor(sum/count) integer mean

    Clusters that lose all members drop out (identical semantics in the
    SQL twin). The per-round shape is the 100 TB one: the K-row codebook
    is BROADCAST to the assignment join (never shuffled against the
    corpus), the update is one map-side-combinable groupBy per round, and
    lineage is cut per round (localCheckpoint) exactly like PageRank.
    The DuckDB oracle unrolls the KM_ITERS rounds as MATERIALIZED CTEs.
    Output: final centroids (exploded to scalar (cid, n_members, dim, cv)
    rows — the driver-canonicalizer contract forbids array columns) with
    member counts of the assignment that produced them."""
    vecs = _q(spark, sf).localCheckpoint(eager=False)
    cent = (
        _centroids(spark, sf)
        .select(F.col("label").alias("cid"), "centroid")
        .localCheckpoint(eager=False)
    )
    asg = None
    for _ in range(KM_ITERS):
        d = vecs.crossJoin(F.broadcast(cent)).select(
            "vec_id", "qe", "cid",
            _sq_l2(F.col("qe"), F.col("centroid")).alias("dist"),
        )
        # argmin as a MAP-SIDE-COMBINABLE aggregate — min(struct(dist,
        # cid)) implements the (dist, cid) tiebreak as an ordinary
        # partial-aggregating min; the vector rides through the SAME
        # aggregate as first(qe) (constant per vec_id, one partial row
        # per vec per task), so the r6 join-back of the assignment to
        # the vector table disappears — one exchange per round instead
        # of two (r7). (The former row_number window form was measured
        # equal-output and ~6% slower locally: it carried the array
        # payload through the window shuffle K-fold-amplified.)
        # checkpoint the assignment: it feeds BOTH the centroid update
        # and (on the last round) the member counts — without this the
        # corpus×K argmin would re-execute from lineage for the counts
        asg = (
            d.groupBy("vec_id")
            .agg(
                F.min(F.struct("dist", "cid")).alias("m"),
                F.first("qe").alias("qe"),
            )
            .select("vec_id", "qe", F.col("m.cid").alias("cid"))
            .localCheckpoint(eager=False)
        )
        dims = asg.select("cid", F.posexplode("qe").alias("dim", "v"))
        cent = int_mean_centroid(dims, "cid").localCheckpoint(eager=False)
    counts = asg.groupBy("cid").agg(F.count("*").alias("n_members"))
    # Scalar-only output contract: the external driver canonicalizes
    # results through pandas and cannot hash list cells, so the centroid
    # vector is exploded to one (dim, cv) row per dimension instead of an
    # array<long> column (the r4 red-row lesson; see
    # tests/test_output_shapes.py which forbids container columns).
    return (
        cent.join(counts, "cid")
        .select("cid", "n_members", F.posexplode("centroid").alias("dim", "cv"))
    )


# --- product quantization (PQ) ----------------------------------------------
# Parameter choice is measured (recall@10 vs the exact-L2 top-k on the
# loose synthetic clusters at sf0.001): (M=4, SUB=16, 10 codes) -> 0.09,
# (8, 8, 10) -> 0.13, (16, 4, 40) -> 0.40, (32, 2, 80) -> 0.59. The
# sweep shows the real PQ dial: recall tracks codebook granularity
# (M x codes), the classic quality/compression trade (production PQ uses
# 256-entry codebooks per subspace; the label-seeded codebook here keeps
# the construction deterministic and oracle-expressible).
PQ_M = 32  # subspaces
PQ_SUB = 2  # dims per subspace (PQ_M * PQ_SUB == embedding dim)
PQ_SPLIT = 8  # codebook entries per label: code = label*SPLIT + vec_id%SPLIT
# ADC shortlist size k' for the exact re-rank stage (the standard IVF-PQ
# refinement, r6): the ADC scan keeps the top PQ_RERANK per query, exact
# L2 runs on those queries x k' rows only, and the final top-TOPK ranks
# by exact distance. Measured recall@10 vs exact L2 at sf0.001:
# no re-rank 0.59 -> k'=20: 0.76 -> k'=40: 0.94 (floor-asserted 0.9 in
# tests/test_scale_features.py).
PQ_RERANK = 40


def _pq_subvecs(df: DataFrame) -> DataFrame:
    """Explode a (.., qe) frame into (.., sub, sv) subvector rows —
    sub in [0, PQ_M), sv the contiguous PQ_SUB-dim slice. In-row HOF
    explode, no shuffle. Guards the dimensionality explicitly: F.slice
    past the array end TRUNCATES silently, and the oracle would slice
    identically — a regenerated embedding table with a different dim
    would otherwise stay parity-green while ignoring trailing dims."""
    guarded = F.when(
        F.size("qe") == PQ_M * PQ_SUB, F.col("qe")
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"PQ expects {PQ_M * PQ_SUB}-dim vectors "
                  f"(PQ_M={PQ_M} x PQ_SUB={PQ_SUB}), got dim "),
            F.size("qe").cast("string"),
        ))
    )
    return df.withColumn("qe", guarded).select(
        "*",
        F.posexplode(
            F.array(
                *[
                    F.slice("qe", 1 + s * PQ_SUB, PQ_SUB)
                    for s in range(PQ_M)
                ]
            )
        ).alias("sub", "sv"),
    ).drop("qe")


def _pq_codebook(spark: SparkSession, sf: str) -> DataFrame:
    """(sub, code, centroid): per-subspace codebook seeded from integer
    subvector means of deterministic label subclusters —
    code = label * PQ_SPLIT + vec_id % PQ_SPLIT gives n_labels * PQ_SPLIT
    entries per subspace (the measured recall dial; see the parameter
    note above). PQ_M * n_labels * PQ_SPLIT rows: broadcast-sized by
    construction."""
    q = _emb(spark, sf).select(
        (F.col("label") * PQ_SPLIT + F.col("vec_id") % PQ_SPLIT)
        .alias("code0"),
        quantized(F.col("embedding")).alias("qe"),
    )
    dims = _pq_subvecs(q).select(
        "sub", "code0", F.posexplode("sv").alias("dim", "v")
    )
    return int_mean_centroid(dims, ["sub", "code0"]).select(
        "sub", F.col("code0").alias("code"), "centroid"
    )


def _pq_encode(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, sub, code): nearest codebook centroid per subspace by
    exact bigint squared-L2, tie -> smallest code — the single encoding
    implementation shared by q_pq_codes and the corpus side of
    q_pq_ann_topk (the oracle's shared `codes` CTE is its SQL twin). The
    argmin is the map-side-combinable min(struct) aggregate."""
    d = subs.join(F.broadcast(cb), "sub").select(
        "vec_id", "sub", "code",
        _sq_l2(F.col("sv"), F.col("centroid")).alias("dist"),
    )
    return (
        d.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("dist", "code")).alias("m"))
        .select("vec_id", "sub", F.col("m.code").alias("code"))
    )


def _pq_dtab(query_subs: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query ADC distance TABLE ``(query_id, sub, code, d)`` — exact
    bigint squared-L2 from the query's raw subvectors to every codebook
    centroid, for q_pq_ann_topk (its SQL twin is the oracle's dtab
    CTE)."""
    return (
        query_subs.join(F.broadcast(cb), "sub")
        .select(
            F.col("vec_id").alias("query_id"), "sub", "code",
            _sq_l2(F.col("sv"), F.col("centroid")).alias("d"),
        )
    )


def q_pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization encoding: every vector compressed to PQ_M
    code ids — its nearest codebook centroid per subspace by exact
    bigint squared-L2 (tie -> smallest code). THE storage-side ANN
    trade: 64 dims × 8 bytes become PQ_M bytes per vector, and distance
    evaluation against a query becomes PQ_M table lookups (see
    q_pq_ann_topk). Scale shape: in-row subvector explode, broadcast
    codebook join, and the argmin is the map-side-combinable
    min(struct) aggregate — one scalar-only shuffle over (vec, sub)."""
    subs = _pq_subvecs(_q(spark, sf))
    cb = _pq_codebook(spark, sf)
    return _pq_encode(subs, cb).select(
        "vec_id", F.col("sub").cast("int").alias("sub"), "code"
    )


def q_pq_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k WITH exact re-rank: each query
    precomputes a PQ_M × n_codes distance TABLE (exact bigint squared-L2
    from its raw subvectors to every codebook centroid), a corpus
    vector's approximate distance is the SUM of table lookups at its
    stored codes, the ADC scan keeps a PQ_RERANK-deep shortlist per
    query, and the final top-TOPK ranks the shortlist by EXACT
    squared-L2 on the raw quantized vectors — the standard IVF-PQ
    refinement (r6: lifts recall@10 from the ADC-only 0.59 to ≥0.9,
    floor-asserted).

    Scale shape: the CORPUS is still scanned as (vec_id, sub, code) ints
    only — that is the property that matters at 10^12 vectors. Raw
    vectors are touched exactly twice, both O(queries × k'): the
    shortlist (broadcast, queries × PQ_RERANK rows) semi-drives one
    point-lookup join into the vector table, and the query vectors
    (N_QUERIES rows) broadcast onto the result. Distance tables
    (n_queries × PQ_M × n_codes rows) are the broadcast side of the
    scan; both top-k windows keep their partial WindowGroupLimit."""
    cb = _pq_codebook(spark, sf).localCheckpoint(eager=False)
    q = _q(spark, sf)
    subs = _pq_subvecs(q)
    corpus_codes = _pq_encode(
        subs.filter(F.col("vec_id") >= N_QUERIES), cb
    )
    dtab = _pq_dtab(subs.filter(F.col("vec_id") < N_QUERIES), cb)
    approx = (
        corpus_codes.join(F.broadcast(dtab), ["sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adist"))
    )
    return _adc_shortlist_rerank(approx, q)


def _adc_shortlist_rerank(approx: DataFrame, q: DataFrame) -> DataFrame:
    """The PQ refinement tail of :func:`q_pq_ann_topk`: keep the
    PQ_RERANK-deep ADC shortlist per query ((adist, neighbor_id)
    tiebreak), compute exact squared-L2 on the raw quantized vectors for
    shortlist rows only (two broadcast point-lookup joins, O(queries × k')
    vector touches), and rank the final top-TOPK by (dist, neighbor_id)."""
    from pyspark.sql import Window

    ws = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    shortlist = (
        approx.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= PQ_RERANK)
        .select("query_id", "neighbor_id", "adist")
    )
    nv = q.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("qe").alias("nqe"))
    qv = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("qqe")
    )
    exact = (
        nv.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id", "adist",
            _sq_l2(F.col("qqe"), F.col("nqe")).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "dist", "adist")
    )
