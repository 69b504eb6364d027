"""Deduplication operators over the documents table — the training-data
pipeline ops a 100 TB corpus needs before KG construction (exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard).

Scale design:
- shingling + minhash signatures are computed NARROWLY, zero shuffle —
  since r7 as Arrow-batched mapInPandas kernels (the measured ~100×
  cheaper-per-element replacement for the interpreted Catalyst
  higher-order functions, which remain as `*_hof` equality twins);
- the only shuffles are the LSH band-bucket self-join (equi-join on
  (band, band_key) — exactly what LSH exists for: it replaces the quadratic
  all-pairs join with a bucket join) and the final distinct;
- exact jaccard is computed only for LSH candidate pairs.

Hash discipline: md5 (string) everywhere — identical across Spark and the
DuckDB oracle; engine-native hash() differs between engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_SEEDS = 8  # minhash signature length
BAND_ROWS = 2  # rows per LSH band -> N_SEEDS/BAND_ROWS bands
JACCARD_MIN = 0.5  # near-dup threshold on bigram jaccard
SIMHASH_BITS = 16
HEX = "0123456789abcdef"


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.util import ensure_parallelism

    # factor=1 (not the default 2): the dedup stack's per-doc work runs in
    # Arrow-batched Python kernels whose per-TASK boundary overhead is
    # ~10 ms (measured r7: identity mapInPandas over this corpus costs
    # 0.86 s at 64 partitions vs 0.56 s at 32, pure task overhead) — one
    # wave of core-count tasks balances fine for per-doc-uniform kernels
    return ensure_parallelism(
        spark.read.parquet(f"{sf}/documents.parquet"), factor=1
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
    slice of the shingle's single md5 digest — ONE strong hash per shingle,
    k projections (the standard way to avoid k independent hash passes).
    16-bit slices are plenty: the hash range (65,536) is >> per-doc shingle
    counts (hundreds), which is what minhash quality needs. Measured note:
    wall time is flat vs md5-per-seed at sf0.1 — interpreted HOF
    element iteration, not hashing, dominates this stage; the win is CPU
    per element at scale, not the local benchmark."""
    return [
        F.array_min(
            F.transform(digests, lambda d: F.substring(d, 1 + 4 * s, 4))
        ).alias(f"mh{s}")
        for s in range(n_seeds)
    ]


def shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) from any documents-shaped frame — the df-based
    core shared by the corpus-wide queries here and the incremental
    (delta-vs-index) operators in incremental.py.

    Arrow-batched mapInPandas kernel (r7, guide §4.2): tokenize + bigram +
    first-occurrence dedup run as a plain Python loop per batch instead of
    interpreted Catalyst higher-order functions — measured ~100× cheaper
    per element (the HOF subtree alone cost ~2.9 s at sf0.1 on 32 cores;
    one Python core does the same work in 0.84 s). Output is byte-identical
    to the HOF twin ``shingle_frame_hof`` (split keeps empty tokens like
    Java split limit -1; dict.fromkeys preserves first-occurrence order
    like array_distinct; docs with <2 tokens are dropped like the
    size-guard) — equality pinned in tests/test_round7_perf.py."""
    src = docs.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            outs: list = []
            for did, tx in zip(pdf["doc_id"], pdf["text"]):
                if tx is None:
                    continue
                toks = tx.split(" ")
                if len(toks) < 2:
                    continue
                ids.append(did)
                outs.append(list(dict.fromkeys(
                    a + " " + b for a, b in zip(toks, toks[1:])
                )))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "shingles": outs})

    return src.mapInPandas(
        kernel, schema=f"doc_id {id_type}, shingles array<string>"
    )


def shingle_frame_hof(docs: DataFrame) -> DataFrame:
    """The pre-r7 Catalyst-HOF formulation of ``shingle_frame`` — kept as
    the measured counter-example and the equality twin for the kernel's
    parity test (interpreted HOF evaluation is ~100× slower per element;
    see shingle_frame)."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", shingles_col(toks).alias("shingles")
    ).filter(F.size("shingles") > 0)


def digest_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles, digs): one md5 digest per shingle, materialized
    ONCE via an explode(array(...)) Generate barrier so the 8 per-seed
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


def _with_shingles(spark: SparkSession, sf: str) -> DataFrame:
    return shingle_frame(_docs(spark, sf))


def _with_digests(spark: SparkSession, sf: str) -> DataFrame:
    return digest_frame(_with_shingles(spark, sf))


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id."""
    return (
        _docs(spark, sf)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, seed, mh) — the per-doc MinHash signature of the corpus."""
    return minhash_signatures(_with_shingles(spark, sf))


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, seed, mh) from a (doc_id, shingles) frame. Same Python
    md5/min kernel discipline as ``bands_from_shingles`` (r7), emitting
    the signature rows directly. Equal to the HOF form
    (``digest_frame`` + ``minhash_cols``) incl. its edges: an empty or
    NULL shingles array gives NULL ``mh`` for every seed (array_min of an
    empty array is NULL)."""
    from hashlib import md5 as _md5

    src = shingles.select("doc_id", "shingles")
    id_type = src.schema["doc_id"].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            seeds: list = []
            mhs: list = []
            for did, shl in zip(pdf["doc_id"], pdf["shingles"]):
                digs = [] if shl is None else [
                    _md5(s.encode("utf-8")).hexdigest() for s in shl
                ]
                for k in range(N_SEEDS):
                    ids.append(did)
                    seeds.append(k)
                    mhs.append(
                        min(d[4 * k: 4 * k + 4] for d in digs)
                        if digs else None
                    )
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "seed": pd.array(seeds, dtype="int32"),
                        "mh": mhs,
                    }
                )

    return src.mapInPandas(
        kernel, schema=f"doc_id {id_type}, seed int, mh string"
    )


def bands_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band index from any documents-shaped
    frame. At 100 TB this IS the persisted dedup index: a daily delta is
    deduped by joining ITS bands against this table (incremental.py)
    instead of re-banding the historical corpus.

    FUSED text->bands kernel (r7): one mapInPandas pass does tokenize +
    shingle + md5 minhash + band keys, so the shingle arrays never cross
    the Arrow boundary twice (the chained shingle_frame |>
    bands_from_shingles form pays a second Python stage, measured +0.55 s
    at sf0.1). Byte-identical to the chained form (pytest-pinned); use
    the chained form when the shingles are ALSO needed (the incremental
    delta path persists them)."""
    from hashlib import md5 as _md5

    src = docs.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    n_bands = N_SEEDS // BAND_ROWS

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            bands: list = []
            keys: list = []
            for did, tx in zip(pdf["doc_id"], pdf["text"]):
                if tx is None:
                    continue
                toks = tx.split(" ")
                if len(toks) < 2:
                    continue
                seen = dict.fromkeys(
                    a + " " + b for a, b in zip(toks, toks[1:])
                )
                digs = [_md5(s.encode("utf-8")).hexdigest() for s in seen]
                mins = [
                    min(d[4 * k: 4 * k + 4] for d in digs)
                    for k in range(N_SEEDS)
                ]
                for b in range(n_bands):
                    parts = "|".join(
                        mins[b * BAND_ROWS + r] for r in range(BAND_ROWS)
                    )
                    ids.append(did)
                    bands.append(b)
                    keys.append(_md5(parts.encode("utf-8")).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "band": pd.array(bands, dtype="int32"),
                        "bkey": keys,
                    }
                )

    return src.mapInPandas(
        kernel, schema=f"doc_id {id_type}, band int, bkey string"
    )


def bands_from_shingles(shingles: DataFrame) -> DataFrame:
    """``bands_frame`` from an already-computed (doc_id, shingles) frame
    — lets the incremental path shingle its delta ONCE and share the
    result between banding and the Jaccard verify.

    Arrow-batched mapInPandas kernel (r7, guide §4.2): md5-per-shingle +
    the 8 per-seed 4-hex-slice minima + per-band key md5 run as a Python
    batch loop instead of the interpreted digest_frame/minhash_cols HOF
    subtree (hashlib.md5 hexdigest == Spark md5; str slicing ==
    substring(1+4s, 4); Python str min == array_min's UTF8 binary order
    on the hex alphabet). Byte-identical to the HOF twin
    ``bands_from_shingles_hof`` incl. the empty- and NULL-shingles edges
    (array_min of an empty or NULL array is NULL, concat_ws skips NULLs,
    so every band key degenerates to md5("")) — equality pinned in
    tests/test_round7_perf.py."""
    from hashlib import md5 as _md5

    src = shingles.select("doc_id", "shingles")
    id_type = src.schema["doc_id"].dataType.simpleString()
    n_bands = N_SEEDS // BAND_ROWS
    empty_key = _md5(b"").hexdigest()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            bands: list = []
            keys: list = []
            for did, sh in zip(pdf["doc_id"], pdf["shingles"]):
                if sh is None or len(sh) == 0:
                    # HOF-twin edge: NULL minima -> concat_ws("")-> md5("")
                    for b in range(n_bands):
                        ids.append(did)
                        bands.append(b)
                        keys.append(empty_key)
                    continue
                digs = [_md5(s.encode("utf-8")).hexdigest() for s in sh]
                mins = [
                    min(d[4 * k: 4 * k + 4] for d in digs)
                    for k in range(N_SEEDS)
                ]
                for b in range(n_bands):
                    parts = "|".join(
                        mins[b * BAND_ROWS + r] for r in range(BAND_ROWS)
                    )
                    ids.append(did)
                    bands.append(b)
                    keys.append(_md5(parts.encode("utf-8")).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "band": pd.array(bands, dtype="int32"),
                        "bkey": keys,
                    }
                )

    return src.mapInPandas(
        kernel, schema=f"doc_id {id_type}, band int, bkey string"
    )


def bands_from_shingles_hof(shingles: DataFrame) -> DataFrame:
    """The pre-r7 Catalyst-HOF formulation of ``bands_from_shingles`` —
    kept as the equality twin for the kernel's parity test (see
    bands_from_shingles)."""
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


def _bands(spark: SparkSession, sf: str) -> DataFrame:
    return bands_frame(_docs(spark, sf))


def q_dedup_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket
    (a < b), with the number of shared bands.

    Bucket-group form, NOT a self-join: a self-join evaluates the
    HOF-heavy signature subtree twice (measured ~2x the query cost) and
    shuffles both sides; here bands are computed ONCE, one shuffle groups
    docs per (band, bkey), and the in-bucket ordered pairs are emitted
    in-row. In-bucket blow-up is bounded by true near-dup group sizes —
    the same rows the join would produce. At 100 TB the bands frame is the
    signature table you'd materialize once anyway. (Also measured: an
    explode-shingles -> codegen md5 -> map-side-combined min groupBy
    variant loses to the in-row HOF signatures 5.5s vs 3.4s at sf0.1 —
    the extra shuffle outweighs codegen'd hashing. Round-5 retry of the
    'fewer passes' idea: folding all 8 per-seed minima into ONE
    aggregate+zip_with traversal of the digest array also loses, ~1.33x
    slower same-window — the per-element array(substring x8) + zip_with
    allocations cost more than 7 extra flat array_min passes; identical
    output verified by exceptAll before timing.)"""
    return candidate_pairs_frame(_docs(spark, sf))


def candidate_pairs_frame(docs: DataFrame) -> DataFrame:
    """The df-based bucket-group LSH pair core of
    ``q_dedup_minhash_pairs`` (see its docstring for the measured design
    rationale), reused by the incremental delta-vs-delta path."""
    b = bands_frame(docs)
    buckets = (
        b.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("ds"),
                    i + 2,
                    F.greatest(F.size("ds") - i - 1, F.lit(0)),
                ),
                lambda x: F.struct(a.alias("doc_a"), x.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def pair_shingle_stats(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, size_a, size_b) for a (doc_a, doc_b) pair
    frame against a (doc_id, shingles) frame — the df-based exact-set-
    arithmetic core shared by the Jaccard verify, the containment query,
    and the incremental verify."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("size_a"),
            F.size("shb").alias("size_b"),
        )
    )


def _pair_shingle_sizes(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-wide instantiation of ``pair_shingle_stats`` over the
    MinHash-LSH candidate pairs (their oracles share the analogous CTE
    body). The shingle table is lazily checkpointed — it is referenced
    twice (both pair sides), so the kernel runs once (r7)."""
    return pair_shingle_stats(
        q_dedup_minhash_pairs(spark, sf).select("doc_a", "doc_b"),
        _with_shingles(spark, sf).localCheckpoint(eager=False),
    )


def jaccard_verify(stats: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, uni, jaccard) rows at or above JACCARD_MIN,
    from a ``pair_shingle_stats``-shaped frame — the threshold step shared
    by the corpus-wide verify and the incremental verify."""
    j = stats.select(
        "doc_a", "doc_b", "inter",
        (F.col("size_a") + F.col("size_b") - F.col("inter")).alias("uni"),
    )
    return j.select(
        "doc_a", "doc_b", "inter", "uni",
        (F.col("inter") / F.col("uni")).alias("jaccard"),
    ).filter(F.col("jaccard") >= JACCARD_MIN)


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact bigram Jaccard for the LSH candidate pairs (the verify step of
    MinHash dedup): inter/union from exact integer set sizes."""
    return jaccard_verify(_pair_shingle_sizes(spark, sf))


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    Jaccard-verified LSH pairs, every doc labeled with the min doc_id of
    its component (the keeper), singletons keeping themselves — the final
    keeper-assignment step of a dedup pipeline.

    Iterative min-label propagation (Pregel-lite): comp(v) <-
    min(comp(v), min over neighbors comp(u)) until a fixpoint, lineage cut
    per iteration with localCheckpoint. The loop runs over the
    EDGE-INDUCED subgraph only — a doc with no near-dup pair can never
    change label, so the corpus-sized table enters exactly once (the final
    singleton union), not once per round; on a mostly-unique corpus the
    per-round join is orders of magnitude smaller than the doc count.
    Iteration count is the component diameter — near-dup clusters are tiny
    (pairs of template-mutated docs), so this converges in 1-3 rounds
    here; at 10^9 docs you would switch to the large-star/small-star
    contraction (same join primitive, O(log n) rounds). The DuckDB oracle
    computes the same fixpoint as a recursive transitive closure + min.

    Profiled at sf0.1 (round 5): the propagation converges in 2 rounds
    totalling ~1.6 s of the ~6.3 s query — the iteration floor is NOT the
    cost; the LSH pair derivation + Jaccard verify subtree is (~4.9 s,
    genuine signature work). Two measured dead-ends, do not retry:
    (a) switching propagation to star_components cannot help — 2 rounds
    is already below star's per-round constant; (b) semi-joining the
    corpus down to candidate-pair docs before the verify's shingle
    recompute LOSES (clusters 6.2 -> 8.8 s): on this template-generated
    corpus ~96% of docs appear in some LSH candidate pair, so the
    restriction saves nothing and checkpointing the restricted shingle
    arrays serializes what the inline projection pipelines for free.
    (The restriction DOES pay in the incremental delta path, where the
    involved set is delta-bounded — incremental.py.)"""
    return clusters_frame(_docs(spark, sf))


def clusters_frame(docs: DataFrame) -> DataFrame:
    """The df-based full-recompute cluster core of ``q_dedup_clusters``
    (see its docstring for design + profiling notes) — also the
    from-scratch baseline the incremental merge (incremental.py) is
    pytest-pinned equal to."""
    # materialize the verified pair table ONCE before it is referenced
    # twice by the symmetric union below — without this the whole
    # LSH+jaccard subtree executes per union branch (measured ~2x). At
    # 100 TB this checkpoint is the pairs table you'd persist anyway.
    pairs = (
        jaccard_verify(
            pair_shingle_stats(
                candidate_pairs_frame(docs).select("doc_a", "doc_b"),
                # lazily checkpointed: the verify references the shingle
                # table TWICE (doc_a and doc_b sides) — one kernel pass,
                # cached reuse (r7; the bands side is the fused kernel
                # and does not need this frame at all)
                shingle_frame(docs).localCheckpoint(eager=False),
            )
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    labels, edge_nodes = propagate_min_labels(pairs)
    # docs untouched by any near-dup edge are their own keepers — the
    # single corpus-sized pass (anti join), outside the iteration
    singletons = (
        docs.select("doc_id")
        .join(edge_nodes, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(singletons).withColumn(
        "is_keeper", (F.col("doc_id") == F.col("cluster_id")).cast("int")
    )


def propagate_min_labels(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Min-label propagation over an undirected (doc_a, doc_b) pair frame.
    Returns (labels, edge_nodes): labels = (doc_id, cluster_id) for every
    node that appears in some pair (cluster_id = component-min doc_id);
    edge_nodes = the distinct (doc_id) of those nodes, checkpointed —
    callers use it for the singleton anti join. The df-based loop shared
    by the corpus-wide clusters query and the incremental cluster merge
    (incremental.py), which runs it on a CONTRACTED graph."""
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .withColumnRenamed("doc_a", "src")
        .withColumnRenamed("doc_b", "dst")
        .localCheckpoint(eager=False)
    )
    edge_nodes = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .localCheckpoint(eager=False)
    )
    labels = edge_nodes.withColumn("cluster_id", F.col("doc_id"))
    while True:
        prop = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("src"),
                    F.col("cluster_id").alias("src_comp"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("src_comp").alias("neigh_min"))
        )
        # ONE join per round: the changed flag is derived in the same pass
        # (NULL neigh_min compares false), not via a second labels join
        step = (
            labels.join(prop, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("neigh_min", F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.col("neigh_min") < F.col("cluster_id"))
                .cast("int").alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = step.filter(F.col("changed") == 1).count()
        labels = step.select("doc_id", "cluster_id")
        if changed == 0:
            break
    return labels, edge_nodes


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


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 16-bit SimHash. r7 plan change, same output: the original
    ``simhash_col`` evaluates md5(token) SIXTEEN times per distinct token
    (one filter lambda per bit — Catalyst does not CSE across HOF
    lambdas). Here each token's digest prefix is materialized ONCE as a
    16-bit int through an explode(array(...)) Generate barrier (the
    digest_frame trick), and the 16 bit-majority terms run as cheap
    integer filters over that attribute — 1 md5 per token instead of 16,
    the CPU shape that matters at corpus scale. Bit j of the simhash is
    bit (15-j) of v = int(md5[:4], 16). Byte-identical to the HOF twin
    incl. the NULL-text edge (when(NULL) collapses every bit term to 0,
    so NULL text hashes to 0) — pinned in tests/test_round7_perf.py.
    (An Arrow-batched Python kernel was measured EQUAL on true compute
    at sf0.1 — boundary overhead cancels the hashing win — so the
    JVM-side form stays.)"""
    docs = _docs(spark, sf)
    base = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("dt")
    )
    vs_arr = F.transform(
        F.col("dt"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"),
    )
    withv = base.select(
        "doc_id",
        F.size("dt").alias("n"),
        F.explode(F.array(vs_arr)).alias("vs"),
    )
    terms = []
    for j in range(SIMHASH_BITS):
        ones = F.size(
            F.filter(
                F.col("vs"),
                lambda v: v.bitwiseAND(F.lit(1 << (15 - j))) != 0,
            )
        )
        terms.append(
            F.when(2 * ones >= F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return withv.select("doc_id", out.cast("long").alias("simhash"))


def simhash_frame_hof(docs: DataFrame) -> DataFrame:
    """The pre-r7 Catalyst-HOF formulation of ``q_simhash``'s projection —
    the equality twin for the kernel's parity test."""
    return docs.select(
        "doc_id", simhash_col(F.split("text", " ")).alias("simhash")
    )


SIM_BANDS = 4
SIM_BAND_BITS = SIMHASH_BITS // SIM_BANDS


def q_simhash_band_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SCALE path for SimHash near-dup: band the 16-bit fingerprint into 4
    nibbles and equi-join on (band, nibble) — no all-pairs join anywhere.
    Pigeonhole guarantee: a pair within hamming distance SIM_BANDS-1 (=3)
    differs in at most 3 bands, so at least one band is intact and the pair
    lands in a shared bucket (superset of hamming<=3 pairs; asserted against
    the brute histogram in tests). At 10^9 docs this is the same banded
    equi-join shape as MinHash-LSH; the brute cross join in
    ``q_simhash_hamming_hist`` is the small-corpus correctness twin."""
    sh = q_simhash(spark, sf)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * SIM_BAND_BITS)
                    .bitwiseAND(F.lit((1 << SIM_BAND_BITS) - 1))
                    .cast("long")
                    for b in range(SIM_BANDS)
                ]
            )
        ).alias("band", "bval"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def q_simhash_hamming_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram of pairwise SimHash hamming distances — the compact
    correctness check of the near-dup metric space.

    O(N^2) all-pairs cross join: this is the small-corpus correctness TWIN
    of q_simhash_banded_pairs and is guarded against large inputs — NEVER
    run it at scale."""
    from .guards import guard_brute

    sh = guard_brute(
        q_simhash(spark, sf), "q_simhash_hamming_hist",
        "q_simhash_banded_pairs",
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming")
        )
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
    )


# crawl-snapshot dedup: synthetic recrawl fan-in (docs per url) and a
# deterministic NON-monotone crawl timestamp so "latest" is a real
# argmax over timestamps, not just max(doc_id)
RECRAWL_FANOUT = 3
CRAWL_TS_BASE_US = 1_700_000_000_000_000  # epoch microseconds
CRAWL_TS_MIX = 7919  # prime multiplier; ts = BASE + (doc_id*MIX) % MOD
CRAWL_TS_MOD = 100_000


def pages_with_crawl_ts(docs: DataFrame) -> DataFrame:
    """(url, doc_id, ts_us) synthetic crawl log from a documents frame —
    the shared derivation for the batch latest-per-url query and its
    streaming stateful twin (streaming/stream_pipeline.py
    stream_pages_latest)."""
    return docs.select(
        F.concat(
            F.lit("doc://"),
            F.expr(f"doc_id div {RECRAWL_FANOUT}").cast("string"),
        ).alias("url"),
        "doc_id",
        (
            F.lit(CRAWL_TS_BASE_US).cast("long")
            + (F.col("doc_id") * CRAWL_TS_MIX) % CRAWL_TS_MOD
        ).alias("ts_us"),
    )


def q_pages_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-crawl-per-url snapshot dedup — the first operator any
    Common-Crawl-style ingest runs (the north-rule pages shape carries
    (url, warc_ts, ...) and a url recurs once per crawl): group the crawl
    log by url and keep the most recent capture. Recrawls are synthesized
    deterministically (RECRAWL_FANOUT docs share a url; the capture
    timestamp is a prime-mixed permutation of doc_id so the latest
    capture is NOT the max doc_id) and timestamps are compared as epoch-
    microsecond BIGINTs (the cross-engine-exact timestamp discipline).

    Scale shape: ONE map-side-combinable groupBy on url —
    max(struct(ts, doc_id)) is an ordinary aggregate, so each task
    reduces its partition to one candidate row per url before the
    shuffle; no window, no self-join, and url skew (a hot domain) is
    bounded by the combine. The struct max implements the
    (ts DESC, doc_id DESC) tiebreak the oracle's row_number mirrors."""
    return latest_partial(pages_with_crawl_ts(_docs(spark, sf)))


def latest_partial(pages: DataFrame) -> DataFrame:
    """One corpus slice's latest-crawl-per-url aggregate — the
    mergeable-partial shape of ``q_pages_latest`` (count is summable, the
    (ts, doc_id) struct max is re-maxable): ``incremental.merge_latest``
    folds a delta's partial into the persisted snapshot without touching
    historical pages."""
    return (
        pages.groupBy("url")
        .agg(
            F.count("*").alias("n_crawls"),
            F.max(F.struct("ts_us", "doc_id")).alias("m"),
        )
        .select(
            "url", "n_crawls",
            F.col("m.ts_us").alias("latest_ts_us"),
            F.col("m.doc_id").alias("latest_doc_id"),
        )
    )


CONTAIN_MIN = 0.5  # containment threshold (superset/subset detection)


def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment for the LSH candidate
    pairs — containment(A in B) = |A ∩ B| / |A| — reported as the max of
    both directions with the exact set sizes. This is the web-dedup
    relation Jaccard misses: a page quoting another wholesale has high
    containment but low Jaccard when their sizes differ (boilerplate
    wrapping, syndication, quote-plus-commentary), so dedup pipelines
    threshold both. Same scale shape as the Jaccard verify: exact set
    arithmetic only on LSH candidates, one double division per pair at
    the end."""
    return _pair_shingle_sizes(spark, sf).select(
        "doc_a", "doc_b", "inter", "size_a", "size_b",
        (
            F.col("inter")
            / F.least(F.col("size_a"), F.col("size_b"))
        ).alias("containment"),
    ).filter(F.col("containment") >= CONTAIN_MIN)
