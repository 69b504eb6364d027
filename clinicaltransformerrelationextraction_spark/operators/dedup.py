"""Deduplication operators over the documents table — the training-data
pipeline ops a 100 TB corpus needs before KG construction (exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard).

Scale design:
- shingling + minhash signatures are computed NARROWLY, zero shuffle —
  per-doc Python functions (``bigram_shingles``, ``minhash_minima``) run
  by ``functions.util.row_kernel``, one Arrow-batched pass, the measured
  ~100× cheaper-per-element replacement for the interpreted Catalyst
  higher-order functions (those now live in tests/catalyst_twins.py as
  the equality oracles);
- the only shuffles are the LSH band-bucket self-join (equi-join on
  (band, band_key) — exactly what LSH exists for: it replaces the quadratic
  all-pairs join with a bucket join) and the final distinct;
- exact jaccard is computed only for LSH candidate pairs.

Hash discipline: md5 (string) everywhere — identical across Spark and the
DuckDB oracle; engine-native hash() differs between engines.
"""

from __future__ import annotations

from hashlib import md5
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import row_kernel
from .graph import min_label_components

N_SEEDS = 8  # minhash signature length
BAND_ROWS = 2  # rows per LSH band -> N_SEEDS/BAND_ROWS bands
JACCARD_MIN = 0.5  # near-dup threshold on bigram jaccard
SIMHASH_BITS = 16


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.util import ensure_parallelism

    # The corpus of the dedup and textstats queries. factor=1 (not the
    # default 2): their per-doc work runs in Arrow-batched Python
    # kernels, and every Python task has a fixed cost before any row is
    # touched. An identity pandas map over 4 rows, on
    # 4 cores, costs 0.16 / 0.56 / 2.1 s of Python-worker CPU (/proc) at
    # 4 / 16 / 64 partitions, ~35 ms a task, once the worker has run a
    # product runner (functions/util.set_up_python_worker);
    # before that, Spark's per-task importlib.invalidate_caches() re-read
    # pyspark.zip and the cost was 1.0 / 4.0 / 15 s, ~240 ms a task. One
    # wave of core-count tasks balances fine for per-doc-uniform kernels
    return ensure_parallelism(
        spark.read.parquet(f"{sf}/documents.parquet"), factor=1
    )


def bigram_shingles(text: str | None) -> list[str]:
    """Distinct space-joined token bigrams of one doc in first-occurrence
    order; ``[]`` for NULL text or fewer than 2 tokens. Splits on single
    spaces and keeps empty tokens, like Spark's ``split(text, ' ')``."""
    if text is None:
        return []
    toks = text.split(" ")
    return list(dict.fromkeys(a + " " + b for a, b in zip(toks, toks[1:])))


def minhash_minima(shingles) -> list[str | None]:
    """One doc's MinHash signature: seed k's minimum is the least 4-hex-char
    slice ``[4k, 4k+4)`` of the shingles' md5 hexdigests — ONE strong hash
    per shingle, ``N_SEEDS`` projections. 16-bit slices are plenty: the
    hash range (65,536) is far above per-doc shingle counts (hundreds).
    An empty or NULL array gives ``N_SEEDS`` Nones, as ``array_min`` of an
    empty array is NULL."""
    if shingles is None or len(shingles) == 0:
        return [None] * N_SEEDS
    digs = [md5(s.encode("utf-8")).hexdigest() for s in shingles]
    return [min(d[4 * k: 4 * k + 4] for d in digs) for k in range(N_SEEDS)]


def _band_rows(did, shingles) -> list[tuple]:
    """(doc_id, band, bkey) rows of one doc: each band's key is the md5 of
    its ``BAND_ROWS`` minima, '|'-joined with NULLs skipped (concat_ws), so
    an empty or NULL shingle array keys every band ``md5("")``."""
    mins = minhash_minima(shingles)
    return [
        (did, b, md5("|".join(
            m for m in mins[b * BAND_ROWS:(b + 1) * BAND_ROWS]
            if m is not None
        ).encode("utf-8")).hexdigest())
        for b in range(N_SEEDS // BAND_ROWS)
    ]


def _per_doc(src: DataFrame, cols: str, rows_of: Callable) -> DataFrame:
    """``row_kernel`` over a (doc_id, x) frame whose output starts with
    ``doc_id`` of the input's type (long or not) followed by ``cols``."""
    id_type = src.schema["doc_id"].dataType.simpleString()
    return row_kernel(src, f"doc_id {id_type}, {cols}", rows_of)


def shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) from any documents-shaped frame — the df-based
    core shared by the corpus-wide queries here and the incremental
    (delta-vs-index) operators in incremental.py. Docs with no bigram
    (NULL text, fewer than 2 tokens) are dropped. ``bigram_shingles`` per
    doc; byte-identical to the Catalyst-HOF twin (split + transform +
    array_distinct, tests/catalyst_twins.py), pinned in
    tests/test_round7_perf.py."""
    return _per_doc(
        docs.select("doc_id", "text"), "shingles array<string>",
        lambda did, text: [(did, sh)] if (sh := bigram_shingles(text)) else [],
    )


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: group by content hash, keep min doc_id."""
    return exact_partial(_docs(spark, sf))


def exact_partial(docs: DataFrame) -> DataFrame:
    """A corpus slice's contribution to the exact-dedup content-hash
    index — the mergeable-partial shape (``q_dedup_exact`` output:
    ``(text_hash, keeper_doc_id, n_docs)``). The SINGLE definition of
    this aggregate: ``q_dedup_exact`` is it over the whole corpus,
    ``incremental.incremental_exact`` folds these, and the ingest state
    dir (plans/ingest.py) bootstraps/verifies with it."""
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_docs"),
    )


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, seed, mh) — the per-doc MinHash signature of the corpus."""
    return minhash_signatures(shingle_frame(_docs(spark, sf)))


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, seed, mh) from a (doc_id, shingles) frame:
    ``minhash_minima`` per doc, one row per seed. An empty or NULL
    shingles array gives NULL ``mh`` for every seed."""
    return _per_doc(
        shingles.select("doc_id", "shingles"), "seed int, mh string",
        lambda did, sh: [(did, k, m)
                         for k, m in enumerate(minhash_minima(sh))],
    )


def bands_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band index from any documents-shaped
    frame. At 100 TB this IS the persisted dedup index: a daily delta is
    deduped by joining ITS bands against this table (incremental.py)
    instead of re-banding the historical corpus.

    FUSED text->bands kernel: one pass runs ``bigram_shingles`` and then
    ``_band_rows`` per doc, so the shingle arrays never cross the Arrow
    boundary twice (the chained shingle_frame |> bands_from_shingles form
    pays a second Python stage, measured +0.55 s at sf0.1). Byte-identical
    to the chained form (pytest-pinned); use the chained form when the
    shingles are ALSO needed (the incremental delta path persists them)."""
    return _per_doc(
        docs.select("doc_id", "text"), "band int, bkey string",
        lambda did, text: _band_rows(did, sh)
        if (sh := bigram_shingles(text)) else [],
    )


def bands_from_shingles(shingles: DataFrame) -> DataFrame:
    """``bands_frame`` from an already-computed (doc_id, shingles) frame
    — lets the incremental path shingle its delta ONCE and share the
    result between banding and the Jaccard verify. ``_band_rows`` per
    doc; byte-identical to the Catalyst-HOF twin (md5 + per-seed
    array_min + concat_ws band keys, tests/catalyst_twins.py) incl. the
    empty- and NULL-shingles edges, where every band key is md5("") —
    pinned in tests/test_round7_perf.py."""
    return _per_doc(
        shingles.select("doc_id", "shingles"), "band int, bkey string",
        _band_rows,
    )


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
        shingle_frame(_docs(spark, sf)).localCheckpoint(eager=False),
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
    per iteration with localCheckpoint — ``graph.min_label_components``,
    the same loop that labels the entity/user graph components and runs
    both incremental merges. The loop runs over the
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
    pytest-pinned equal to. The fixpoint is
    ``graph.min_label_components`` over the verified pairs, the one
    min-label loop of the package; it checkpoints the pair table once
    before its symmetric union references it twice (without that cut the
    whole LSH+jaccard subtree executes per union branch, measured ~2x;
    at 100 TB it is the pairs table you'd persist anyway)."""
    pairs = jaccard_verify(
        pair_shingle_stats(
            candidate_pairs_frame(docs).select("doc_a", "doc_b"),
            # lazily checkpointed: the verify references the shingle
            # table TWICE (doc_a and doc_b sides) — one kernel pass,
            # cached reuse (r7; the bands side is the fused kernel
            # and does not need this frame at all)
            shingle_frame(docs).localCheckpoint(eager=False),
        )
    )
    labels = min_label_components(pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )).select(
        F.col("entity").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    # docs untouched by any near-dup edge are their own keepers — the
    # single corpus-sized pass (anti join), outside the iteration
    singletons = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return labels.unionByName(singletons).withColumn(
        "is_keeper", (F.col("doc_id") == F.col("cluster_id")).cast("int")
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 16-bit SimHash: bit j is the majority of bit j of
    md5(token) across the doc's distinct tokens (ties -> 1). r7 plan
    change, same output: the original form (the Catalyst twin in
    tests/catalyst_twins.py) evaluates md5(token) SIXTEEN times per
    distinct token (one filter lambda per bit — Catalyst does not CSE
    across HOF lambdas). Here each token's digest prefix is materialized
    ONCE as a 16-bit int through an explode(array(...)) Generate barrier,
    and the 16 bit-majority terms run as cheap integer filters over that
    attribute — 1 md5 per token instead of 16, the CPU shape that matters
    at corpus scale. Bit j of the simhash is bit (15-j) of
    v = int(md5[:4], 16). Byte-identical to the HOF twin incl. the
    NULL-text edge (when(NULL) collapses every bit term to 0, so NULL text
    hashes to 0) — pinned in tests/test_round7_perf.py.
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
