"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting — all JVM-side built-ins, zero Python in the hot
path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EN_STOPWORDS = ["the", "a"]
EN_RATIO_MIN = 0.05
BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def ngrams_expr(toks, n: int):
    """In-row word-n-gram array of a token-array Column (empty for docs
    under ``n`` tokens): space-joined windows of ``n`` consecutive
    tokens. ``n`` is a plan-time Python int, so the window join unrolls
    to a fixed concat_ws — stays inside whole-stage codegen."""
    if n < 2:
        raise ValueError(f"ngrams_expr needs n >= 2, got {n}")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigrams_expr(toks):
    """In-row bigram shingle array of a token-array Column (empty for
    docs under two tokens) — the shared shingle derivation for
    fingerprints, both cardinality sketches, and the n-gram census.
    (The contamination census uses its OWN window length, CONTAM_NGRAM,
    via :func:`ngrams_expr`.)"""
    return ngrams_expr(toks, 2)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..functions.util import ensure_parallelism

    # factor=1: the n-gram consumers below run Arrow-batched kernels, and
    # each Python task has a fixed cost (~35 ms of worker CPU on a worker
    # set up by set_up_python_worker; measured in dedup._docs)
    return ensure_parallelism(
        spark.read.parquet(f"{sf}/documents.parquet"), factor=1
    )


def ngram_rows(docs: DataFrame, n: int, carry: list[str]) -> DataFrame:
    """One row per n-gram OCCURRENCE — the kernel twin of
    ``select(carry..., explode(ngrams_expr(split(text, ' '), n)))``
    (equality pinned in tests/test_round7_perf.py; docs under ``n``
    tokens contribute nothing, NULL text contributes nothing, row order
    is unspecified — every consumer aggregates).

    Arrow-batched mapInPandas (r7, guide §4.2): the interpreted
    ``ngrams_expr`` HOF costs ~10 µs per n-gram element (the dedup-stack
    measurement); the Python loop builds the same space-joined windows
    ~100× cheaper per element, which is what the n-gram census/sketches
    pay for at corpus scale. It keeps its own loop rather than
    ``functions.util.row_kernel`` because it builds its output by column
    (``np.repeat`` of the carry columns): bigrams of 500 sf0.01 docs
    took 4.4 ms in this form against 11.3 ms for the same loop in
    ``row_kernel``'s tuple form (pure pandas, best of 20, one 4-core
    host)."""
    import numpy as np
    import pandas as pd

    src = docs.select(*carry, "text")
    carry_types = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "text"
    )

    def kernel(batches):
        for pdf in batches:
            grams: list = []
            lens: list = []
            for tx in pdf["text"]:
                if tx is None:
                    lens.append(0)
                    continue
                toks = tx.split(" ")
                if len(toks) < n:
                    lens.append(0)
                    continue
                g = [
                    " ".join(toks[i: i + n])
                    for i in range(len(toks) - n + 1)
                ]
                grams.extend(g)
                lens.append(len(g))
            if grams:
                out = {
                    c: np.repeat(pdf[c].to_numpy(), lens)
                    for c in carry
                }
                out["gram"] = grams
                yield pd.DataFrame(out)

    return src.mapInPandas(kernel, schema=f"{carry_types}, gram string")


def q_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pretokens, chars."""
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_ISH)).alias("n_re_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.col("n_chars").cast("long").alias("n_chars_meta"),
    )


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-ratio language heuristic vs the gold lang column, as a
    confusion-matrix aggregate (pred_lang, lang, n)."""
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    stop_n = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    ratio = stop_n / F.size(toks)
    pred = F.when(ratio >= EN_RATIO_MIN, F.lit("en")).otherwise(
        F.lit("other")
    )
    return (
        d.select(pred.alias("pred_lang"), "lang")
        .groupBy("pred_lang", "lang")
        .agg(F.count("*").alias("n"))
    )


def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc quality features + one scalar score. All components are
    single double divisions of exact integers (engine-identical)."""
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    n = F.size(toks)
    n_dist = F.size(F.array_distinct(toks))
    char_sum = F.length("text") - (n - 1)  # total token chars
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        (n_dist / n).alias("distinct_ratio"),
        (char_sum / n).alias("avg_tok_len"),
        ((n_dist / n) * 0.7 + (char_sum / n) / 10.0 * 0.3).alias(
            "quality_score"
        ),
    )


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprints: canonical bag-of-words hash + min-shingle
    hash (winnowing-style representative)."""
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    bag = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    bigrams = bigrams_expr(toks)
    min_shingle = F.array_min(F.transform(bigrams, F.md5))
    return d.select(
        "doc_id", bag.alias("bag_fp"), min_shingle.alias("min_shingle_fp")
    )


K_MV = 64  # sketch size
HEX12 = 1 << 48  # md5 12-hex-char prefix domain


def lang_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(lang, h) — one row per distinct (lang, bigram shingle), ``h`` its
    48-bit md5-prefix hash: what both cardinality sketches are built
    from, and whose per-lang row count is the exact distinct count.
    Shared by the full-corpus queries and the ingest state dir
    (plans/ingest.py)."""
    bg = ngram_rows(docs, 2, ["lang"]).select(
        "lang", F.col("gram").alias("shingle")
    ).distinct()
    return bg.select(
        "lang",
        F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
        .cast("long").alias("h"),
    )


def _hashes(docs: DataFrame | None, hashes: DataFrame | None,
            sketch: str) -> DataFrame:
    if hashes is not None:
        return hashes
    if docs is None:
        raise ValueError(f"{sketch} needs docs or hashes (got neither)")
    return lang_shingle_hashes(docs)


def kmv_sketch(
    docs: DataFrame | None, hashes: DataFrame | None = None
) -> DataFrame:
    """Per-language KMV state: the K smallest DISTINCT hash values,
    ``(lang, h)`` — set semantics, so sketch-of-union == merge of
    sketches (``incremental.kmv_merge``) is an identity, not an
    approximation. Distinct H VALUES, not distinct shingles: two
    shingles colliding in the 48-bit prefix contribute ONE entry, else
    the sketch is not mergeable. Pass ``hashes`` (a
    ``lang_shingle_hashes`` frame) to share one hash pass with
    ``hll_registers`` — q_kmv_distinct and plans/ingest.py do."""
    from pyspark.sql import Window

    h = _hashes(docs, hashes, "kmv_sketch").distinct()
    w = Window.partitionBy("lang").orderBy("h")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K_MV)
        .select("lang", "h")
    )


def q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (K-minimum-values) distinct-count sketch per language over
    bigram shingles — the cardinality sketch a 100 TB pipeline uses
    instead of exact countDistinct (whose full shuffle of every distinct
    value is the scale bottleneck). Estimator: (K-1) / h_(K) with hashes
    normalized to [0, 1) via the first 12 hex chars of md5; the sketch is
    MERGEABLE (union of K-min sets → K-min of union), which is what makes
    it map-side combinable. Fully oracle-checked: md5 is engine-identical,
    the estimate is ONE IEEE division of exact integers, and the exact
    count rides along so the oracle also pins the sketch's accuracy.
    Spark-side the rank<=K filter keeps its partial (map-side)
    WindowGroupLimit — each task prunes to a local top-K before the
    shuffle, exactly the sketch-merge dataflow."""
    hs = lang_shingle_hashes(_docs(spark, sf))
    sk = kmv_sketch(None, hashes=hs).groupBy("lang").agg(
        F.max("h").alias("kth"), F.count("*").alias("k_actual")
    )
    exact = hs.groupBy("lang").agg(F.count("*").alias("n_exact"))
    est = F.when(
        F.col("k_actual") < K_MV, F.col("k_actual").cast("double")
    ).otherwise(F.lit((K_MV - 1) * HEX12) / F.col("kth"))
    return sk.join(exact, "lang").select(
        "lang", "k_actual", "kth", "n_exact", est.alias("est_distinct")
    )


# --- HyperLogLog sketch constants (shared with the DuckDB oracle) -----------
HLL_P = 6                   # bucket bits -> m = 64 registers
HLL_M = 1 << HLL_P
HLL_WBITS = 48 - HLL_P      # value bits of the 48-bit md5-prefix hash
HLL_MAXR = HLL_WBITS + 1    # rho range: 1..43 (43 = all-zero value bits)


def _hll_alpha_m2_u() -> int:
    """alpha_m * m^2 as an integer micro-unit literal (standard HLL bias
    constant alpha_64 = 0.7213/(1 + 1.079/m)); inlined identically in
    both engines so the estimate is one deterministic double expression."""
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    return round(alpha * HLL_M * HLL_M * 1_000_000)


# single pre-rounded double literal shared by both engines: the whole
# estimator numerator alpha*m^2*2^MAXR (the only float in the sketch)
HLL_EST_NUM = float(_hll_alpha_m2_u() * (1 << HLL_MAXR))


def hll_registers(
    docs: DataFrame | None, hashes: DataFrame | None = None
) -> DataFrame:
    """Per-(lang, bucket) HLL register state ``(lang, bucket, mj)`` —
    at most 64 registers per language, exact integer arithmetic:
    bucket = top HLL_P bits of h, rho = leading zeros of the HLL_WBITS
    value bits + 1 (via binary-string length — no float log2), M_j = max
    rho per bucket (a map-side combinable max-aggregate;
    ``incremental.hll_merge`` re-maxes). ``hashes`` as in
    :func:`kmv_sketch` (duplicate h rows are harmless under max)."""
    h = _hashes(docs, hashes, "hll_registers")
    w = F.col("h") % F.lit(1 << HLL_WBITS)
    reg = h.select(
        "lang",
        F.expr(f"h div {1 << HLL_WBITS}").alias("bucket"),
        F.when(w == 0, F.lit(HLL_MAXR)).otherwise(
            F.lit(HLL_MAXR) - F.length(F.bin(w))
        ).alias("rho"),
    )
    return reg.groupBy("lang", "bucket").agg(F.max("rho").alias("mj"))


def q_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per language over bigram
    shingles — the fixed-memory (m registers) alternative to KMV: unlike
    KMV's K-min set, HLL registers are a constant 64 bytes per group and
    merge by element-wise max, which is why it's the sketch of choice for
    10^12-scale cardinality. The registers (:func:`hll_registers`) are
    exact integer arithmetic both engines share. The estimate
    alpha*m^2/sum(2^-M_j) is restated exactly: S_int = sum(2^(43-M_j)) +
    2^43 per empty bucket (all bigint), then ONE fixed-shape double
    expression. No small/large
    range corrections (documented simplification — the raw estimator);
    the exact count rides along to pin accuracy, KMV-style."""
    hs = lang_shingle_hashes(_docs(spark, sf))
    m = hll_registers(None, hashes=hs)
    sk = m.groupBy("lang").agg(
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
    exact = hs.groupBy("lang").agg(F.count("*").alias("n_exact"))
    est = F.lit(HLL_EST_NUM) / (
        F.lit(1_000_000.0) * F.col("s_int").cast("double")
    )
    return sk.join(exact, "lang").select(
        "lang", "n_buckets_hit", "s_int", "n_exact",
        est.alias("est_distinct"),
    )


CLEAN_MIN_DISTINCT_RATIO = 0.3
CLEAN_MIN_TOKENS = 5


def q_corpus_clean(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data cleaning pass a real corpus gets before
    KG construction, as ONE query: exact-dedup keeper selection (md5
    group, min doc_id) -> quality gate (distinct-token ratio + minimum
    length) -> per-language retention stats. The dedup groupBy is the only
    corpus-wide shuffle; the quality features are in-row. Output counts
    are exact integers."""
    d = _docs(spark, sf)
    toks = F.split("text", " ")
    feats = d.select(
        "doc_id", "lang",
        F.md5("text").alias("th"),
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("dr"),
    )
    keeper = feats.groupBy("th").agg(F.min("doc_id").alias("keeper_id"))
    kept = (
        feats.join(keeper, "th")
        .filter(
            (F.col("doc_id") == F.col("keeper_id"))
            & (F.col("dr") >= CLEAN_MIN_DISTINCT_RATIO)
            & (F.col("n_tokens") >= CLEAN_MIN_TOKENS)
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
    )
    totals = feats.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return totals.join(kept, "lang", "left").select(
        "lang", "n_docs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


NGRAM_TOPK = 10


def q_ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K bigrams per language — the corpus-analysis staple (what a
    training-data pipeline runs to eyeball boilerplate/templating before
    dedup thresholds are set): explode bigrams, one count shuffle on
    (lang, bigram), then per-language top-K with a deterministic
    tiebreak. The rank<=K filter keeps its map-side partial
    WindowGroupLimit, so each task prunes to a local top-K before the
    final per-language shuffle — at 10^12 docs the shuffle after the
    count carries K*tasks rows per language, not the n-gram vocabulary."""
    from pyspark.sql import Window

    d = _docs(spark, sf)
    # ngram_rows kernel (r7) replaces the interpreted explode-HOF
    counts = (
        ngram_rows(d, 2, ["lang"]).withColumnRenamed("gram", "bigram")
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= NGRAM_TOPK)
        .select("lang", "rank", "bigram", "n")
    )


TFIDF_TOPK = 5


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document top-K salient terms by TF x integer-log2 IDF — the
    keyword-extraction staple of a training-data pipeline (what feeds
    topic balancing and boilerplate diagnostics), kept hash-exact across
    engines by replacing the usual ln(N/df) with its integer-exact bit
    twin:

        idf_log2(term) = bit_length(N div df) = floor(log2(N/df)) + 1

    computed as length(bin(x)) on Spark / length(printf('%b', x)) on
    DuckDB — the same cross-engine trick the HLL rho uses. A term in
    every doc scores idf 1 (not 0): rank order within a doc is what the
    query is for, and a floor of 1 keeps tf as the tiebreak signal among
    ubiquitous terms. score = tf * idf_log2, all BIGINT.

    Scale shape: two count shuffles (per-(doc,term) tf, per-term df) +
    one doc-partitioned top-K window whose rank<=K keeps the partial
    WindowGroupLimit (each task prunes to a local top-K before the
    shuffle). The document-count scalar joins in as a broadcast 1-row
    aggregate, never a driver collect. The df side of the tf-df join is
    the term vocabulary — orders of magnitude smaller than the tf table
    but NOT broadcast-hinted (a 10^12-doc vocabulary can be huge; AQE
    decides at runtime)."""
    from pyspark.sql import Window

    d = _docs(spark, sf)
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    idf = F.length(F.bin(F.expr("n_docs div df"))).cast("long")
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf",
            idf.alias("idf_log2"),
            (F.col("tf") * idf).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "idf_log2", "score", "rank")
    )


PACK_BUDGET = 256  # token budget per packed training sequence


def q_pack_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing — the pretraining dataset-prep step
    that concatenates documents into fixed-budget training sequences:
    docs are packed contiguously in doc_id order and a doc goes to the
    bin its CUMULATIVE-BEFORE token count falls in
    (bin = cum_before div PACK_BUDGET — greedy contiguous packing where
    a straddling doc overflows its bin, the standard simple packer).
    Output is one row per (source, bin): docs packed, token sum, and the
    fill ratio (a single double division of exact BIGINTs).

    Scale shape: the prefix sum is windowed PER SOURCE (partition by
    source, order by doc_id) — a keyed window that parallelizes across
    sources, NOT a global single-partition ordering (the global variant
    is the classic scale-killer: every row through one task). At 10^12
    docs the 'source' key is the shard/date partition you'd pack within
    anyway — packing never needs global order, only reproducible order
    within a shard."""
    d = _docs(spark, sf)
    toks = d.select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    # SQL spelling: integral `div` (the cross-engine-exact division) is
    # an expression-level operator, so the windowed prefix sum and the
    # bin division live in one F.expr
    binned = toks.select(
        "source", "doc_id", "n_tok",
        F.expr(
            f"coalesce(sum(n_tok) over (partition by source order by doc_id"
            f" rows between unbounded preceding and 1 preceding), 0)"
            f" div {PACK_BUDGET}"
        ).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "source", "bin", "n_docs", "n_tokens",
            (F.col("n_tokens") / F.lit(PACK_BUDGET)).alias("fill_ratio"),
        )
    )


# benchmark decontamination probe set: CONTAM_NGRAM-grams that occur in
# the synthetic corpus at every tested scale factor (hit path) and one
# that cannot (miss path — the zero-match row)
CONTAM_PROBES = [
    "small query line",
    "query big part",
    "join part filter",
    "zz_never zz_seen zz_gone",
]


def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan — before training, count how many
    corpus documents contain each probe n-gram from a benchmark/eval set
    (the decontamination census): one row per probe with the number of
    containing docs and the contamination rate over the corpus. The
    window length is config.CONTAM_NGRAM (its own dial since r6 — real
    decontamination uses longer windows than the dedup shingles), shared
    with the oracle twin.

    Scale shape: the probe set is the BROADCAST side (a benchmark's
    n-grams are tiny next to the corpus) crossed against the per-doc
    n-gram arrays in a single corpus scan — the corpus is read once,
    never shuffled, and the per-probe counts are a K-row aggregate.
    Probes with zero matches stay in the output (left join from the
    probe list), so an all-clean corpus yields explicit zeros, not an
    empty frame."""
    from ..config import CONTAM_NGRAM

    d = _docs(spark, sf)
    probes = spark.createDataFrame(
        [(p,) for p in CONTAM_PROBES], "probe string"
    )
    # r7: the per-doc n-gram ARRAY + array_contains scan becomes the
    # ngram_rows kernel + a broadcast EQUI-join on the gram — the
    # distinct() restores contains-semantics (a doc counts once per
    # probe no matter how often the probe occurs in it); same single
    # corpus scan, no interpreted array build
    rows = ngram_rows(d, CONTAM_NGRAM, ["doc_id"])
    hits = (
        rows.join(F.broadcast(probes), rows.gram == probes.probe)
        .select("doc_id", "probe")
        .distinct()
        .groupBy("probe")
        .agg(F.count("*").alias("n_docs"))
    )
    n_total = d.agg(F.count("*").alias("n_total"))
    return (
        probes.join(hits, "probe", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "probe",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            # empty-corpus guard: rate defined as 0.0 when there are no
            # docs (ANSI mode raises DIVIDE_BY_ZERO otherwise — found by
            # the empty-partition robustness test)
            F.when(
                F.col("n_total") > 0,
                F.coalesce("n_docs", F.lit(0)) / F.col("n_total"),
            ).otherwise(F.lit(0.0)).alias("contamination_rate"),
        )
    )
