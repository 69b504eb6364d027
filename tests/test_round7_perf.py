"""Round-7 optimization pins: every r7 physical-plan/kernel change must be
byte-identical to the formulation it replaced.

- dedup shingle/band/signature Python kernels and the mentions kernel ==
  their Catalyst twins in tests/catalyst_twins.py (incl. the short-doc,
  unicode, consecutive-space, NULL-text, empty-shingles and string
  doc_id edges), under every Arrow batch size and input partitioning in
  ``LAYOUTS``;
- candidates emit="lengths" window lengths == the lengths of the
  reference's marked strings;
- cosine_with_norms == cosine (bit-identical doubles);
- the stub scorer's lengths input path == its text input path;
- q_ann_ivf_topk's aggregate-based corpus cell assignment == the
  window-based one (same argmax + tiebreak).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators import dedup
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from tests import catalyst_twins as twins
from tests.conftest import SF_SMOKE


def _same(a, b, msg=""):
    d1 = a.exceptAll(b).count()
    d2 = b.exceptAll(a).count()
    assert (d1, d2) == (0, 0), f"{msg}: exceptAll diffs {d1}/{d2}"


EDGE_DOCS = [
    (1, "héllo wörld héllo wörld x"),  # unicode + repeats
    (2, "one"),                        # single token -> dropped
    (3, ""),                           # empty text -> dropped
    (4, "a  b   c"),                   # consecutive spaces -> empty tokens
    (5, None),                         # NULL text -> dropped
    (6, "a b"),                        # minimal two-token doc
    (7, "x " * 50 + "x"),              # heavy repetition -> 1 distinct
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _string_ids(df):
    """``df`` with its long doc_id turned into a string ("d<id>")."""
    return df.withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id")))


# (Arrow records per batch, input partitions): a kernel's output must not
# change with either — batch size 1 puts every doc in its own batch
LAYOUTS = [(1, 1), (1, 7), (2, 7), (1024, 1), (1024, 7)]
ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def layouts(spark):
    """``layouts(*frames)`` yields ``(tag, frames)`` once per ``LAYOUTS``
    entry, with the Arrow batch size set and each frame repartitioned;
    run the checks inside the loop. Restores the batch size after the
    test."""
    old = spark.conf.get(ARROW_BATCH)

    def run(*frames):
        for batch, parts in LAYOUTS:
            spark.conf.set(ARROW_BATCH, str(batch))
            yield (f"batch={batch} parts={parts}",
                   [f.repartition(parts) for f in frames])

    yield run
    spark.conf.set(ARROW_BATCH, old)


def test_shingle_kernel_matches_hof(spark, edge_docs, layouts):
    for tag, (docs, edge) in layouts(dedup._docs(spark, SF_SMOKE), edge_docs):
        _same(
            dedup.shingle_frame(docs), twins.shingle_frame_hof(docs),
            f"corpus shingles {tag}",
        )
        _same(
            dedup.shingle_frame(edge), twins.shingle_frame_hof(edge),
            f"edge shingles {tag}",
        )


def test_bands_kernels_match_hof(spark, edge_docs, layouts):
    for tag, (docs, edge, sedge) in layouts(
        dedup._docs(spark, SF_SMOKE), edge_docs, _string_ids(edge_docs)
    ):
        hof = twins.bands_from_shingles_hof(twins.shingle_frame_hof(docs))
        _same(dedup.bands_frame(docs), hof, f"fused bands {tag}")
        _same(
            dedup.bands_from_shingles(dedup.shingle_frame(docs)), hof,
            f"chained bands {tag}",
        )
        _same(
            dedup.bands_frame(edge),
            twins.bands_from_shingles_hof(twins.shingle_frame_hof(edge)),
            f"edge bands {tag}",
        )
        got = dedup.bands_from_shingles(dedup.shingle_frame(sedge))
        assert dict(got.dtypes)["doc_id"] == "string"
        _same(
            got,
            twins.bands_from_shingles_hof(twins.shingle_frame_hof(sedge)),
            f"string doc_id bands {tag}",
        )


def test_bands_empty_shingles_edge(spark, layouts):
    # array_min of an empty array is NULL; concat_ws skips NULLs; so the
    # HOF twin emits md5("") band keys — the kernel must reproduce that
    # — for an empty array and for NULL shingles alike
    for tag, (esh,) in layouts(spark.createDataFrame(
        [(9, []), (10, None)], "doc_id long, shingles array<string>"
    )):
        _same(
            dedup.bands_from_shingles(esh),
            twins.bands_from_shingles_hof(esh),
            f"empty-shingles bands {tag}",
        )
        assert dedup.bands_from_shingles(esh).count() == (
            2 * dedup.N_SEEDS // dedup.BAND_ROWS
        )


def test_minhash_signatures_empty_shingles_edge(spark, layouts):
    # array_min of an empty array is NULL: one NULL mh per seed, no
    # failed task
    for tag, (esh,) in layouts(spark.createDataFrame(
        [(9, []), (10, ["a b", "b c"])], "doc_id long, shingles array<string>"
    )):
        got = dedup.minhash_signatures(esh)
        _same(got, twins.minhash_signatures_hof(esh),
              f"empty-shingles signatures {tag}")
        assert got.filter("doc_id = 9 AND mh IS NULL").count() == (
            dedup.N_SEEDS
        )


def test_minhash_signatures_non_long_doc_id(spark, edge_docs, layouts):
    for tag, (docs,) in layouts(_string_ids(edge_docs).select(
        "doc_id", "text"
    )):
        sh = dedup.shingle_frame(docs)
        got = dedup.minhash_signatures(sh)
        assert dict(got.dtypes)["doc_id"] == "string"
        _same(got, twins.minhash_signatures_hof(sh),
              f"string doc_id signatures {tag}")


def test_simhash_kernel_matches_hof(spark, edge_docs):
    docs = dedup._docs(spark, SF_SMOKE).select("doc_id", "text")
    _same(
        dedup.q_simhash(spark, SF_SMOKE),
        twins.simhash_frame_hof(docs),
        "corpus simhash",
    )
    # the kernel path over arbitrary docs incl. NULL text (the HOF's
    # when(NULL) collapses every bit term to 0 -> simhash 0)
    import pandas as pd

    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        q_simhash,
    )

    # reuse the kernel via a monkey-free route: compare HOF twin on the
    # edge frame against the same kernel body applied through q_simhash's
    # mapInPandas (exercised by swapping _docs)
    hof = twins.simhash_frame_hof(edge_docs).collect()
    import clinicaltransformerrelationextraction_spark.operators.dedup as dd

    orig = dd._docs
    try:
        dd._docs = lambda spark_, sf_: edge_docs
        kern = q_simhash(spark, SF_SMOKE).collect()
    finally:
        dd._docs = orig
    assert sorted(map(tuple, kern)) == sorted(map(tuple, hof))


def test_candidate_lengths_match_marked_strings(spark):
    """emit="lengths" rows (all columns, including the capped kept set)
    equal the reference's rows with each marked string replaced by its
    length."""
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )
    from tests.reference_impl import reference_candidates

    docs = load_documents(spark, SF_SMOKE)
    rows = docs.select("doc_id", "text").collect()
    for cap in (10_000, 7):
        c = PipelineConfig(max_pairs_per_doc=cap)
        want = sorted(
            r[:5] + (len(r[5]), len(r[6])) + r[7:]
            for r in reference_candidates(rows, c)
        )
        got = sorted(map(tuple, candidates(docs, c, emit="lengths").collect()))
        assert got == want != [], f"window lengths (cap={cap})"


def test_cosine_with_norms_bit_identical(spark):
    from clinicaltransformerrelationextraction_spark.operators import (
        similarity as sim,
    )

    q = sim._q(spark, SF_SMOKE)
    a = q.select("vec_id", F.col("qe").alias("qa"))
    b = q.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("qe").alias("qb")
    )
    j = a.join(b, "vec_id")
    plain = j.select(
        "vec_id", sim.cosine(F.col("qa"), F.col("qb")).alias("cos")
    )
    factored = j.select(
        "vec_id",
        sim.cosine_with_norms(
            F.col("qa"), F.col("qb"),
            sim.norm_col(F.col("qa")), sim.norm_col(F.col("qb")),
        ).alias("cos"),
    )
    # exceptAll compares the raw doubles — bit-identity, not tolerance
    _same(plain, factored, "cosine factoring")


def test_stub_lengths_path_matches_text_path():
    import numpy as np
    import pandas as pd

    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        _make_stub_scorer,
    )

    cfg = PipelineConfig()
    labels = list(cfg.labels)
    pdf_text = pd.DataFrame(
        {
            "s1_marked": ["[s1] a [e1] b", "x " * 30, "é ü"],
            "s2_marked": ["c [s2] d [e2]", "y", "zz"],
            "i1": [1, 5, 2],
            "i2": [3, 7, 4],
        }
    )
    pdf_len = pd.DataFrame(
        {
            "s1_len": pdf_text["s1_marked"].str.len(),
            "s2_len": pdf_text["s2_marked"].str.len(),
            "i1": pdf_text["i1"],
            "i2": pdf_text["i2"],
        }
    )
    for mode in (0, 1):
        c = PipelineConfig(data_format_mode=mode)
        s = _make_stub_scorer(c, labels)
        it, st = s(pdf_text)
        il, sl = s(pdf_len)
        assert np.array_equal(it, il) and np.array_equal(st, sl)
    assert _make_stub_scorer.needs == "lengths"


def test_mentions_kernel_matches_window_form(spark, edge_docs, layouts):
    from clinicaltransformerrelationextraction_spark.operators.segmentation import (
        mentions,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )

    cfg = PipelineConfig()
    for tag, (docs, edge, sdocs) in layouts(
        load_documents(spark, SF_SMOKE), edge_docs,
        _string_ids(load_documents(spark, SF_SMOKE)),
    ):
        _same(mentions(docs, cfg), twins.mentions_hof(docs, cfg),
              f"corpus mentions {tag}")
        _same(
            mentions(edge, cfg), twins.mentions_hof(edge, cfg),
            f"edge mentions {tag}",
        )
        got = mentions(sdocs, cfg)
        assert dict(got.dtypes)["doc_id"] == "string"
        _same(got, twins.mentions_hof(sdocs, cfg),
              f"string doc_id mentions {tag}")


def test_ngram_rows_kernel_matches_explode_hof(spark, edge_docs):
    from pyspark.sql import functions as SF

    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        ngram_rows, ngrams_expr,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for n in (2, 3):
        hof = docs.select(
            "lang",
            SF.explode(
                ngrams_expr(SF.split("text", " "), n)
            ).alias("gram"),
        )
        _same(ngram_rows(docs, n, ["lang"]), hof, f"corpus {n}-grams")
    edge = edge_docs.withColumn("lang", SF.lit("xx"))
    hof = edge.select(
        "lang",
        SF.explode(ngrams_expr(SF.split("text", " "), 2)).alias("gram"),
    )
    _same(ngram_rows(edge, 2, ["lang"]), hof, "edge bigrams")


def test_fused_enum_score_matches_two_stage(spark):
    """enum_score_filter_number (the r7 single-kernel flagship path) must
    equal score_filter_number over the lengths candidate frame, incl.
    the R-numbering, on default and capped configs."""
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        enum_score_filter_number, score_filter_number,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )

    docs = load_documents(spark, SF_SMOKE)
    for kw in ({}, {"max_pairs_per_doc": 7}, {"data_format_mode": 1}):
        cfg = PipelineConfig(**kw)
        _same(
            enum_score_filter_number(docs, cfg),
            score_filter_number(candidates(docs, cfg, emit="lengths"), cfg),
            f"fused enum+score {kw}",
        )


def test_pagerank_symmetric_path_matches_general(spark):
    """integer_pagerank_adj(symmetric=True) must be bit-identical to the
    general path on symmetric inputs — the real co-action graph at smoke
    scale plus an adversarial synthetic (hub + cycle + pendant)."""
    from clinicaltransformerrelationextraction_spark.operators import graph

    real = graph._symmetrize(graph._user_edges(spark, SF_SMOKE))
    _same(
        graph.integer_pagerank_adj(real, symmetric=True),
        graph.integer_pagerank_adj(real),
        "user graph pagerank symmetric path",
    )
    und = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (5, 6), (7, 8), (8, 9)],
        "a long, b long",
    )
    sym = graph._symmetrize(und)
    _same(
        graph.integer_pagerank_adj(sym, hub_split=2, symmetric=True),
        graph.integer_pagerank_adj(sym, hub_split=2),
        "synthetic symmetric pagerank",
    )


def test_ivf_corpus_cells_match_window_form(spark):
    """The r7 aggregate-based corpus cell pick (max of (ccos, -label))
    must equal the old window's crank==1 row for every corpus vector."""
    from clinicaltransformerrelationextraction_spark.operators import (
        similarity as sim,
    )

    q = sim._q(spark, SF_SMOKE)
    cents = sim._centroids(spark, SF_SMOKE)
    assigned = twins.ivf_assign(
        q, cents,
        sim.cosine(F.col("qe"), F.col("centroid")), descending=True,
    )
    window_cells = assigned.filter(F.col("crank") == 1).select(
        "vec_id", F.col("label").alias("cell")
    )
    agg_cells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "label",
            sim.cosine(F.col("qe"), F.col("centroid")).alias("ccos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("ccos"), (-F.col("label")).alias("nl"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.nl")).cast("int").alias("cell"))
    )
    _same(agg_cells, window_cells, "ivf corpus cells")
