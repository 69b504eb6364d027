"""Degenerate-input robustness: the pipeline must survive empty corpora,
mention-free docs, single-token docs, and empty strings without crashing —
the inputs a 10^12-page crawl WILL contain."""

from __future__ import annotations

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
    sentences,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    run_brat,
    run_linked,
    run_pipeline,
)

CFG = PipelineConfig()


_SCHEMA = "doc_id long, text string, lang string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_empty_corpus(spark):
    docs = _docs(spark, [])
    assert candidates(docs, CFG).count() == 0
    assert run_pipeline(docs, CFG).triples.count() == 0
    assert run_linked(docs, CFG).count() == 0
    assert run_brat(docs, CFG).count() == 0


def test_degenerate_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "", "en"),                       # empty string
            (2, "nothing matches here at all", "en"),  # no mentions
            (3, "spark", "en"),                  # single token, one mention
            (4, "join", "en"),                   # single arg1 mention only
            (5, "join spark", "en"),             # exactly one valid pair
        ],
    )
    assert sentences(docs, CFG).count() >= 4
    men = mentions(docs, CFG)
    assert men.filter(F.col("doc_id") == 2).count() == 0
    cand = candidates(docs, CFG)
    got = {(r.doc_id, r.i1, r.i2) for r in cand.collect()}
    # only doc 5 has an (arg1, arg2) pair within the window
    assert got == {(5, 1, 2)}
    trip = run_pipeline(docs, CFG).triples
    assert trip.count() <= 1  # the single pair, if not NonRel
    # brat render still produces a row per doc with mentions
    ann = run_brat(docs, CFG)
    assert ann.filter(F.col("doc_id") == 5).count() == 1


def test_doc_exceeding_pair_cap(spark):
    """A pathological page (one hot domain) hits the per-doc cap: output
    is bounded and the cap accounting reports the drop — never silent."""
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidate_cap_stats,
    )

    text = " ".join(["join", "spark"] * 40)  # quadratic pair blowup
    docs = _docs(spark, [(1, text, "en")])
    cfg = PipelineConfig(max_pairs_per_doc=10)
    cand = candidates(docs, cfg)
    assert cand.count() == 10
    stats = candidate_cap_stats(docs, cfg).first()
    assert stats.n_docs_capped == 1
    assert stats.n_pairs_dropped == stats.n_pairs_total - 10
