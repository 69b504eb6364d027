"""Degenerate-input robustness: the pipeline must survive empty corpora,
mention-free docs, single-token docs, and empty strings without crashing —
the inputs a 10^12-page crawl WILL contain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    score_filter_number,
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
    segment_pages_udf,
    sentences,
)
from clinicaltransformerrelationextraction_spark.operators.tokenize import (
    tokenize_features,
    tokenize_features_uni,
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
    """Each degenerate doc, in a ``long`` doc_id frame and a copy keyed by
    ``string`` ids that do not parse as numbers: the row kernels keep the
    key's type, give no rows for NULL text, and give the same rows for
    both frames."""
    long_docs = _docs(
        spark,
        [
            (1, "", "en"),                       # empty string
            (2, "nothing matches here at all", "en"),  # no mentions
            (3, "spark", "en"),                  # single token, one mention
            (4, "join", "en"),                   # single arg1 mention only
            (5, "join spark", "en"),             # exactly one valid pair
            (6, None, "en"),                     # NULL text
        ],
    )
    str_docs = long_docs.withColumn("doc_id", F.concat(F.lit("d"), "doc_id"))
    kernel_rows = []
    for docs, p in ((long_docs, ""), (str_docs, "d")):
        id_type = docs.schema["doc_id"].dataType
        assert sentences(docs, CFG).count() >= 4
        men = mentions(docs, CFG)
        assert men.filter(F.col("doc_id") == f"{p}2").count() == 0
        cand = candidates(docs, CFG)
        got = {(r.doc_id, r.i1, r.i2) for r in cand.collect()}
        # only doc 5 has an (arg1, arg2) pair within the window
        assert got == {(f"{p}5" if p else 5, 1, 2)}
        trip = run_pipeline(docs, CFG).triples
        assert trip.count() <= 1  # the single pair, if not NonRel
        # brat render still produces a row per doc with mentions
        ann = run_brat(docs, CFG)
        assert ann.filter(F.col("doc_id") == f"{p}5").count() == 1

        uni = cand.select(
            "doc_id", "i1", "i2",
            F.concat_ws(" ", "s1_marked", "s2_marked").alias("uni_marked"),
        )
        pages = docs.select(F.col("doc_id").cast("string").alias("url"), "text")
        outs = [
            (tokenize_features(cand, CFG), "doc_id", id_type),
            (tokenize_features_uni(uni, CFG), "doc_id", id_type),
            (segment_pages_udf(pages, CFG), "url", StringType()),
        ]
        rows = []
        for out, key, key_type in outs:
            got = sorted((str(r[0]).removeprefix(p), *map(str, r[1:]))
                         for r in out.collect())
            assert out.schema[key].dataType == key_type
            assert "6" not in {r[0] for r in got}  # NULL text: no rows
            rows.append(got)
        feat, feat_uni, seg = rows
        assert [r[:3] for r in feat] == [r[:3] for r in feat_uni] == [
            ("5", "1", "2")
        ]
        # empty text is one empty sentence
        assert [r for r in seg if r[0] == "1"] == [("1", "0", "0", "0", "")]
        assert {r[0] for r in seg} == {"1", "2", "3", "4", "5"}
        kernel_rows.append(rows)
    assert kernel_rows[0] == kernel_rows[1]


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


def test_null_doc_id_fails_with_named_cause(spark):
    """A NULL doc_id (a NaN once a ``long`` column reaches pandas) stops
    the triples and brat passes, and ``score_filter_number`` over a
    candidate frame, with an error that names it, not a pandas
    ``IntCastingNaNError`` from the worker; ``mentions`` keeps the
    NULL-id rows as before."""
    frames = [
        spark.createDataFrame([(None, "join spark"), (1, "join spark")],
                              "doc_id long, text string"),
        spark.createDataFrame([(None, "join spark"), ("a", "join spark")],
                              "doc_id string, text string"),
    ]
    for docs in frames:
        for run in (lambda d: run_pipeline(d, CFG).triples,
                    lambda d: run_brat(d, CFG)):
            with pytest.raises(Exception,
                               match=r"1 document row\(s\) with a NULL doc_id"):
                run(docs).collect()
        cand = candidates(docs, CFG)
        n_null = cand.filter(F.col("doc_id").isNull()).count()
        assert n_null > 0
        with pytest.raises(Exception, match=rf"{n_null} candidate row\(s\) "
                                            "with a NULL doc_id"):
            score_filter_number(cand, CFG).collect()
        assert mentions(docs, CFG).filter(F.col("doc_id").isNull()).count() == 2
