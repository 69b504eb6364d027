"""Candidate enumeration forms must agree: the Catalyst form
(``candidates_indexed``), the doc-row lengths kernel, and the doc-row
triples kernel behind ``run_pipeline``. The relational formulations
measured in BENCH.md are gone from the package."""

from __future__ import annotations

import dataclasses

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators import (
    candidates as C,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


def _triples_keys(docs, cfg):
    # no label is the NonRel label, so every candidate becomes a triple
    return run_pipeline(docs, dataclasses.replace(cfg, non_rel="")).triples


VARIANTS = [
    C.candidates_indexed,
    C.candidates_lengths_kernel,
    _triples_keys,
]


def test_non_cross_product_comb_config(spark):
    """Exact tuple membership (ADVICE): with a combo set that is NOT the
    cross product of its projected type sets, every formulation must keep
    only the listed tuples — verified against an itertools reference over
    the raw mention lists."""
    from itertools import permutations

    from pyspark.sql import functions as F

    cfg = PipelineConfig(
        valid_combs=[("ADE", "Drug"), ("Reason", "Form")]
    )
    docs = load_documents(spark, SF_SMOKE).limit(150)

    # itertools reference straight from the token stream
    want = set()
    for r in docs.select("doc_id", "text").collect():
        toks = r.text.split(" ")
        ms = [
            (i + 1, cfg.ent_vocab.get(t), i // cfg.sent_len)
            for i, t in enumerate(toks)
            if t in cfg.ent_vocab
        ]
        for a, b in permutations(ms, 2):
            if (
                (a[1], b[1]) in cfg.valid_combs
                and abs(a[2] - b[2]) <= cfg.cutoff
            ):
                want.add((r.doc_id, a[0], b[0]))

    for variant in VARIANTS:
        got = {
            (r.doc_id, r.i1, r.i2)
            for r in variant(docs, cfg).select("doc_id", "i1", "i2").collect()
        }
        assert got == want, variant.__name__
    # the cross product of projected type sets would ALSO admit
    # (ADE, Form) / (Reason, Drug) pairs — prove the corpus has some, so
    # this test actually discriminates
    cross_only = set()
    for r in docs.select("doc_id", "text").collect():
        toks = r.text.split(" ")
        ms = [
            (i + 1, cfg.ent_vocab.get(t), i // cfg.sent_len)
            for i, t in enumerate(toks)
            if t in cfg.ent_vocab
        ]
        for a, b in permutations(ms, 2):
            if (
                (a[1], b[1]) in {("ADE", "Form"), ("Reason", "Drug")}
                and abs(a[2] - b[2]) <= cfg.cutoff
            ):
                cross_only.add((r.doc_id, a[0], b[0]))
    assert cross_only, "corpus lacks discriminating pairs"
    assert not (cross_only & want)
