"""Candidate enumeration must equal the pure-Python reference
(``tests.reference_impl.reference_candidates``) for both ``candidates``
emits, and the doc-row triples kernel behind ``run_pipeline`` must keep
the same pairs. The Catalyst and relational formulations measured in
BENCH.md are gone from the package."""

from __future__ import annotations

import dataclasses

import pytest

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_pipeline,
)
from tests.conftest import SF_SMOKE
from tests.reference_impl import reference_candidates


def _triples_keys(docs, cfg):
    # no label is the NonRel label, so every candidate becomes a triple
    return run_pipeline(docs, dataclasses.replace(cfg, non_rel="")).triples


VARIANTS = {
    "candidates text": candidates,
    "candidates lengths": lambda docs, cfg: candidates(docs, cfg,
                                                       emit="lengths"),
    "triples keys": _triples_keys,
}

NON_CROSS_PRODUCT = [("ADE", "Drug"), ("Reason", "Form")]


@pytest.mark.parametrize("cfg", [
    PipelineConfig(),
    PipelineConfig(max_pairs_per_doc=7),
    PipelineConfig(max_pairs_per_doc=0),
    PipelineConfig(valid_combs=NON_CROSS_PRODUCT),
], ids=["default", "cap7", "cap0", "non_cross_product"])
def test_candidates_equal_reference(spark, cfg):
    """Every column of both emits, including the capped kept set and its
    enumeration order, equals the itertools reference. Beside the smoke
    corpus runs one long page: a Drug every 5 tokens and an arg1 mention
    every few hundred, so each arg1's window is a short slice of many
    arg2 mentions and the cap stops the doc partway."""
    long_doc = " ".join(
        "join" if i % 297 == 13 else "merge" if i % 411 == 200
        else "spark" if i % 5 == 0 else "w" for i in range(2500))
    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text").union(
        spark.createDataFrame([(10**9, long_doc)], "doc_id long, text string"))
    want = sorted(reference_candidates(
        docs.select("doc_id", "text").collect(), cfg))
    assert want, "no candidates: the comparison is vacuous"
    assert sorted(map(tuple, candidates(docs, cfg).collect())) == want
    want_lengths = sorted(
        r[:5] + (len(r[5]), len(r[6])) + r[7:] for r in want)
    got_lengths = candidates(docs, cfg, emit="lengths").collect()
    assert sorted(map(tuple, got_lengths)) == want_lengths


def test_non_cross_product_comb_config(spark):
    """Exact tuple membership (ADVICE): with a combo set that is NOT the
    cross product of its projected type sets, every formulation must keep
    only the listed tuples — verified against an itertools reference over
    the raw mention lists."""
    from itertools import permutations

    from pyspark.sql import functions as F

    cfg = PipelineConfig(valid_combs=NON_CROSS_PRODUCT)
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

    for name, variant in VARIANTS.items():
        got = {
            (r.doc_id, r.i1, r.i2)
            for r in variant(docs, cfg).select("doc_id", "i1", "i2").collect()
        }
        assert got == want, name
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


def test_stream_candidates_equal_batch(spark, tmp_path):
    """A streaming frame runs the same doc-row kernel, for both emits."""
    docs = load_documents(spark, SF_SMOKE).filter("doc_id < 60")
    docs.write.parquet(str(tmp_path / "in"))
    for emit in ("text", "lengths"):
        stream = spark.readStream.schema(docs.schema).parquet(
            str(tmp_path / "in"))
        out = str(tmp_path / f"out_{emit}")
        candidates(stream, PipelineConfig(), emit=emit).writeStream.format(
            "parquet").option("path", out).option(
            "checkpointLocation", str(tmp_path / f"ck_{emit}")).trigger(
            availableNow=True).start().awaitTermination()
        want = candidates(docs, PipelineConfig(), emit=emit).collect()
        got = spark.read.parquet(out).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)) != [], emit
