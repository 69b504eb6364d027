"""The doc-row kernel (``scoring.enum_score_filter_number``) is
``run_pipeline``'s only path. It must equal the two-stage form (the
pure-Python reference candidates of ``tests/reference_impl.py``, then
``score_filter_number``) exactly, scores included,
for every backend and under any salting, Arrow batch size and scorer batch
size; it must honour the ``register_scorer`` contract; and frames built
without marked strings must fail with an error naming the cause."""

from __future__ import annotations

import functools
import itertools
import json

import numpy as np
import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    SCORER_REGISTRY,
    register_scorer,
    score_candidates,
    score_filter_number,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_pipeline,
)
from tests.conftest import SF_SMOKE
from tests.reference_impl import reference_candidates

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _reference_frame(spark, docs, cfg) -> DataFrame:
    """The reference's text candidates as a frame; ``score_filter_number``
    needs each doc's rows contiguous within one partition."""
    rows = reference_candidates(docs.select("doc_id", "text").collect(), cfg)
    return spark.createDataFrame(
        rows,
        "doc_id long, ent_id_1 string, ent_id_2 string, ent_type_1 string, "
        "ent_type_2 string, s1_marked string, s2_marked string, "
        "sent_diff int, i1 int, i2 int",
    ).repartition("doc_id").sortWithinPartitions("doc_id")


def _set_arrow_batch(spark, n):
    prev = spark.conf.get(ARROW_BATCH, None)
    spark.conf.set(ARROW_BATCH, str(n))
    return prev


def _restore_arrow_batch(spark, prev):
    if prev is None:
        spark.conf.unset(ARROW_BATCH)
    else:
        spark.conf.set(ARROW_BATCH, prev)


@pytest.mark.parametrize("scorer", ["stub", "mlp", "npt"])
def test_kernel_triples_equal_two_stage(spark, scorer):
    # npt runs a per-row transformer forward: a corpus slice keeps the
    # grid affordable
    docs = load_documents(spark, SF_SMOKE)
    if scorer == "npt":
        docs = docs.filter(F.col("doc_id") < 150)
    combos = list(itertools.product((False, True), (1, 1024)))
    for kw in ({}, {"max_pairs_per_doc": 7}, {"data_format_mode": 1}):
        cfg = PipelineConfig(scorer=scorer, **kw)
        want = _rows(score_filter_number(
            _reference_frame(spark, docs, cfg), cfg))
        assert want, "no triples: the comparison is vacuous"
        # every (salt, batch_size) combination in one job
        runs = functools.reduce(DataFrame.unionByName, [
            run_pipeline(
                docs, PipelineConfig(scorer=scorer, batch_size=bs, **kw),
                salt=salt,
            ).triples.withColumn("combo", F.lit(i))
            for i, (salt, bs) in enumerate(combos)
        ])
        for arrow_batch in (1, 2, 1024):
            prev = _set_arrow_batch(spark, arrow_batch)
            try:
                got = [[] for _ in combos]
                for r in runs.collect():
                    got[r.combo].append(tuple(r)[:-1])
            finally:
                _restore_arrow_batch(spark, prev)
            for (salt, bs), rows in zip(combos, got):
                assert sorted(rows) == want, (kw, arrow_batch, salt, bs)


def test_scorer_contract_through_run_pipeline(spark, tmp_path):
    """A registered text backend sees candidates(emit="text")'s columns,
    in batches of at most batch_size + max_pairs_per_doc rows, covering
    every candidate exactly once."""
    log = str(tmp_path / "calls.jsonl")

    def factory(cfg, labels):
        def scorer(pdf):
            with open(log, "a") as f:
                f.write(json.dumps({"cols": list(pdf.columns),
                                    "n": len(pdf)}) + "\n")
            idx = (pdf["i1"].to_numpy(np.int64) % len(labels))
            return idx, np.full(len(pdf), 0.5)

        return scorer

    register_scorer("recording", factory)
    try:
        cfg = PipelineConfig(scorer="recording", batch_size=50,
                             max_pairs_per_doc=7)
        docs = load_documents(spark, SF_SMOKE)
        n_trip = run_pipeline(docs, cfg).triples.count()
        cand = candidates(docs, cfg, emit="text")
        with open(log) as f:
            calls = [json.loads(line) for line in f]
    finally:
        SCORER_REGISTRY.pop("recording")
    assert calls and n_trip > 0
    assert all(c["cols"] == cand.columns for c in calls)
    assert max(c["n"] for c in calls) <= (
        cfg.batch_size + cfg.max_pairs_per_doc)
    assert sum(c["n"] for c in calls) == cand.count()


def test_lengths_frame_fails_with_named_cause(spark):
    docs = load_documents(spark, SF_SMOKE)
    lens = candidates(docs, PipelineConfig(), emit="lengths")
    mlp = PipelineConfig(scorer="mlp")
    with pytest.raises(ValueError, match='emit="lengths"'):
        score_candidates(lens, PipelineConfig(), keep_text=True)
    with pytest.raises(ValueError, match='emit="lengths"'):
        score_candidates(lens, mlp)
    with pytest.raises(ValueError, match='emit="lengths"'):
        score_filter_number(lens, mlp)
    # a lengths backend still scores a lengths frame
    assert score_filter_number(lens, PipelineConfig()).count() > 0


def test_stream_triples_text_backend_columns(spark, tmp_path):
    """Streams run the kernel for a text backend too, and write the
    pre-kernel stream schema: the batch triples without rel_id."""
    from clinicaltransformerrelationextraction_spark.streaming import (
        stream_pipeline,
    )

    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 60)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs.write.parquet(in_dir)
    cfg = PipelineConfig(scorer="mlp")
    stream_pipeline.stream_triples(spark, in_dir, out_dir,
                                   str(tmp_path / "ckpt"), cfg)
    got = spark.read.parquet(out_dir)
    assert got.dtypes == [
        ("doc_id", "bigint"), ("pred", "string"), ("subj_id", "string"),
        ("obj_id", "string"), ("score", "double"), ("sent_diff", "int"),
        ("i1", "int"), ("i2", "int"),
    ]
    want = run_pipeline(spark.read.parquet(in_dir), cfg).triples.drop(
        "rel_id")
    assert _rows(got) == _rows(want) != []


def test_mlp_scores_are_row_invariant():
    """A row's mlp score is the same bit for bit whatever batch it is
    scored in, and within float tolerance of the dense ``tanh(x @ w1)
    @ w2`` form (whose BLAS reduction order depends on the row count)."""
    import zlib

    import pandas as pd

    from clinicaltransformerrelationextraction_spark.operators import (
        scoring,
    )

    cfg = PipelineConfig(scorer="mlp")
    labels = list(cfg.labels)
    rng = np.random.default_rng(3)
    words = ["spark", "join", "a", "b", "é", "", "table", "x"]
    pdf = pd.DataFrame({
        "s1_marked": [
            "[s1] " + " ".join(rng.choice(words, k)) + " [e1]"
            for k in rng.integers(1, 30, 300)
        ],
        "s2_marked": [
            " ".join(rng.choice(words, k)) + " [s2] spark [e2]"
            for k in rng.integers(1, 30, 300)
        ],
    })
    scorer = scoring._make_mlp_scorer(cfg, labels)
    idx, score = scorer(pdf)
    for lo, hi in ((0, 1), (7, 9), (10, 300)):
        i, s = scorer(pdf.iloc[lo:hi].reset_index(drop=True))
        assert np.array_equal(i, idx[lo:hi])
        assert np.array_equal(s, score[lo:hi])

    feat, half = scoring.FEAT_DIM, scoring.FEAT_DIM // 2
    r = np.random.default_rng(13)
    w1 = r.standard_normal((feat, scoring.HIDDEN_DIM)) / np.sqrt(feat)
    w2 = r.standard_normal((scoring.HIDDEN_DIM, len(labels)))
    w2 /= np.sqrt(scoring.HIDDEN_DIM)
    x = np.zeros((len(pdf), feat))
    for row, (a, b) in enumerate(zip(pdf["s1_marked"], pdf["s2_marked"])):
        for t in a.split(" "):
            x[row, zlib.crc32(t.encode()) % half] += 1.0
        for t in b.split(" "):
            x[row, half + zlib.crc32(t.encode()) % half] += 1.0
    logits = np.tanh(x @ w1) @ w2
    ex = np.exp(logits - logits.max(axis=1, keepdims=True))
    probs = ex / ex.sum(axis=1, keepdims=True)
    assert np.array_equal(logits.argmax(axis=1), idx)
    np.testing.assert_allclose(probs[np.arange(len(idx)), idx], score,
                               rtol=1e-12)
