"""The doc-row kernel (``scoring.enum_score_filter_number``) is
``run_pipeline``'s only path. It must equal the two-stage form (the
pure-Python reference candidates of ``tests/reference_impl.py``, then
``score_filter_number``) exactly, scores included,
for every backend and under any salting, Arrow batch size and scorer batch
size; it must honour the ``register_scorer`` contract; and frames built
without marked strings must fail with an error naming the cause.

``run_brat`` is the same pass rendering brat ``.ann`` text; it must equal
its Catalyst twin ``brat_render(mentions(docs), run_pipeline(docs)
.triples)`` on the smoke corpus plus edge docs under the same layouts."""

from __future__ import annotations

import functools
import itertools
import json
from collections import Counter

import numpy as np
import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import (
    ENTP2REL,
    STUB_W2,
    STUB_W3,
    VALID_COMBS,
    PipelineConfig,
)
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from clinicaltransformerrelationextraction_spark.operators.postprocess import (
    brat_render,
)
from clinicaltransformerrelationextraction_spark.operators.scoring import (
    SCORER_REGISTRY,
    register_scorer,
    score_candidates,
    score_filter_number,
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_brat,
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


@pytest.mark.parametrize("scorer", ["stub", "mlp", "npt", "binary"])
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


def _binary_reference(rows, cfg) -> list[tuple]:
    """Binary mode by hand over the reference candidates: REL iff the
    stub sum is odd, the label from ENTP2REL (a REL pair outside it has
    none and is dropped), R-numbered per doc in (sent_diff, i1, i2)
    order."""
    kept: dict = {}
    for did, e1, e2, t1, t2, s1, s2, sd, i1, i2 in reference_candidates(
            rows, cfg):
        raw = len(s1) + STUB_W2 * len(s2) + STUB_W3 * (i1 + i2)
        if raw % 2 == 1 and (t1, t2) in ENTP2REL:
            kept.setdefault(did, []).append(
                (sd, i1, i2, ENTP2REL[t1, t2], e1, e2))
    return sorted(
        (did, f"R{n}", rel, e1, e2, 1.0, sd, i1, i2)
        for did, pairs in kept.items()
        for n, (sd, i1, i2, rel, e1, e2) in enumerate(sorted(pairs), 1)
    )


def test_binary_unmapped_type_pair_yields_no_triple(spark):
    """A valid combination the relation map lacks still makes candidates,
    some of them REL, but never a triple; numbering skips them."""
    extra = ("Drug", "ADE")
    assert extra not in ENTP2REL
    cfg = PipelineConfig(scorer="binary", valid_combs=[*VALID_COMBS, extra])
    docs = load_documents(spark, SF_SMOKE)
    rows = docs.select("doc_id", "text").collect()
    assert any(
        (t1, t2) == extra
        and (len(s1) + STUB_W2 * len(s2) + STUB_W3 * (i1 + i2)) % 2 == 1
        for _, _, _, t1, t2, s1, s2, _, i1, i2 in reference_candidates(
            rows, cfg)
    ), "no REL pair of the unmapped combination: the check is vacuous"
    got = _rows(run_pipeline(docs, cfg).triples)
    assert got and got == _binary_reference(rows, cfg)


def test_binary_labels_missing_a_relation_fail_at_plan_time(spark):
    """Labels that lack NonRel or a mapped relation raise a ValueError
    naming the label before any Spark job runs."""
    docs = load_documents(spark, SF_SMOKE)
    sc = spark.sparkContext
    group = "binary-labels"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="emits label 'fr'"):
            run_pipeline(docs, PipelineConfig(
                scorer="binary", labels=["NonRel", "adverse", "reason", "do"]))
        with pytest.raises(ValueError, match="emits label 'NonRel'"):
            run_pipeline(docs, PipelineConfig(
                scorer="binary", labels=["adverse", "reason", "do", "fr"]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


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


# brat edge docs: each must render exactly as the Catalyst twin does
BRAT_EDGES = [
    None,                            # NULL text -> no row
    "",                              # empty text -> no row
    "the fast order batch",          # no mentions -> no row
    "spark the table",               # Drug mentions only: no valid pair
    "héllo key wörld spark ü",       # unicode tokens shift the offsets
    "spark",                         # single token, one mention
    "key  spark",                    # consecutive spaces: an empty token
]


# per scorer, a doc whose one candidate pair (ADE "key" -> Drug "spark")
# is scored NonRel: its brat row has T lines and no R line
ALL_NONREL = {"stub": "key xxx spark", "mlp": "key fast fast spark",
              "binary": "key x spark"}


@pytest.mark.parametrize("scorer", ["stub", "mlp", "binary"])
def test_brat_pass_equals_catalyst_twin(spark, scorer):
    """``run_brat`` == ``brat_render(mentions, run_pipeline triples)`` as
    a multiset of (doc_id, ann_text), with the same schema, under Arrow
    batch {1, 1024} x batch_size {1, 1024} x salt {off, on}: the smoke
    corpus plus the edge docs with long doc_ids, and (for the stub: the id
    type does not reach the scorer) a slice of it with string doc_ids.
    exceptAll both ways plus per-layout row counts."""
    cfg = PipelineConfig(scorer=scorer)
    nonrel = ALL_NONREL[scorer]
    assert reference_candidates([(0, nonrel)], cfg), "no pair: vacuous"
    edges = [*BRAT_EDGES, nonrel]
    long_ids = load_documents(spark, SF_SMOKE).select(
        "doc_id", "text").unionByName(spark.createDataFrame(
            [(10_000 + i, t) for i, t in enumerate(edges)],
            "doc_id long, text string"))
    str_ids = long_ids.filter(
        (F.col("doc_id") < 40) | (F.col("doc_id") >= 10_000)
    ).withColumn("doc_id", F.concat(F.lit("d"), F.col("doc_id")))
    combos = list(itertools.product((False, True), (1, 1024)))

    def tagged(df, tag, combo):
        return df.select(F.lit(tag).alias("corpus"),
                         F.lit(combo).alias("combo"),
                         F.col("doc_id").cast("string"), "ann_text")

    twins, runs = [], []
    corpora = (long_ids, str_ids) if scorer == "stub" else (long_ids,)
    for tag, docs in enumerate(corpora):
        twin = brat_render(mentions(docs, cfg),
                           run_pipeline(docs, cfg).triples)
        twins.append(tagged(twin, tag, -1))
        for i, (salt, bs) in enumerate(combos):
            got = run_brat(docs, PipelineConfig(scorer=scorer, batch_size=bs),
                           salt=salt)
            assert got.dtypes == twin.dtypes, (tag, got.dtypes)
            runs.append(tagged(got, tag, i))
    twin_rows = functools.reduce(DataFrame.unionByName, twins).collect()
    ann = {(c, d): a for c, _, d, a in twin_rows}
    for tag in range(len(corpora)):
        ids = [f"{'d' * tag}{10_000 + i}" for i in range(len(edges))]
        # rows exactly for the edge docs with mentions
        assert [(tag, d) in ann for d in ids] == [
            False, False, False, True, True, True, True, True]
        assert "\nR" not in ann[tag, ids[-1]]
    assert any("\nR" in a for a in ann.values()), "no R lines: vacuous"
    want_rows = [(c, i, d, a) for c, _, d, a in twin_rows
                 for i in range(len(combos))]
    runs = functools.reduce(DataFrame.unionByName, runs)
    schema = "corpus int, combo int, doc_id string, ann_text string"
    got_rows = []
    for arrow_batch in (1, 1024):
        prev = _set_arrow_batch(spark, arrow_batch)
        try:
            rows = runs.collect()
        finally:
            _restore_arrow_batch(spark, prev)
        assert Counter(r[:2] for r in rows) == Counter(
            r[:2] for r in want_rows), arrow_batch
        got_rows += rows
    got = spark.createDataFrame(got_rows, schema)
    want = spark.createDataFrame(want_rows * 2, schema)
    assert (got.exceptAll(want).count(), want.exceptAll(got).count()) == (
        0, 0)
