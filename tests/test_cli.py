"""The CLI surface (the reference's relation_extraction/batch_prediction
argument shape) drives the whole engine end to end."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.cli import main
from clinicaltransformerrelationextraction_spark.config import (
    ENTP2REL,
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
)
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
)
from clinicaltransformerrelationextraction_spark.plans.ledger import LedgerRun
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_brat,
    run_pipeline,
)
from tests.conftest import SF_SMOKE


def _input(spark, tmp_path, n=120):
    docs = load_documents(spark, SF_SMOKE).limit(n)
    p = str(tmp_path / "docs_in")
    docs.write.mode("overwrite").parquet(p)
    return p, docs


def _n_docs_with_mentions(spark, inp, cfg=None) -> int:
    return mentions(spark.read.parquet(inp), cfg).select(
        "doc_id").distinct().count()


def _assert_brat_of_ledger(spark, inp, out):
    """``<out>/brat`` == the Catalyst twin over the ledger's triples:
    ``brat_render(mentions(docs), LedgerRun(out).triples(spark))``."""
    got = spark.read.parquet(out + "/brat")
    want = brat_render(mentions(spark.read.parquet(inp)),
                       LedgerRun(out_dir=out).triples(spark))
    assert got.dtypes == want.dtypes
    assert got.count() == want.count() == _n_docs_with_mentions(spark, inp)
    assert (got.exceptAll(want).count(), want.exceptAll(got).count()) == (
        0, 0)


def test_cli_predict_ledger(spark, tmp_path):
    inp, docs = _input(spark, tmp_path)
    out = str(tmp_path / "run")
    res = main(
        ["predict", "--input", inp, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    want = run_pipeline(docs, PipelineConfig()).triples.count()
    assert res["n_triples"] == want
    _assert_brat_of_ledger(spark, inp, out)
    # resume over a finished run is a no-op with the same totals
    res2 = main(
        ["resume", "--input", inp, "--output", out, "--n-buckets", "4"],
        spark=spark,
    )
    assert res2["n_triples"] == want


def test_cli_predict_binary_and_config_json(spark, tmp_path):
    inp, docs = _input(spark, tmp_path)
    out = str(tmp_path / "runb")
    cfg_file = tmp_path / "cfg.json"
    cfg_file.write_text(json.dumps({"max_pairs_per_doc": 500}))
    res = main(
        ["predict", "--input", inp, "--output", out, "--scorer", "binary",
         "--config-json", str(cfg_file)],
        spark=spark,
    )
    trip = LedgerRun(out_dir=out).triples(spark)
    assert res["n_triples"] == trip.count()
    labels = {r.pred for r in trip.select("pred").distinct().collect()}
    assert labels and "NonRel" not in labels
    assert labels <= set(ENTP2REL.values())
    assert spark.read.parquet(out + "/brat").count() == _n_docs_with_mentions(
        spark, inp, PipelineConfig(scorer="binary"))
    _assert_brat_of_ledger(spark, inp, out)


def test_cli_predict_finishes_crashed_run_with_whole_brat(spark, tmp_path):
    """``predict`` re-run on a crashed out_dir commits the pending buckets
    and renders brat for every doc, the committed buckets' docs included:
    one row per doc with mentions, equal to the twin over the ledger."""
    inp, _ = _input(spark, tmp_path)
    out = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="simulated failure"):
        LedgerRun(out_dir=out, n_buckets=4).run(
            spark.read.parquet(inp), PipelineConfig(), fail_after=2)
    main(["predict", "--input", inp, "--output", out, "--n-buckets", "4"],
         spark=spark)
    _assert_brat_of_ledger(spark, inp, out)


def test_cli_predict_jobs_are_one_ledger_write_plus_one_brat_write(
        spark, tmp_path):
    """``predict`` launches exactly the Spark jobs of one ledger write
    plus one ``run_brat`` write, and the brat write, one doc-row pass with
    no shuffle, launches the jobs of a plain triples write (no triples
    read-back, no groupBy, no join). ``predict`` scores once and writes
    both sinks from that persisted pass: building and reading the cache
    adds no job, so its count is still the two writes'. Job counts per job
    group, as in ``test_ledger_adds_no_spark_job``; the input is read
    outside the groups, so the schema read is not counted."""
    inp, _ = _input(spark, tmp_path)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    docs = spark.read.parquet(inp)
    triples = jobs("predict-triples", lambda: run_pipeline(
        docs).triples.write.parquet(str(tmp_path / "trip")))
    ledger = jobs("predict-ledger", lambda: LedgerRun(
        out_dir=str(tmp_path / "ledger"), n_buckets=4).run(docs))
    brat = jobs("predict-brat", lambda: run_brat(docs).write.parquet(
        str(tmp_path / "brat")))
    assert brat == triples >= 1
    read = jobs("predict-read", lambda: spark.read.parquet(inp))
    predict = jobs("predict-cli", lambda: main(
        ["predict", "--input", inp, "--output", str(tmp_path / "out"),
         "--n-buckets", "4"], spark=spark))
    assert predict == read + ledger + brat


def _counting_stub(acc):
    """A ``register_scorer`` factory: the stub, adding each call's row
    count to the accumulator ``acc``."""
    stub = SCORER_REGISTRY["stub"]

    def factory(cfg, labels):
        score = stub(cfg, labels)

        def scorer(pdf):
            acc.add(len(pdf))
            return score(pdf)

        return scorer

    return factory


def test_cli_predict_scores_each_pair_once(spark, tmp_path):
    """``predict`` hands the scorer each candidate pair once, into a fresh
    out_dir and into a crashed one (``fail_after=2``): the triples and brat
    come from one pass, which scores every doc once, the committed
    buckets' docs included. The crashed out_dir also gets whole brat and
    correct per-bucket doc counts."""
    acc = spark.sparkContext.accumulator(0)
    register_scorer("counting", _counting_stub(acc))
    try:
        inp, _ = _input(spark, tmp_path)
        docs = spark.read.parquet(inp)
        cfg = PipelineConfig(scorer="counting")
        pairs = candidates(docs, cfg).count()
        assert pairs > 0

        def scored(out):
            before = acc.value
            main(["predict", "--input", inp, "--output", out,
                  "--n-buckets", "4", "--scorer", "counting"], spark=spark)
            return acc.value - before

        assert scored(str(tmp_path / "fresh")) == pairs
        out = str(tmp_path / "crashed")
        with pytest.raises(RuntimeError, match="simulated failure"):
            LedgerRun(out_dir=out, n_buckets=4).run(docs, cfg, fail_after=2)
        assert scored(out) == pairs
        _assert_brat_of_ledger(spark, inp, out)
        ledger = LedgerRun(out_dir=out, n_buckets=4)._read_ledger()
        assert sum(v["n_docs"] for v in ledger.values()) == docs.count()
    finally:
        SCORER_REGISTRY.pop("counting", None)


def test_cli_predict_leaves_no_cached_pass(spark, tmp_path):
    """The pass ``predict`` persists is unpersisted when it returns and
    when its scorer raises: the session's cache manager is empty after
    both."""
    def boom(cfg, labels):
        def scorer(pdf):
            raise ValueError("the scorer failed on purpose")

        return scorer

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    register_scorer("boom", boom)
    try:
        inp, _ = _input(spark, tmp_path, n=40)
        main(["predict", "--input", inp, "--output", str(tmp_path / "ok"),
              "--n-buckets", "2"], spark=spark)
        assert cache.isEmpty()
        with pytest.raises(Exception, match="the scorer failed on purpose"):
            main(["predict", "--input", inp, "--output",
                  str(tmp_path / "boom"), "--n-buckets", "2", "--scorer",
                  "boom"], spark=spark)
        assert cache.isEmpty()
    finally:
        SCORER_REGISTRY.pop("boom", None)


def test_cli_eval(spark, tmp_path):
    inp, docs = _input(spark, tmp_path)
    trip = run_pipeline(docs, PipelineConfig()).triples
    g = str(tmp_path / "gold")
    s = str(tmp_path / "sys")
    trip.write.mode("overwrite").parquet(g)
    # system = gold minus one doc -> recall < 1, precision = 1
    some_doc = trip.select("doc_id").first().doc_id
    trip.filter(F.col("doc_id") != some_doc).write.mode(
        "overwrite"
    ).parquet(s)
    res = main(["eval", "--system", s, "--gold", g], spark=spark)
    assert res["precision"] == 1.0 and res["recall"] < 1.0
    assert res["fn"] > 0 and res["fp"] == 0


def test_cli_eval_reads_resumed_predict_output(spark, tmp_path):
    """A crashed run finished by ``resume`` holds two run directories
    under triples/data/; ``eval --system <out_dir>`` reads the ledger's
    manifest, so it sees each committed bucket once."""
    inp, docs = _input(spark, tmp_path)
    out = str(tmp_path / "resumed")
    run = LedgerRun(out_dir=out, n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(docs, PipelineConfig(), fail_after=2)
    main(["resume", "--input", inp, "--output", out, "--n-buckets", "4"],
         spark=spark)
    g = str(tmp_path / "gold")
    run_pipeline(docs, PipelineConfig()).triples.write.parquet(g)
    res = main(["eval", "--system", out, "--gold", g], spark=spark)
    assert res["tp"] > 0 and res["fp"] == res["fn"] == 0
    assert res["precision"] == res["recall"] == 1.0


def test_cli_featurize_training_handoff(spark, tmp_path):
    """featurize writes the reference's 8-column TSV contract: train + dev
    partition the candidate set, rows round-trip through the no-quoting
    TSV reader, labels.json carries the label->idx map."""
    import json as _json

    from clinicaltransformerrelationextraction_spark.config import LABELS
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidates,
    )
    from clinicaltransformerrelationextraction_spark.sources.tsv import (
        TSV_COLUMNS,
        read_candidates_tsv,
    )

    inp, docs = _input(spark, tmp_path)
    out = str(tmp_path / "feat")
    res = main(["featurize", "--input", inp, "--output", out], spark=spark)
    n_cand = candidates(docs, PipelineConfig()).count()
    assert res["n_train"] + res["n_dev"] == n_cand
    assert 0 < res["n_dev"] < n_cand  # the md5 fold split is non-trivial
    tr = read_candidates_tsv(spark, out + "/train.tsv")
    assert tr.columns == TSV_COLUMNS
    row = tr.filter(F.col("label") != "NonRel").first()
    assert row is not None
    assert row.label in LABELS
    assert "[s1]" in row.sentence_1 and "[s2]" in row.sentence_2
    with open(out + "/labels.json") as f:
        lab = _json.load(f)
    assert lab == {l: i for i, l in enumerate(LABELS)}


def test_cli_custom_scorer_name_accepted(spark, tmp_path):
    """--scorer takes ANY register_scorer() name (the documented CLI
    extension contract — argparse must not pre-restrict choices), and an
    unknown name fails with the registry's descriptive error, not an
    argparse exit."""
    import pytest

    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        SCORER_REGISTRY,
        register_scorer,
    )

    register_scorer(
        "mine", lambda cfg, labels: SCORER_REGISTRY["stub"](cfg, labels)
    )

    try:
        inp, docs = _input(spark, tmp_path, n=40)
        out = str(tmp_path / "runc")
        res = main(
            ["predict", "--input", inp, "--output", out, "--scorer", "mine"],
            spark=spark,
        )
        assert res["n_triples"] == run_pipeline(
            docs, PipelineConfig()
        ).triples.count()
        _assert_brat_of_ledger(spark, inp, out)
        with pytest.raises(ValueError, match="unknown scorer 'nope'"):
            main(
                ["predict", "--input", inp, "--output",
                 str(tmp_path / "runx"), "--scorer", "nope"],
                spark=spark,
            )
    finally:
        SCORER_REGISTRY.pop("mine", None)


def test_cli_analyze(spark, tmp_path):
    """analyze runs the selected corpus analytics over an sf-style dir
    and writes one parquet per analysis, matching the query outputs."""
    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        CONTAM_PROBES,
        q_pack_bins,
    )

    out = str(tmp_path / "analysis")
    res = main(
        ["analyze", "--input", SF_SMOKE, "--output", out,
         "--queries", "contamination", "pack_bins"],
        spark=spark,
    )
    assert set(res) == {"contamination", "pack_bins"}
    assert res["contamination"] == len(CONTAM_PROBES)
    back = spark.read.parquet(out + "/contamination")
    assert back.count() == res["contamination"]
    back = spark.read.parquet(out + "/pack_bins")
    want = q_pack_bins(spark, SF_SMOKE)
    assert back.count() == res["pack_bins"] == want.count()
    # zero-match probe survives as an explicit zero row
    row = (
        spark.read.parquet(out + "/contamination")
        .filter(F.col("probe") == "zz_never zz_seen zz_gone")
        .first()
    )
    assert row is not None and row.n_docs == 0


def test_cli_analyze_unknown_query(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            ["analyze", "--input", SF_SMOKE,
             "--output", str(tmp_path / "x"), "--queries", "nope"],
            spark=spark,
        )


def test_cli_stream_triples_incremental(spark, tmp_path):
    """The stream subcommand drains an input dir through the streaming
    triple pipeline; a second drain with the same (default) checkpoint
    processes only newly-added files, and the cumulative output equals
    the batch pipeline over everything seen."""
    docs = load_documents(spark, SF_SMOKE)
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "stream_out")
    docs.filter(F.col("doc_id") < 80).write.mode("append").parquet(in_dir)
    res1 = main(
        ["stream", "--mode", "triples", "--input", in_dir, "--output", out],
        spark=spark,
    )
    assert res1["out_rows_total"] > 0
    assert res1["checkpoint"] == out + "/_checkpoint"

    docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 120)).write.mode(
        "append"
    ).parquet(in_dir)
    res2 = main(
        ["stream", "--mode", "triples", "--input", in_dir, "--output", out],
        spark=spark,
    )
    batch = run_pipeline(
        spark.read.parquet(in_dir), PipelineConfig()
    ).triples.count()
    assert res2["out_rows_total"] == batch > res1["out_rows_total"]


def test_cli_stream_pages_latest(spark, tmp_path):
    """pages-latest mode through the CLI: after one full drain, the
    last-emission-per-url compaction of the streamed changelog equals
    the batch latest-crawl query."""
    from pyspark.sql import Window as W

    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        q_pages_latest,
    )

    in_dir = str(tmp_path / "pages_in")
    out = str(tmp_path / "latest_out")
    load_documents(spark, SF_SMOKE).write.parquet(in_dir)
    res = main(
        ["stream", "--mode", "pages-latest", "--input", in_dir,
         "--output", out, "--checkpoint", str(tmp_path / "ck")],
        spark=spark,
    )
    assert res["out_rows_total"] > 0
    emitted = spark.read.parquet(out)
    w = W.partitionBy("url").orderBy(F.col("n_crawls").desc())
    compacted = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    want = q_pages_latest(spark, SF_SMOKE)
    assert compacted.count() == want.count()
    assert compacted.exceptAll(want).count() == 0


def test_cli_stream_sessionize(spark, tmp_path):
    """sessionize mode dispatch: one drain through the CLI, canonical
    fold equals the batch twin (the deep two-drain semantics live in
    tests/test_stateful_cogroup.py)."""
    from datetime import datetime

    from clinicaltransformerrelationextraction_spark.streaming.sessionize import (
        sessions_canonical,
    )
    from tests.catalyst_twins import sessionize_batch

    in_dir = str(tmp_path / "ev_in")
    out = str(tmp_path / "sess_out")
    rows = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 10)),
        (1, datetime(2024, 1, 1, 12, 0)),
        (2, datetime(2024, 1, 1, 9, 0)),
    ]
    spark.createDataFrame(rows, ["user_id", "ts"]).write.parquet(in_dir)
    res = main(
        ["stream", "--mode", "sessionize", "--input", in_dir,
         "--output", out],
        spark=spark,
    )
    assert res["out_rows_total"] == 3  # two user-1 sessions + one user-2
    got = sessions_canonical(spark.read.parquet(out))
    want = sessionize_batch(spark.read.parquet(in_dir))
    assert got.count() == want.count() == 3
