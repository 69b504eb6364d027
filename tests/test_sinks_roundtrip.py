"""Brat parse∘render round-trip property, and the Parquet codec of the
product sinks (zstd; the ledger reads a table whose snapshots were
written under two codecs)."""

from __future__ import annotations

import glob
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.cli import main
from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators.segmentation import (
    mentions,
)
from clinicaltransformerrelationextraction_spark.plans.ledger import LedgerRun
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents,
    run_brat,
    run_pipeline,
)
from clinicaltransformerrelationextraction_spark.sources.brat import (
    parse_ann_lines,
)
from tests.conftest import SF_SMOKE

CFG = PipelineConfig()


def test_brat_roundtrip_property(spark):
    """parse(render(mentions, triples)) == (mentions, triples): the brat
    renderer and parser are exact inverses over the whole smoke corpus
    (C7 round-trip; line shapes data_format_conf.py:2, brat_eval.py:95-126).
    """
    docs = load_documents(spark, SF_SMOKE)
    men = mentions(docs, CFG)
    trip = run_pipeline(docs, CFG).triples
    ann = run_brat(docs, CFG)
    lines = ann.select(
        "doc_id", F.explode(F.split("ann_text", "\n")).alias("value")
    )
    parsed_m, parsed_r = parse_ann_lines(lines)

    want_m = men.select(
        "doc_id", "mention_id", "ent_type", "start", "end", "surface"
    )
    got_m = parsed_m.select(
        "doc_id", "mention_id", "ent_type", "start", "end", "surface"
    )
    assert got_m.count() == want_m.count()
    assert got_m.exceptAll(want_m).count() == 0
    assert want_m.exceptAll(got_m).count() == 0

    want_r = trip.select(
        "doc_id", "rel_id", F.col("pred").alias("rel_type"),
        F.col("subj_id").alias("arg1"), F.col("obj_id").alias("arg2"),
    )
    got_r = parsed_r.select("doc_id", "rel_id", "rel_type", "arg1", "arg2")
    assert got_r.count() == want_r.count()
    assert got_r.exceptAll(want_r).count() == 0
    assert want_r.exceptAll(got_r).count() == 0


CODEC = "spark.sql.parquet.compression.codec"


def _codecs(root: str) -> set[str]:
    """The codec of every column chunk of every Parquet file under
    ``root``, as the files' own metadata records it."""
    files = glob.glob(f"{root}/**/*.parquet", recursive=True)
    assert files, root
    codecs = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        codecs |= {md.row_group(g).column(c).compression
                   for g in range(md.num_row_groups)
                   for c in range(md.num_columns)}
    return codecs


def test_product_sinks_write_zstd(spark, tmp_path):
    """``cli predict`` writes the ledger's triples and ``<out>/brat`` as
    zstd Parquet, and so does the resume of a crashed run."""
    inp = str(tmp_path / "docs_in")
    load_documents(spark, SF_SMOKE).limit(120).write.parquet(inp)
    argv = ["--input", inp, "--n-buckets", "4"]
    out = str(tmp_path / "predict")
    main(["predict", "--output", out, *argv], spark=spark)
    assert _codecs(f"{out}/triples/data") == {"ZSTD"}
    assert _codecs(f"{out}/brat") == {"ZSTD"}
    out = str(tmp_path / "crashed")
    run = LedgerRun(out_dir=out, n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated failure"):
        run.run(spark.read.parquet(inp), CFG, fail_after=2)
    main(["resume", "--output", out, *argv], spark=spark)
    assert len({v["version"] for v in run._read_ledger().values()}) == 2
    assert _codecs(f"{out}/triples/data") == {"ZSTD"}


def test_ledger_reads_snapshots_of_two_codecs(spark, tmp_path):
    """A snappy run, then a zstd re-run of one bucket on the same out_dir:
    both snapshots time-travel, and every read equals the one-shot rows."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 120)
    run = LedgerRun(out_dir=str(tmp_path / "mixed"), n_buckets=2)
    default = spark.conf.get(CODEC)
    spark.conf.set(CODEC, "snappy")
    try:
        run.run(docs, CFG)
    finally:
        spark.conf.set(CODEC, default)
    ledger = run._read_ledger()
    ledger["0"]["status"] = "redo"
    run._write_ledger(ledger)
    run.resume(docs, CFG)
    s1, s2 = (s["manifest"] for s in run.snapshots())

    def data(key, entry):
        return f"{run.triples_dir}/data/v{entry['version']}/b={key}"

    assert _codecs(data("0", s1["0"])) == _codecs(data("1", s1["1"])) == \
        {"SNAPPY"}
    assert _codecs(data("0", s2["0"])) == {"ZSTD"}
    assert s2["1"] == s1["1"]  # the current table mixes both codecs
    one = LedgerRun(out_dir=str(tmp_path / "one"), n_buckets=2)
    one.run(docs, CFG)
    want = Counter(map(tuple, one.triples(spark).collect()))
    assert want
    for snapshot_id in (1, 2, None):
        got = run.triples(spark, snapshot_id=snapshot_id).collect()
        assert Counter(map(tuple, got)) == want, snapshot_id


# what the ledger's files store, and the public table its reads return
STORED = ("doc_id", "rel_n", "pred", "score", "sent_diff", "i1", "i2")
PUBLIC = [("rel_id", "string"), ("pred", "string"), ("subj_id", "string"),
          ("obj_id", "string"), ("score", "double"), ("sent_diff", "int"),
          ("i1", "int"), ("i2", "int"), ("bucket", "int")]


def _stored_columns(paths) -> set[tuple]:
    """The column names of every Parquet file under ``paths``, as pyarrow
    reads them."""
    return {tuple(pq.ParquetFile(f).schema_arrow.names)
            for p in paths
            for f in glob.glob(f"{p}/**/*.parquet", recursive=True)}


def _one_shot(docs, n):
    """The public rows a ledger read returns: ``run_pipeline``'s triples
    with each doc's bucket."""
    return run_pipeline(docs, CFG).triples.withColumn(
        "bucket", F.pmod(F.hash("doc_id"), F.lit(n)))


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_ledger_stores_numbers_and_reads_public_triples(spark, tmp_path,
                                                        id_type):
    """The files under ``triples/data/`` hold the numeric form only;
    ``triples()`` returns the public columns, in order and with their
    dtypes, after a fresh run, a crash + resume and under time travel, and
    also for a run whose docs yield no triple. Only an out_dir with no
    ledger row yet reads ``bigint`` doc ids."""
    docs = load_documents(spark, SF_SMOKE).filter(F.col("doc_id") < 120)
    if id_type == "string":
        docs = docs.withColumn("doc_id",
                               F.concat(F.lit("doc-"), F.col("doc_id")))
    dtypes = [("doc_id", id_type), *PUBLIC]
    want_df = _one_shot(docs, 2)
    assert want_df.dtypes == dtypes
    want = Counter(map(tuple, want_df.collect()))
    assert want

    fresh = LedgerRun(out_dir=str(tmp_path / "fresh"), n_buckets=2)
    fresh.run(docs, CFG)
    ledger = fresh._read_ledger()
    ledger["0"]["status"] = "redo"
    fresh._write_ledger(ledger)
    fresh.resume(docs, CFG)
    crashed = LedgerRun(out_dir=str(tmp_path / "crashed"), n_buckets=2)
    with pytest.raises(RuntimeError, match="simulated failure"):
        crashed.run(docs, CFG, fail_after=1)
    crashed.resume(docs, CFG)
    for run, n_snaps in ((fresh, 2), (crashed, 1)):
        assert _stored_columns([f"{run.triples_dir}/data"]) == {STORED}
        ids = [s["snapshot_id"] for s in run.snapshots()]
        assert len(ids) == n_snaps
        for snapshot_id in (None, *ids):
            got = run.triples(spark, snapshot_id=snapshot_id)
            assert got.dtypes == dtypes, snapshot_id
            assert Counter(map(tuple, got.collect())) == want, snapshot_id

    # no gazetteer mention, so every bucket commits zero triples
    empty = LedgerRun(out_dir=str(tmp_path / "empty"), n_buckets=2)
    ledger = empty.run(docs.withColumn("text", F.lit("no entity here")), CFG)
    assert [v["n_triples"] for v in ledger.values()] == [0, 0]
    for snapshot_id in (None, 1):
        got = empty.triples(spark, snapshot_id=snapshot_id)
        assert got.dtypes == dtypes, snapshot_id
        assert not got.collect(), snapshot_id
    fresh = LedgerRun(out_dir=str(tmp_path / "no_rows"), n_buckets=2)
    assert fresh.triples(spark).dtypes == [("doc_id", "bigint"), *PUBLIC]
