"""End-to-end KG-construction pipeline: documents/pages -> triples.

Spark restatement of the reference's flagship flow (SURVEY.md §3.1):
pages →(U1 segment)→ mentions →(J1+F3+F4 candidate gen)→ marked pairs
→(U2+U3 Arrow-batched scoring)→ predictions →(F6 NonRel filter, W1 numbering)→
triples.

Physical shape at scale (pinned in tests/test_plan_shapes.py): one narrow
Arrow-batched doc-row kernel (``scoring.enum_score_number``) does
enumerate → mark → score → NonRel filter → number per document, for every
scorer backend and for streams — zero shuffle, no Window. With ``brat``
the same pass also renders each doc's brat ``.ann`` text: ``run_brat`` is
that pass's brat rows, and ``cli predict`` writes the triples and brat
from one persisted pass (``LedgerRun.run(..., brat=...)``), so each doc is
scored once: no second mention scan, no triples read-back, no groupBy or
join. The optional salted repartition of the DOCS equalizes per-task load
when host domains skew document sizes (north rule); docs stay whole, so
numbering holds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.postprocess import link_triples
from ..operators.scoring import (
    brat_rows,
    enum_score_number,
    public_triples,
    triple_rows,
)
from ..operators.segmentation import mentions


@dataclass
class PipelineResult:
    """``rows``: the doc-row kernel's output (``enum_score_number``), the
    numeric triples the ledger stores; ``triples``: the public triples
    derived from them JVM-side. With ``brat=True`` the rows also hold each
    doc's brat row (``scoring.brat_rows``)."""

    rows: DataFrame

    @property
    def triples(self) -> DataFrame:
        return public_triples(triple_rows(self.rows))


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the driver's documents table to the north-rule pages shape
    (url, warc_ts, html, text, lang): url = 'doc://<id>', html = utf-8 bytes
    of text (the synthetic extractor is the identity — byte-identical per
    url by construction), warc_ts derived deterministically."""
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.encode("text", "UTF-8").alias("html"),
        "text",
        "lang",
    )


def extract_text(pages: DataFrame) -> DataFrame:
    """Byte-identical text extraction per url (north-rule invariant): the
    deterministic extractor decodes the stored bytes; a production HTML
    extractor plugs in here as a pandas UDF with the same contract."""
    return pages.withColumn("text", F.decode("html", "UTF-8"))


def _salted(docs: DataFrame, cfg: PipelineConfig, salt: bool) -> DataFrame:
    """``salt=True`` repartitions the documents by a salted doc hash into
    ``cfg.salt_buckets`` buckets, spreading a hot host domain's docs over
    tasks. Each doc stays one row, so a doc-row kernel's output is
    unchanged."""
    if not salt:
        return docs
    return docs.repartition(
        F.pmod(F.hash(F.col("doc_id"), F.lit("salt")), F.lit(cfg.salt_buckets))
    )


def run_pipeline(
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    salt: bool = False,
    brat: bool = False,
) -> PipelineResult:
    """documents -> triples (doc_id, rel_id, pred, subj_id, obj_id, score,
    sent_diff, i1, i2) through the doc-row kernel
    (``scoring.enum_score_number``), batch or stream, after the optional
    salted repartition of the documents (``_salted``). ``brat`` renders
    each doc's brat row in the same pass (``PipelineResult``)."""
    cfg = cfg or PipelineConfig()
    return PipelineResult(rows=enum_score_number(
        _salted(docs, cfg, salt), cfg, brat=brat))


def run_linked(docs: DataFrame,
               cfg: PipelineConfig | None = None) -> DataFrame:
    cfg = cfg or PipelineConfig()
    return link_triples(run_pipeline(docs, cfg).triples, mentions(docs, cfg))


def run_brat(docs: DataFrame, cfg: PipelineConfig | None = None,
             salt: bool = False) -> DataFrame:
    """documents -> (doc_id, ann_text), one brat ``.ann`` row per doc with
    a gazetteer mention: the brat rows of one shuffle-free doc-row pass
    (``run_pipeline(..., brat=True)``), after the same optional salted
    repartition. Equal to ``postprocess.brat_render(mentions(docs, cfg),
    run_pipeline(docs, cfg).triples)``, its Catalyst twin (pinned in
    tests/test_kernel_path.py; the stub by the q_brat_render oracle). It
    scores the docs on its own: the ``q_brat_render`` query, and a ``cli
    predict`` with no pending bucket; a ``predict`` with pending buckets
    writes brat from the pass its ledger write persisted instead."""
    return brat_rows(run_pipeline(docs, cfg, salt=salt, brat=True).rows)
