"""End-to-end KG-construction pipeline: documents/pages -> triples.

Spark restatement of the reference's flagship flow (SURVEY.md §3.1):
pages →(U1 segment)→ mentions →(J1+F3+F4 candidate gen)→ marked pairs
→(U2+U3 mapInPandas scoring)→ predictions →(F6 NonRel filter, W1 numbering)→
triples.

Physical shape at scale (pinned in tests/test_plan_shapes.py): one narrow
Arrow-batched doc-row kernel (``scoring.enum_score_filter_number``) does
enumerate → mark → score → NonRel filter → number per document, for every
scorer backend and for streams — zero shuffle, no Window. ``run_brat`` is
the same pass rendering each doc's brat ``.ann`` text
(``scoring.enum_score_brat``) instead of emitting triples: no second
mention scan, no triples read-back, no groupBy or join. The optional
salted repartition of the DOCS equalizes per-task load when host domains
skew document sizes (north rule); docs stay whole, so numbering holds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.postprocess import link_triples
from ..operators.scoring import enum_score_brat, enum_score_filter_number
from ..operators.segmentation import mentions


@dataclass
class PipelineResult:
    triples: DataFrame


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


def _salted(docs: DataFrame, cfg: PipelineConfig, doc_col: str,
            salt: bool) -> DataFrame:
    """``salt=True`` repartitions the documents by a salted doc hash into
    ``cfg.salt_buckets`` buckets, spreading a hot host domain's docs over
    tasks. Each doc stays one row, so a doc-row kernel's output is
    unchanged."""
    if not salt:
        return docs
    return docs.repartition(
        F.pmod(F.hash(F.col(doc_col), F.lit("salt")), F.lit(cfg.salt_buckets))
    )


def run_pipeline(
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    doc_col: str = "doc_id",
    salt: bool = False,
) -> PipelineResult:
    """documents -> triples (doc_id, rel_id, pred, subj_id, obj_id, score,
    sent_diff, i1, i2) through the doc-row kernel, batch or stream, after
    the optional salted repartition of the documents (``_salted``)."""
    cfg = cfg or PipelineConfig()
    return PipelineResult(triples=enum_score_filter_number(
        _salted(docs, cfg, doc_col, salt), cfg, doc_col=doc_col))


def run_linked(docs: DataFrame, cfg: PipelineConfig | None = None,
               doc_col: str = "doc_id") -> DataFrame:
    cfg = cfg or PipelineConfig()
    res = run_pipeline(docs, cfg, doc_col=doc_col)
    men = mentions(docs, cfg, doc_col=doc_col)
    return link_triples(res.triples, men)


def run_brat(docs: DataFrame, cfg: PipelineConfig | None = None,
             doc_col: str = "doc_id", salt: bool = False) -> DataFrame:
    """documents -> (doc_id, ann_text), one brat ``.ann`` row per doc with
    a gazetteer mention, in one shuffle-free doc-row pass
    (``scoring.enum_score_brat``) after the same optional salted
    repartition as ``run_pipeline``. Equal to ``postprocess.brat_render(
    mentions(docs, cfg), run_pipeline(docs, cfg).triples)``, its Catalyst
    twin: the docs are scored here under ``cfg``, so it equals brat over a
    ledger's triples whenever those were scored under the same config."""
    cfg = cfg or PipelineConfig()
    return enum_score_brat(_salted(docs, cfg, doc_col, salt), cfg,
                           doc_col=doc_col)
