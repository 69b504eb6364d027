"""Sentence segmentation + mention detection as standalone DataFrames.

Reference semantics: external sentence splitter + BIO alignment with char
offsets (preprocessing.ipynb cells 4, 6 — SURVEY.md §2.8 U1). Here the
segmenter is the deterministic fixed-token-window rule from config.py; a
pluggable pandas-UDF segmenter (``segment_pages_udf``) carries the same
contract for production segmenters (spaCy/syntok/etc. — not in container).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..functions.util import row_kernel
from .candidates import doc_rows_input, tokens_col

__all__ = ["sentences", "mentions", "doc_mention_rows", "segment_pages_udf"]


def sentences(df: DataFrame, cfg: PipelineConfig | None = None,
              doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, sent_id, sent_text, n_tokens); zero-shuffle
    (sentence windows are built in-row and exploded)."""
    cfg = cfg or PipelineConfig()
    L = cfg.sent_len
    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    n_sent = F.ceil(F.size("toks") / F.lit(L)).cast("int")
    sents = F.transform(
        F.sequence(F.lit(0), n_sent - 1),
        lambda s: F.struct(
            s.cast("int").alias("sent_id"),
            F.array_join(F.slice(F.col("toks"), s * L + 1, L), " ").alias(
                "sent_text"
            ),
            (
                F.least(F.size("toks"), (s + 1) * L) - s * L
            ).cast("int").alias("n_tokens"),
        ),
    )
    return base.select("doc_id", F.explode(sents).alias("s")).select(
        "doc_id", "s.sent_id", "s.sent_text", "s.n_tokens"
    )


def doc_mention_rows(cfg: PipelineConfig) -> Callable:
    """``rows(doc_id, text) -> [tuple]``: one doc's gazetteer mentions in
    token order, ``(doc_id, mention_id, ent_type, tok_idx, sent_id,
    surface, start, end)``. Character offsets are a running sum of token
    lengths plus the single-space separators, so ``text[start:end]`` is
    the surface. NULL text gives no rows. The one mention scan behind
    ``mentions`` and the brat T lines of ``scoring.enum_score_brat``."""
    vocab = dict(cfg.ent_vocab)
    sl = cfg.sent_len

    def rows(did, text) -> list[tuple]:
        if text is None:
            return []
        out = []
        start = 0
        for i0, tok in enumerate(text.split(" ")):
            et = vocab.get(tok)
            if et is not None:
                out.append((did, f"T{i0 + 1}", et, i0 + 1, i0 // sl, tok,
                            start, start + len(tok)))
            start += len(tok) + 1
        return out

    return rows


def mentions(df: DataFrame, cfg: PipelineConfig | None = None,
             doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, mention_id, ent_type, tok_idx, sent_id, surface,
    start, end) with character offsets into the original text.

    Brat ``T``-line shape (src/brat_eval.py:101-116). A doc-row kernel
    over ``doc_mention_rows``: char offsets are a per-doc prefix sum, so
    the mentions derivation is zero-shuffle like the candidate pipeline
    (the former posexplode + per-doc cumulative-sum WINDOW shuffled every
    token row). Byte-identical to that window form (the Catalyst twin in
    tests/catalyst_twins.py; pinned in tests/test_round7_perf.py) and
    oracle-checked via q_mentions."""
    cfg = cfg or PipelineConfig()
    src = doc_rows_input(df, doc_col, text_col)
    id_type = src.schema["doc_id"].dataType.simpleString()
    return row_kernel(
        src,
        f"doc_id {id_type}, mention_id string, ent_type string, "
        "tok_idx int, sent_id int, surface string, start long, end long",
        doc_mention_rows(cfg),
    )


_SEG_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("sent_start", T.LongType()),
        T.StructField("sent_end", T.LongType()),
        T.StructField("sent_text", T.StringType()),
    ]
)


def segment_pages_udf(pages: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Pluggable pandas-UDF segmenter over the pages table (url, text):
    1 page -> N sentences with char offsets (UDTF-shaped, SURVEY.md §2.8 U1).

    The default splitter is the same fixed-window rule (byte-identical to
    ``sentences``); swap the inner function for a real segmenter in
    production — the Spark contract (schema, batching) is unchanged.
    """
    cfg = cfg or PipelineConfig()
    L = cfg.sent_len

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"url": [], "sent_id": [], "sent_start": [],
                   "sent_end": [], "sent_text": []}
            for url, text in zip(pdf["url"], pdf["text"]):
                toks = text.split(" ")
                pos = 0
                starts = []
                for t in toks:
                    starts.append(pos)
                    pos += len(t) + 1
                for s in range((len(toks) + L - 1) // L):
                    chunk = toks[s * L:(s + 1) * L]
                    st = starts[s * L]
                    out["url"].append(url)
                    out["sent_id"].append(s)
                    out["sent_start"].append(st)
                    out["sent_end"].append(st + len(" ".join(chunk)))
                    out["sent_text"].append(" ".join(chunk))
            yield pd.DataFrame(out)

    return pages.select("url", "text").mapInPandas(run, schema=_SEG_SCHEMA)
