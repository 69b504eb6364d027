"""Sentence segmentation + mention detection as standalone DataFrames.

Reference semantics: external sentence splitter + BIO alignment with char
offsets (preprocessing.ipynb cells 4, 6 — SURVEY.md §2.8 U1). Here the
segmenter is the deterministic fixed-token-window rule from config.py.
``segment_pages_udf`` runs it per page through ``functions.util.row_kernel``
like ``mentions``; its per-page function ``page_sentence_rows`` is where a
production segmenter (spaCy/syntok/etc. — not in container) plugs in,
keeping the row shape. Both row kernels (``mentions``,
``segment_pages_udf``) keep the key column's type and give no rows for
NULL text.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.util import row_kernel
from .candidates import doc_rows_input, tokens_col

__all__ = [
    "sentences", "mentions", "doc_mention_rows", "page_sentence_rows",
    "segment_pages_udf",
]


def sentences(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """documents -> (doc_id, sent_id, sent_text, n_tokens); zero-shuffle
    (sentence windows are built in-row and exploded)."""
    cfg = cfg or PipelineConfig()
    L = cfg.sent_len
    base = df.select("doc_id", tokens_col(F.col("text")).alias("toks"))
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
    ``mentions`` and the brat T lines of ``scoring.enum_score_number``."""
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


def mentions(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
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
    src = doc_rows_input(df)
    id_type = src.schema["doc_id"].dataType.simpleString()
    return row_kernel(
        src,
        f"doc_id {id_type}, mention_id string, ent_type string, "
        "tok_idx int, sent_id int, surface string, start long, end long",
        doc_mention_rows(cfg),
    )


def page_sentence_rows(cfg: PipelineConfig) -> Callable:
    """``rows(url, text) -> [tuple]``: one page's sentences in order,
    ``(url, sent_id, sent_start, sent_end, sent_text)``, where
    ``text[sent_start:sent_end]`` is ``sent_text``. The fixed-window rule
    of ``sentences``, byte-identical to it; empty text is one empty
    sentence and NULL text gives no rows. The segmenter of
    ``segment_pages_udf``: a production segmenter (spaCy, syntok, ...)
    replaces this function and keeps its row shape."""
    L = cfg.sent_len

    def rows(url, text) -> list[tuple]:
        if text is None:
            return []
        toks = text.split(" ")
        starts = []
        pos = 0
        for t in toks:
            starts.append(pos)
            pos += len(t) + 1
        out = []
        for s in range((len(toks) + L - 1) // L):
            chunk = " ".join(toks[s * L:(s + 1) * L])
            st = starts[s * L]
            out.append((url, s, st, st + len(chunk), chunk))
        return out

    return rows


def segment_pages_udf(pages: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Pluggable Python segmenter over the pages table (url, text):
    1 page -> N sentences with char offsets (UDTF-shaped, SURVEY.md §2.8
    U1), one ``row_kernel`` pass over ``page_sentence_rows``. ``url``
    keeps the input's type."""
    src = pages.select("url", "text")
    url_type = src.schema["url"].dataType.simpleString()
    return row_kernel(
        src,
        f"url {url_type}, sent_id int, sent_start long, sent_end long, "
        "sent_text string",
        page_sentence_rows(cfg or PipelineConfig()),
    )
