"""Candidate entity-pair generation — the relational heart of the pipeline.

Implements, Spark-first and shuffle-free, the reference semantics of:

- sentence segmentation (fixed token windows) — reference: external splitter,
  preprocessing.ipynb (cell 4)
- gazetteer mention detection — reference: gold brat ``T`` lines
  (src/brat_eval.py:95-126)
- ordered entity-pair permutation within a sentence-distance window —
  reference: ``get_permutated_relation_pairs`` (preprocessing.ipynb cell 5)
  with CUTOFF (cell 11) and valid type-combination pruning (cell 15)
- [s1]/[e1], [s2]/[e2] marker insertion with cross-sentence concatenation —
  reference: ``format_relen`` (preprocessing.ipynb cell 6)

Every step is a narrow, per-row transformation: the quadratic pair
blow-up happens *inside one document row* and is capped by
``max_pairs_per_doc``, so candidate generation causes **zero shuffle** and
no doc-level skew can stall a stage.

The per-doc loop exists once: ``pair_enumerator`` (mention scan, windowed
pairs, cap, window bounds) and ``doc_candidate_rows`` (marked strings or
their lengths). It runs inside Arrow-batched doc-row kernels, batch and
stream alike: ``candidates`` and ``candidate_cap_stats`` here (through
``functions.util.row_kernel``), and ``scoring.enum_score_filter_number``,
the triples path for every scorer backend. The Catalyst higher-order
function form and the relational alternatives (a mention self-join on the
doc key) lost every paired measurement in BENCH.md and are gone.
"""

from __future__ import annotations

import dataclasses
from bisect import bisect_left, bisect_right
from itertools import accumulate
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import S1_CLOSE, S1_OPEN, S2_CLOSE, S2_OPEN, PipelineConfig
from ..functions.util import ensure_parallelism, row_kernel

__all__ = [
    "tokens_col", "candidates", "candidate_cap_stats", "candidate_columns",
    "pair_enumerator", "doc_candidate_rows",
]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (reference: ``text.split(' ')``,
    src/data_utils.py:332)."""
    return F.split(text, " ")


def candidate_columns(emit: str = "text") -> list[str]:
    """Column order of a candidate frame: the reference's 8-column TSV
    contract (readme.md:35-43) plus the content key (doc_id, i1, i2).
    ``emit="lengths"`` carries the window lengths s1_len/s2_len where
    ``"text"`` carries the marked strings s1_marked/s2_marked."""
    s1, s2 = ("s1_len", "s2_len") if emit == "lengths" else (
        "s1_marked", "s2_marked")
    return ["doc_id", "ent_id_1", "ent_id_2", "ent_type_1", "ent_type_2",
            s1, s2, "sent_diff", "i1", "i2"]


def pair_enumerator(cfg: PipelineConfig) -> Callable[[list[str]], list]:
    """The per-doc enumeration as a pure function of one doc's tokens:
    gazetteer mention scan, pairs within the sentence window, the cap, and
    the window bounds. Returns ``[(i1, t1, i2, t2, sent_diff, wst, wen)]``
    (1-based token indexes, inclusive window) in kept order: arg1 mentions
    in token order x the window's arg2 mentions in token order, tuple-exact
    combo filter, first ``max_pairs_per_doc`` (a falsy cap keeps all)."""
    vocab = dict(cfg.ent_vocab)
    arg1_types = {t1 for t1, _ in cfg.valid_combs}
    arg2_types = {t2 for _, t2 in cfg.valid_combs}
    allowed: dict[str, set] = {}
    for t1, t2 in cfg.valid_combs:
        allowed.setdefault(t1, set()).add(t2)
    sl = cfg.sent_len
    cutoff = cfg.cutoff
    cap = cfg.max_pairs_per_doc or 0

    def enumerate_pairs(toks: list[str]) -> list:
        men = [(i + 1, vocab[t], i // sl) for i, t in enumerate(toks)
               if t in vocab]
        m1s = [m for m in men if m[1] in arg1_types]
        m2s = [m for m in men if m[1] in arg2_types]
        if not m1s or not m2s:
            return []
        ntok = len(toks)
        # m2s is in token order, so in sentence order: each arg1's window
        # is one slice of it
        s2_ids = [m[2] for m in m2s]
        pairs = []
        for i1, t1, s1 in m1s:
            al = allowed[t1]
            for i2, t2, s2 in m2s[bisect_left(s2_ids, s1 - cutoff):
                                  bisect_right(s2_ids, s1 + cutoff)]:
                if i1 != i2 and t2 in al:
                    lo, hi = (s1, s2) if s1 <= s2 else (s2, s1)
                    pairs.append((i1, t1, i2, t2, abs(s1 - s2),
                                  lo * sl + 1, min(ntok, (hi + 1) * sl)))
                    if len(pairs) == cap:
                        return pairs
        return pairs

    return enumerate_pairs


def doc_candidate_rows(cfg: PipelineConfig, emit: str = "text") -> Callable:
    """``rows(doc_id, text) -> [tuple]``: one doc's candidate rows in
    ``candidate_columns(emit)`` order. Text rows mark the window slice
    with ``[s1] tok [e1]`` / ``[s2] tok [e2]`` around the entity token,
    space-joined (the reference's ``format_relen``); lengths rows get the
    marked-string length from a prefix sum of token lengths, without
    building the strings (both marker pairs add 10 chars, so s1_len ==
    s2_len). NULL text gives no rows."""
    enumerate_pairs = pair_enumerator(cfg)

    def rows(did, text) -> list[tuple]:
        if text is None:
            return []
        toks = text.split(" ")
        pairs = enumerate_pairs(toks)
        if not pairs:
            return []
        out = []
        if emit == "lengths":
            pre = list(accumulate(map(len, toks), initial=0))
            for i1, t1, i2, t2, sd, wst, wen in pairs:
                # chars of the space-joined window + 10 marker chars
                wl = pre[wen] - pre[wst - 1] + (wen - wst) + 10
                out.append((did, f"T{i1}", f"T{i2}", t1, t2, wl, wl, sd,
                            i1, i2))
            return out
        for i1, t1, i2, t2, sd, wst, wen in pairs:
            win = toks[wst - 1:wen]
            k1, k2 = i1 - wst, i2 - wst
            e1, e2 = win[k1], win[k2]
            win[k1] = f"{S1_OPEN} {e1} {S1_CLOSE}"
            s1 = " ".join(win)
            win[k1], win[k2] = e1, f"{S2_OPEN} {e2} {S2_CLOSE}"
            out.append((did, f"T{i1}", f"T{i2}", t1, t2, s1, " ".join(win),
                        sd, i1, i2))
        return out

    return rows


def doc_rows_input(df: DataFrame) -> DataFrame:
    """(doc_id, text) input of a doc-row kernel. factor=1: one wave of
    core-count tasks, since each Python task pays a fixed cost before any
    row: ~35 ms of worker CPU on a worker that has run a product runner
    (``functions.util.set_up_python_worker``), ~240 ms on one
    that has not, when Spark's per-task ``importlib.invalidate_caches()``
    re-reads ``pyspark.zip`` (measured in ``dedup._docs``)."""
    return ensure_parallelism(df.select("doc_id", "text"), factor=1)


def candidates(
    df: DataFrame, cfg: PipelineConfig | None = None, emit: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) -> candidate frame with
    ``candidate_columns(emit)``: one row per kept (arg1, arg2) mention pair,
    built by ``doc_candidate_rows`` in one doc-row kernel, batch or stream.

    ``emit="text"`` carries the marked strings s1_marked/s2_marked;
    ``emit="lengths"`` their lengths s1_len/s2_len, the input of scoring
    backends that declare ``needs = "lengths"``. The triples path does not
    build a candidate frame at all: it enumerates, marks and scores per doc
    in ``scoring.enum_score_filter_number``."""
    cfg = cfg or PipelineConfig()
    src = doc_rows_input(df)
    id_type = src.schema["doc_id"].dataType.simpleString()
    s1, s2 = candidate_columns(emit)[5:7]
    s_type = "int" if emit == "lengths" else "string"
    return row_kernel(
        src,
        f"doc_id {id_type}, ent_id_1 string, ent_id_2 string, "
        f"ent_type_1 string, ent_type_2 string, {s1} {s_type}, "
        f"{s2} {s_type}, sent_diff int, i1 int, i2 int",
        doc_candidate_rows(cfg, emit),
    )


def candidate_cap_stats(
    df: DataFrame, cfg: PipelineConfig | None = None,
) -> DataFrame:
    """No silent truncation (SURVEY.md §7.4.4): one row of corpus-level cap
    accounting (n_docs, n_pairs_total, n_docs_capped, n_pairs_dropped) —
    docs over the per-doc pair cap and total pairs dropped. Per-doc pair
    counts come from ``pair_enumerator`` run uncapped, the loop that
    applies the cap in ``candidates``; no strings are built. A falsy
    ``max_pairs_per_doc`` is no cap, so nothing is dropped."""
    cfg = cfg or PipelineConfig()
    cap = cfg.max_pairs_per_doc
    enumerate_all = pair_enumerator(
        dataclasses.replace(cfg, max_pairs_per_doc=0))

    def counts(did, text) -> list[tuple]:
        n = 0 if text is None else len(enumerate_all(text.split(" ")))
        return [(n, max(n - cap, 0) if cap else 0)]

    per_doc = row_kernel(doc_rows_input(df),
                         "n_pairs long, n_dropped long", counts)
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_pairs").alias("n_pairs_total"),
        F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).alias(
            "n_docs_capped"
        ),
        F.sum("n_dropped").alias("n_pairs_dropped"),
    )
