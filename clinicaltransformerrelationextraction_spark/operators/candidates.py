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
no doc-level skew can stall a stage. Two forms compute the same rows:

- ``candidates_indexed``: Catalyst higher-order functions
  (``transform``/``filter``/``flatten``), the ``emit="text"`` product path
  and the stream form;
- ``doc_candidate_rows``: the same enumeration as one plain Python
  function per document. It runs inside the Arrow-batched doc-row kernels
  (``candidates_lengths_kernel`` here, and
  ``scoring.enum_score_filter_number``, the triples path for every scorer
  backend), so the loop exists exactly once.

The relational alternatives (a mention self-join on the doc key, shuffling
the mention table twice) lost every measurement in BENCH.md and are gone.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import S1_CLOSE, S1_OPEN, S2_CLOSE, S2_OPEN, PipelineConfig
from ..functions.util import ensure_parallelism

__all__ = [
    "tokens_col", "mentions_col", "pairs_col", "candidates",
    "candidate_cap_stats", "candidate_columns", "doc_candidate_rows",
]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (reference: ``text.split(' ')``,
    src/data_utils.py:332)."""
    return F.split(text, " ")


def comb_map_col(cfg: PipelineConfig) -> Column:
    """t1 -> array of allowed t2: EXACT tuple membership in
    ``cfg.valid_combs`` (the reference's ``(en1t, en2t) not in valid_comb``
    set check, preprocessing.ipynb cell 6) — not the cross product of the
    projected type sets, which silently diverges for any config whose combo
    set is not a full cross product. Lookup of an absent t1 yields NULL and
    ``array_contains(NULL, x)`` is NULL, so such pairs are filtered."""
    by_t1: dict[str, list[str]] = {}
    for t1, t2 in cfg.valid_combs:
        by_t1.setdefault(t1, []).append(t2)
    entries: list[Column] = []
    for t1 in sorted(by_t1):
        entries.append(F.lit(t1))
        entries.append(F.array(*[F.lit(x) for x in sorted(by_t1[t1])]))
    return F.create_map(*entries)


def mentions_col(cfg: PipelineConfig, toks: Column) -> Column:
    """array<struct<i:int, tok, ent_type, sent_id:int>> — 1-based token index.

    Gazetteer mention detection as a pure Catalyst expression: map-lookup of
    each token against the broadcast-size entity vocabulary.
    """
    vocab = F.create_map(
        *[F.lit(x) for kv in cfg.ent_vocab.items() for x in kv]
    )
    indexed = F.transform(
        toks,
        lambda x, i: F.struct(
            (i + F.lit(1)).cast("int").alias("i"),
            x.alias("tok"),
            vocab[x].alias("ent_type"),
        ),
    )
    hits = F.filter(indexed, lambda s: s["ent_type"].isNotNull())
    return F.transform(
        hits,
        lambda s: F.struct(
            s["i"].alias("i"),
            s["tok"].alias("tok"),
            s["ent_type"].alias("ent_type"),
            F.floor((s["i"] - 1) / cfg.sent_len).cast("int").alias("sent_id"),
        ),
    )


def pairs_col(cfg: PipelineConfig, mentions: Column) -> Column:
    """Ordered candidate pairs (m1=arg1 non-Drug, m2=arg2 Drug) within the
    sentence-distance cutoff. In-row cross product + predicate pushup; the
    reference's F3 (valid combos), F4 (distance) and J1 (permutations).
    O(M^2) per doc, so only ``candidate_cap_stats`` uses it (counts
    only); candidates come from the windowed enumeration."""
    cmap = comb_map_col(cfg)

    def pair_filter(p: Column) -> Column:
        return (
            (p["a"]["i"] != p["b"]["i"])
            & (F.abs(p["a"]["sent_id"] - p["b"]["sent_id"]) <= cfg.cutoff)
            & F.array_contains(cmap[p["a"]["ent_type"]], p["b"]["ent_type"])
        )

    crossed = F.flatten(
        F.transform(
            mentions,
            lambda m1: F.transform(
                mentions, lambda m2: F.struct(m1.alias("a"), m2.alias("b"))
            ),
        )
    )
    return F.filter(crossed, pair_filter)


def _marked(
    toks: Column, wst: Column, wlen: Column, ent_i: Column, open_t: str, close_t: str
) -> Column:
    """Space-joined window tokens with ``open_t``/``close_t`` inserted around
    the single token at 1-based index ``ent_i`` (reference ``format_relen``:
    markers are separate space-joined tokens)."""
    win = F.slice(toks, wst, wlen)
    return F.array_join(
        F.transform(
            win,
            lambda x, k: F.when(
                wst + k == ent_i,
                F.concat(F.lit(open_t + " "), x, F.lit(" " + close_t)),
            ).otherwise(x),
        ),
        " ",
    )


def candidate_cap_stats(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """No silent truncation (SURVEY.md §7.4.4): one row of corpus-level cap
    accounting — docs over the per-doc pair cap and total pairs dropped.
    Cheap (counts only, no strings built); run it alongside any capped
    pipeline and persist the row with the run's lineage."""
    cfg = cfg or PipelineConfig()
    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    n_pairs = F.size(pairs_col(cfg, mentions_col(cfg, F.col("toks"))))
    cap = cfg.max_pairs_per_doc or 0
    per_doc = base.select(
        "doc_id",
        n_pairs.alias("n_pairs"),
        F.greatest(n_pairs - cap, F.lit(0)).alias("n_dropped"),
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_pairs").alias("n_pairs_total"),
        F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).alias(
            "n_docs_capped"
        ),
        F.sum("n_dropped").alias("n_pairs_dropped"),
    )


def _win_len(toks: Column, wst: Column, wlen: Column) -> Column:
    """Character length of a ``_marked`` window string WITHOUT building it
    (r7, guide §1.2 — don't compute what you only measure): the length of
    the space-joined window plus the 10 marker characters ("[s1] " +
    " [e1]", resp. s2/e2 — both marker pairs are 10 chars, so
    length(s1_marked) == length(s2_marked) == this). Used by the
    lengths-only scorer input path (scoring backends that declare
    ``needs = "lengths"``); equality with F.length(_marked(...)) is
    pinned in tests/test_round7_perf.py."""
    return (
        F.aggregate(
            F.slice(toks, wst, wlen),
            F.lit(0),
            lambda acc, x: acc + F.length(x),
        )
        + wlen - 1 + F.lit(10)
    ).cast("int")


def candidates_indexed(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text", emit: str = "text",
) -> DataFrame:
    """Zero-shuffle, output-linear candidate generation (product path):
    bucket arg2 (Drug) mentions by sentence window, then enumerate each
    arg1 mention only against the drugs actually inside its window — the
    in-row analog of an index nested-loop join. Per-doc work is
    O(n_sent*n_drugs + n_pairs) instead of O(M^2). Stream-compatible; the
    cap is an in-row slice.

    CRITICAL plan detail: Catalyst re-evaluates an inner array expression
    embedded in a lambda once PER OUTER ELEMENT — only bound attributes are
    safe to reference inside lambdas. The ``explode(array(struct(...)))``
    stage below is a deliberate Generate barrier that materializes the
    mention index (m1s + drugs_by_win) exactly once per document before the
    pair enumeration references it. Without it this operator is ~100x
    slower on mention-heavy docs (measured; see BENCH.md)."""
    cfg = cfg or PipelineConfig()
    arg1_types = [t1 for t1, _ in cfg.valid_combs]
    arg2_types = sorted({t2 for _, t2 in cfg.valid_combs})

    toks = tokens_col(F.col(text_col))
    base = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    )
    men = F.col("men")
    m1s = F.filter(men, lambda m: m["ent_type"].isin(*arg1_types))
    m2s = F.filter(men, lambda m: m["ent_type"].isin(*arg2_types))
    n_sent = F.ceil(F.size("toks") / F.lit(cfg.sent_len)).cast("int")
    drugs_by_win = F.transform(
        F.sequence(F.lit(0), F.greatest(n_sent - 1, F.lit(0))),
        lambda s: F.filter(
            F.col("m2s"), lambda d: F.abs(d["sent_id"] - s) <= cfg.cutoff
        ),
    )
    # Generate barrier #1: materialize men -> (m1s, m2s) as attributes
    idx1 = (
        base.select(
            "doc_id", "toks", mentions_col(cfg, F.col("toks")).alias("men")
        )
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.array(F.struct(m1s.alias("m1s"), m2s.alias("m2s")))
            ).alias("z1"),
        )
        .select("doc_id", "toks", "z1.m1s", "z1.m2s")
    )
    # Generate barrier #2: materialize the per-sentence drug index
    idx2 = idx1.select(
        "doc_id",
        "toks",
        "m1s",
        F.explode(F.array(drugs_by_win.alias("x"))).alias("dbw"),
    )
    cmap = comb_map_col(cfg)
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("m1s"),
                lambda m1: F.transform(
                    F.element_at(F.col("dbw"), m1["sent_id"] + F.lit(1)),
                    lambda m2: F.struct(m1.alias("a"), m2.alias("b")),
                ),
            )
        ),
        lambda pr: (pr["a"]["i"] != pr["b"]["i"])
        & F.array_contains(cmap[pr["a"]["ent_type"]], pr["b"]["ent_type"]),
    )
    if cfg.max_pairs_per_doc:
        pairs = F.slice(
            pairs, 1, F.least(F.size(pairs), F.lit(cfg.max_pairs_per_doc))
        )
    rows = idx2.select("doc_id", "toks", F.explode(pairs).alias("p"))

    a_i = F.col("p")["a"]["i"]
    b_i = F.col("p")["b"]["i"]
    a_s = F.col("p")["a"]["sent_id"]
    b_s = F.col("p")["b"]["sent_id"]
    lo = F.least(a_s, b_s)
    hi = F.greatest(a_s, b_s)
    wst = (lo * cfg.sent_len + 1).cast("int")
    wen = F.least(F.size("toks"), ((hi + 1) * cfg.sent_len).cast("int"))
    wlen = wen - wst + 1

    if emit == "lengths":
        # lengths-only scorer input (scoring backends with
        # needs == "lengths"): ONE O(window) aggregate replaces TWO
        # O(window) marked-string builds per pair, and two ints — not two
        # strings — cross the Arrow boundary (guide §4.1). The "wl"
        # projection barrier makes the aggregate an attribute before it
        # is aliased twice.
        return rows.select(
            "doc_id",
            F.concat(F.lit("T"), a_i).alias("ent_id_1"),
            F.concat(F.lit("T"), b_i).alias("ent_id_2"),
            F.col("p")["a"]["ent_type"].alias("ent_type_1"),
            F.col("p")["b"]["ent_type"].alias("ent_type_2"),
            _win_len(F.col("toks"), wst, wlen).alias("wl"),
            F.abs(a_s - b_s).cast("int").alias("sent_diff"),
            a_i.cast("int").alias("i1"),
            b_i.cast("int").alias("i2"),
        ).select(
            "doc_id", "ent_id_1", "ent_id_2", "ent_type_1", "ent_type_2",
            F.col("wl").alias("s1_len"), F.col("wl").alias("s2_len"),
            "sent_diff", "i1", "i2",
        )
    return rows.select(
        "doc_id",
        F.concat(F.lit("T"), a_i).alias("ent_id_1"),
        F.concat(F.lit("T"), b_i).alias("ent_id_2"),
        F.col("p")["a"]["ent_type"].alias("ent_type_1"),
        F.col("p")["b"]["ent_type"].alias("ent_type_2"),
        _marked(F.col("toks"), wst, wlen, a_i, S1_OPEN, S1_CLOSE).alias(
            "s1_marked"
        ),
        _marked(F.col("toks"), wst, wlen, b_i, S2_OPEN, S2_CLOSE).alias(
            "s2_marked"
        ),
        F.abs(a_s - b_s).cast("int").alias("sent_diff"),
        a_i.cast("int").alias("i1"),
        b_i.cast("int").alias("i2"),
    )


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
    (1-based token indexes, inclusive window) in ``candidates_indexed``'s
    kept order: arg1 mentions in token order x the window's arg2 mentions
    in token order, tuple-exact combo filter, first ``max_pairs_per_doc``."""
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
        n_sent = max((ntok + sl - 1) // sl, 1)
        by_win = [[d for d in m2s if abs(d[2] - s) <= cutoff]
                  for s in range(n_sent)]
        pairs = []
        for i1, t1, s1 in m1s:
            al = allowed[t1]
            for i2, t2, s2 in by_win[s1]:
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
    ``candidate_columns(emit)`` order, equal to ``candidates_indexed``'s.
    Text rows mark the window slice with ``[s1] tok [e1]`` / ``[s2] tok
    [e2]`` around the entity token, space-joined (``_marked``); lengths
    rows get the marked-string length from a prefix sum of token lengths
    (``_win_len``), without building the strings. NULL text gives no
    rows."""
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


def doc_rows_input(df: DataFrame, doc_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, text) input of a doc-row kernel. factor=1: one wave of
    core-count tasks, since each Python task pays a fixed boundary cost
    (the dedup kernels' measurement)."""
    return ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"),
                  F.col(text_col).alias("text")),
        factor=1,
    )


def candidates_lengths_kernel(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched kernel twin of ``candidates_indexed(emit="lengths")``
    — equal rows (pinned in tests/test_round7_perf.py), built by
    ``doc_candidate_rows`` per doc instead of the interpreted Catalyst HOF
    enumeration (~100x cheaper per element, like the dedup kernels)."""
    import pandas as pd

    cfg = cfg or PipelineConfig()
    src = doc_rows_input(df, doc_col, text_col)
    id_type = src.schema["doc_id"].dataType.simpleString()
    rows_of = doc_candidate_rows(cfg, "lengths")
    cols = candidate_columns("lengths")

    def kernel(batches):
        for pdf in batches:
            rows = [r for did, tx in zip(pdf["doc_id"], pdf["text"])
                    for r in rows_of(did, tx)]
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(
        kernel,
        schema=(
            f"doc_id {id_type}, ent_id_1 string, ent_id_2 string, "
            "ent_type_1 string, ent_type_2 string, s1_len int, "
            "s2_len int, sent_diff int, i1 int, i2 int"
        ),
    )


def candidates(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text", emit: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) -> candidate frame with
    ``candidate_columns(emit)``: one row per kept (arg1, arg2) mention pair.

    ``emit="text"`` runs the Catalyst form (``candidates_indexed``), whose
    marked-string columns Catalyst can prune under count()-style
    consumers. ``emit="lengths"`` swaps the marked strings for their
    lengths (s1_len/s2_len), the input of scoring backends that declare
    ``needs = "lengths"``; batch frames run the doc-row kernel
    ``candidates_lengths_kernel``, streams the Catalyst form. The triples
    path does not build a candidate frame at all: it enumerates, marks and
    scores per doc in ``scoring.enum_score_filter_number``."""
    if emit == "lengths" and not df.isStreaming:
        return candidates_lengths_kernel(
            df, cfg, doc_col=doc_col, text_col=text_col
        )
    return candidates_indexed(
        df, cfg, doc_col=doc_col, text_col=text_col, emit=emit
    )
