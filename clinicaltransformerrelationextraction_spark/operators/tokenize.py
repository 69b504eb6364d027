"""Tokenize + truncate to InputFeatures — the U2 operator completed.

Reference semantics:

- sep-mode encoding ``[CLS] s1 [SEP] s2 [SEP]`` with token budget
  ``max_seq_len - total_special_toks`` (3 for BERT-like; src/config.py:29,
  src/data_utils.py:309-310, convert_examples_to_relation_extraction_features
  :58-88 — note the reference passes ``truncation=False``: truncation is
  ONLY its own entity-centered loop);
- pair truncation loop: ``_process_seq_len`` alternating a/b sides,
  ``_truncate_helper`` popping head iff head gap is strictly larger
  (src/data_utils.py:330-370) — implemented in scoring.truncate_pair;
- uni-mode encoding ``[CLS] s1 s2 [SEP]`` with the FOUR-way truncation over
  all 4 markers (``RelationDataFormatUniProcessor._process_seq_len``,
  src/data_utils.py:420-445) — implemented here as ``truncate_uni``.

The tokenizer itself is a deterministic md5-vocab stand-in (this container
has no HF tokenizer): id = 10 + int(md5(tok)[:4], 16) % VOCAB_MOD, CLS=1,
SEP=2 — chosen because BOTH engines can compute it exactly, so the encoded
feature rows are DuckDB-oracle-checked end to end. Both encoders run
through one ``functions.util.row_kernel`` pass (``_features``), which
keeps the input's ``doc_id`` type; a production tokenizer is another
``encode`` function for ``_features``, with the same batching and
output schema.
"""

from __future__ import annotations

import hashlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import SPEC_TAGS, PipelineConfig
from ..functions.util import row_kernel
from .scoring import truncate_pair

__all__ = [
    "tok_id", "truncate_uni", "encode_pair", "tokenize_features",
    "q_tokenized_features",
]

VOCAB_MOD = 30000
ID_OFFSET = 10
CLS_ID = 1
SEP_ID = 2


def tok_id(tok: str) -> int:
    """Deterministic vocab id, identical in Spark and DuckDB."""
    return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % VOCAB_MOD \
        + ID_OFFSET


def truncate_uni(toks: list[str], budget: int) -> list[str]:
    """Uni-mode 4-way truncation (src/data_utils.py:420-445): while over
    budget, measure the four gaps — head→[s1], [e1]→middle, middle→[s2],
    [s2... (a1 = t1, b1 = end - t4, c1 = mid - t2, d1 = t3 - mid) — and pop
    from the largest one (head, tail, or midway between a marker and the
    middle). Safety guard beyond the reference: a pop position that lands ON
    a marker stops the loop instead of destroying it (the reference would
    pop the tag; it never hits this case because its inputs always carry
    context around markers)."""
    toks = list(toks)
    tagset = {t.lower() for t in SPEC_TAGS}
    while len(toks) > budget:
        tag_pos = [k for k, t in enumerate(toks) if t.lower() in tagset]
        if len(tag_pos) != 4:
            break
        t1, t2, t3, t4 = tag_pos
        mid = (len(toks) - 1) // 2
        a1 = t1
        b1 = (len(toks) - 1) - t4
        c1 = mid - t2
        d1 = t3 - mid
        m = max(a1, b1, c1, d1)
        if m <= 0:
            break
        if a1 == m:
            pos = 0
        elif b1 == m:
            pos = len(toks) - 1
        elif c1 == m:
            pos = t2 + c1 // 2
        else:
            pos = t3 - d1 // 2
        if pos in (t1, t2, t3, t4):
            break
        toks.pop(pos)
    return toks


def _check_budget(n_tokens: int, budget: int, max_seq_len: int) -> None:
    if n_tokens > budget:
        raise ValueError(
            f"row still holds {n_tokens} tokens after truncation but the "
            f"budget is {budget} (max_seq_len={max_seq_len}): truncation "
            "preserves the [s]/[e] entity-marker cores, so this row cannot "
            "fit — raise max_seq_len. (The reference's _process_seq_len "
            "never returns on such input.)"
        )


_TAGSET = frozenset(t.lower() for t in SPEC_TAGS)


def _n_tags(toks: list[str]) -> int:
    return sum(t.lower() in _TAGSET for t in toks)


def _force_fit_sides(
    sides: list[list[str]], budget: int
) -> list[list[str]] | None:
    """Deterministic last-resort fit for rows the entity-centered loops
    cannot handle — dirty web text containing literal marker tokens (the
    reference CRASHES on such rows: its uni 4-way unpack and its gather
    both assume the exact marker census) or geometric stalls of the uni
    4-way loop.

    Every token across all sides is ranked by distance to the NEAREST
    marker token and the best ``budget`` positions are kept, re-emitted
    in original order: markers always survive, entity words sit at
    distance 1 from their markers so they outlive far prose, and a side
    with more marker-adjacent material keeps proportionally more. Tokens
    inside a side's CLEAN marker-span layout (exactly the expected
    census: 2 per pair side, 4 uni) are protected at distance 0 — a
    clean side never loses its entity mention to a dirty sibling. None
    when the markers alone exceed the budget (caller raises)."""
    scored: list[tuple[int, int, int]] = []
    n_markers = 0
    for si, toks in enumerate(sides):
        mpos = [i for i, t in enumerate(toks) if t.lower() in _TAGSET]
        n_markers += len(mpos)
        clean = len(mpos) == (4 if len(sides) == 1 else 2)
        spans: list[tuple[int, int]] = []
        if clean:
            spans = [(mpos[k], mpos[k + 1])
                     for k in range(0, len(mpos) - 1, 2)]
        mset = set(mpos)
        for i, t in enumerate(toks):
            if t.lower() in _TAGSET:
                d = -1  # markers rank before everything
            elif any(lo < i < hi for lo, hi in spans) or (
                i - 1 in mset and i + 1 in mset
            ):
                # entity word: inside a clean core, or flanked by markers
                # on both sides even in a dirty layout
                d = 0
            elif mpos:
                d = min(abs(i - m) for m in mpos)
            else:
                d = len(toks) + i  # markerless side: drop tail first
            scored.append((d, si, i))
    if n_markers > budget:
        return None
    keep = {(si, i) for _, si, i in sorted(scored)[:budget]}
    return [
        [t for i, t in enumerate(toks) if (si, i) in keep]
        for si, toks in enumerate(sides)
    ]


def fit_pair_budget(
    toks_a: list[str], toks_b: list[str], max_seq_len: int,
) -> tuple[list[str], list[str]]:
    """THE sep-mode budget contract (U2): entity-centered truncation to
    max_seq_len - 3, never emitting an over-budget row. Single definition
    shared by the feature encoder below, the mlp scorer, and the npt
    transformer's encoder.

    When the entity-centered loop exhausts while still over budget, the
    marker census decides: a CLEAN row (exactly 2 markers per side) means
    the entity cores genuinely don't fit — an actionable config/data
    error, raised descriptively. A DIRTY row (prose containing literal
    marker tokens widened the protected span) must not kill a corpus job,
    so it gets the marker-preserving force fit instead."""
    budget = max_seq_len - 3
    if len(toks_a) + len(toks_b) > budget:
        toks_a, toks_b = truncate_pair(toks_a, toks_b, budget)
        total = len(toks_a) + len(toks_b)
        if total > budget:
            if _n_tags(toks_a) == 2 and _n_tags(toks_b) == 2:
                _check_budget(total, budget, max_seq_len)
            fitted = _force_fit_sides([toks_a, toks_b], budget)
            if fitted is None:
                _check_budget(total, budget, max_seq_len)
            toks_a, toks_b = fitted
    return toks_a, toks_b


def fit_uni_budget(toks: list[str], max_seq_len: int) -> list[str]:
    """Uni-mode twin of fit_pair_budget: budget max_seq_len - 2. The
    4-way loop stalls not only on dirty marker layouts but also on clean
    geometry (pop position landing ON a marker). A clean row (census 4)
    whose marker CORES genuinely exceed the budget raises the same
    actionable error as the sep path — a misconfigured max_seq_len must
    not silently degrade a whole corpus; every other stall falls back to
    the marker-preserving force fit."""
    budget = max_seq_len - 2
    if len(toks) > budget:
        toks = truncate_uni(toks, budget)
        if len(toks) > budget:
            mpos = [i for i, t in enumerate(toks)
                    if t.lower() in _TAGSET]
            if len(mpos) == 4:
                core = (mpos[1] - mpos[0] + 1) + (mpos[3] - mpos[2] + 1)
                if core > budget:
                    _check_budget(core, budget, max_seq_len)
            fitted = _force_fit_sides([toks], budget)
            if fitted is None:
                _check_budget(len(toks), budget, max_seq_len)
            toks = fitted[0]
    return toks


def encode_pair(
    toks_a: list[str], toks_b: list[str], max_seq_len: int,
) -> list[int]:
    """[CLS] a [SEP] b [SEP] ids under the reference budget contract."""
    toks_a, toks_b = fit_pair_budget(toks_a, toks_b, max_seq_len)
    return (
        [CLS_ID]
        + [tok_id(t) for t in toks_a]
        + [SEP_ID]
        + [tok_id(t) for t in toks_b]
        + [SEP_ID]
    )


def encode_uni(toks: list[str], max_seq_len: int) -> list[int]:
    """[CLS] s1 s2 [SEP] ids, uni-mode budget max_seq_len - 2."""
    return [CLS_ID] + [tok_id(t) for t in fit_uni_budget(toks, max_seq_len)
                       ] + [SEP_ID]


def _features(src: DataFrame, encode: Callable) -> DataFrame:
    """``(doc_id, i1, i2, n_ids, ids_md5)`` over ``src``'s ``(doc_id, i1,
    i2, *text_cols)`` rows, one ``row_kernel`` pass, zero shuffle:
    ``encode(*texts)`` gives a row's id sequence, hashed to a scalar (md5
    of space-joined decimal ids) so the row is canonicalizer-sortable;
    n_ids carries the budget invariant n_ids <= max_seq_len. ``doc_id``
    keeps ``src``'s type; a row with a NULL text gives no row."""
    id_type = src.schema["doc_id"].dataType.simpleString()

    def rows_of(did, i1, i2, *texts) -> list[tuple]:
        if any(t is None for t in texts):
            return []
        ids = encode(*texts)
        digest = hashlib.md5(" ".join(map(str, ids)).encode()).hexdigest()
        return [(did, i1, i2, len(ids), digest)]

    return row_kernel(
        src,
        f"doc_id {id_type}, i1 int, i2 int, n_ids int, ids_md5 string",
        rows_of,
    )


def tokenize_features(cand: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """candidates -> tokenized InputFeatures digest: sep-mode
    ``[CLS] s1 [SEP] s2 [SEP]`` over ``s1_marked``/``s2_marked``."""
    max_len = (cfg or PipelineConfig()).max_seq_len
    return _features(
        cand.select("doc_id", "i1", "i2", "s1_marked", "s2_marked"),
        lambda s1, s2: encode_pair(s1.split(" "), s2.split(" "), max_len),
    )


def q_tokenized_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.candidates import candidates
    from ..plans.pipeline import load_documents

    cfg = PipelineConfig()
    return tokenize_features(candidates(load_documents(spark, sf), cfg), cfg)


def tokenize_features_uni(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Uni-mode ([CLS] S1 S2 [SEP], data_format_mode=1, src/task.py:41-49):
    expects a ``uni_marked`` column carrying BOTH marker pairs in one
    window string (candidates_uni); encodes under the max_seq_len - 2
    budget with the 4-way truncation."""
    max_len = (cfg or PipelineConfig()).max_seq_len
    return _features(
        df.select("doc_id", "i1", "i2", "uni_marked"),
        lambda s: encode_uni(s.split(" "), max_len),
    )


def q_tokenized_uni(spark: SparkSession, sf: str) -> DataFrame:
    """Uni example construction is the space-concat of the two marked
    sentences (RelationDataFormatUniProcessor._create_examples_helper:
    text_a = " ".join([line[1], line[2]]))."""
    from pyspark.sql import functions as F

    from ..operators.candidates import candidates
    from ..plans.pipeline import load_documents

    cfg = PipelineConfig()
    cand = candidates(load_documents(spark, sf), cfg)
    uni = cand.select(
        "doc_id", "i1", "i2",
        F.concat_ws(" ", "s1_marked", "s2_marked").alias("uni_marked"),
    )
    return tokenize_features_uni(uni, cfg)
