"""Pure-Python reference reimplementation of the pipeline semantics,
written in the reference repo's style (per-document loops,
itertools.permutations — see preprocessing.ipynb cells 5-6), used as the
oracle for the north-rule P/R >= 0.95 triple comparison.

Deliberately shares NO code with the Spark implementation: dict/loop based,
so a bug in the package's enumeration kernels cannot hide in a shared
helper.
"""

from __future__ import annotations

import itertools

from clinicaltransformerrelationextraction_spark.config import (
    CUTOFF,
    ENT_VOCAB,
    LABELS,
    NON_REL,
    SENT_LEN,
    STUB_W2,
    STUB_W3,
    VALID_COMBS,
)


def reference_triples(doc_id, text: str) -> list[tuple]:
    """One document -> [(doc_id, rel_id, pred, subj_id, obj_id, score)]."""
    toks = text.split(" ")
    mentions = []  # (i 1-based, tok, ent_type, sent_id)
    for idx, tok in enumerate(toks):
        if tok in ENT_VOCAB:
            mentions.append(
                (idx + 1, tok, ENT_VOCAB[tok], idx // SENT_LEN)
            )

    valid = set(VALID_COMBS)
    results = []
    for m1, m2 in itertools.permutations(mentions, 2):
        i1, _, t1, s1 = m1
        i2, _, t2, s2 = m2
        if (t1, t2) not in valid:
            continue
        if abs(s1 - s2) > CUTOFF:
            continue
        lo, hi = min(s1, s2), max(s1, s2)
        window = toks[lo * SENT_LEN:(hi + 1) * SENT_LEN]
        wst = lo * SENT_LEN + 1  # 1-based original index of window[0]

        def marked(ent_i, open_t, close_t):
            out = []
            for k, tok in enumerate(window):
                if wst + k == ent_i:
                    out.append(f"{open_t} {tok} {close_t}")
                else:
                    out.append(tok)
            return " ".join(out)

        s1m = marked(i1, "[s1]", "[e1]")
        s2m = marked(i2, "[s2]", "[e2]")
        label_idx = (
            len(s1m) + STUB_W2 * len(s2m) + STUB_W3 * (i1 + i2)
        ) % len(LABELS)
        pred = LABELS[label_idx]
        if pred == NON_REL:
            continue
        score = (label_idx + 1) / len(LABELS)
        results.append((abs(s1 - s2), i1, i2, pred, score))

    results.sort()
    out = []
    for rn, (sd, i1, i2, pred, score) in enumerate(results, start=1):
        out.append(
            (doc_id, f"R{rn}", pred, f"T{i1}", f"T{i2}", score)
        )
    return out


def reference_corpus_triples(rows) -> list[tuple]:
    """rows: iterable of (doc_id, text)."""
    out = []
    for doc_id, text in rows:
        out.extend(reference_triples(doc_id, text))
    return out


def reference_candidates(rows, cfg) -> list[tuple]:
    """rows: iterable of (doc_id, text) -> the kept candidate rows
    (doc_id, ent_id_1, ent_id_2, ent_type_1, ent_type_2, s1_marked,
    s2_marked, sent_diff, i1, i2) under ``cfg``'s vocabulary, combos,
    sentence length, cutoff and per-doc cap: the first
    ``max_pairs_per_doc`` valid pairs in (arg1 token order, arg2 token
    order), every pair when the cap is 0. NULL text has no candidates."""
    valid = set(cfg.valid_combs)
    sl = cfg.sent_len
    out = []
    for doc_id, text in rows:
        if text is None:
            continue
        toks = text.split(" ")
        mentions = [
            (idx + 1, cfg.ent_vocab[tok], idx // sl)
            for idx, tok in enumerate(toks)
            if tok in cfg.ent_vocab
        ]
        kept = []
        for (i1, t1, s1), (i2, t2, s2) in itertools.permutations(
                mentions, 2):
            if (t1, t2) not in valid or abs(s1 - s2) > cfg.cutoff:
                continue
            lo, hi = min(s1, s2), max(s1, s2)
            window = toks[lo * sl:(hi + 1) * sl]
            wst = lo * sl + 1  # 1-based original index of window[0]

            def marked(ent_i, open_t, close_t):
                return " ".join(
                    f"{open_t} {tok} {close_t}" if wst + k == ent_i else tok
                    for k, tok in enumerate(window)
                )

            kept.append((
                doc_id, f"T{i1}", f"T{i2}", t1, t2,
                marked(i1, "[s1]", "[e1]"), marked(i2, "[s2]", "[e2]"),
                abs(s1 - s2), i1, i2,
            ))
        if cfg.max_pairs_per_doc:
            kept = kept[:cfg.max_pairs_per_doc]
        out.extend(kept)
    return out
