"""Relation scoring — the reference's transformer inference loop
(src/task.py:320-346 ``_run_eval``; src/models.py:20-99 ``BaseModel``)
rewritten as Arrow-batched ``mapInPandas`` forward passes: no per-row Python
at the Spark level, model/scorer loaded once per executor task.

Every scorer backend sits behind one interface (``SCORER_REGISTRY``):

- ``stub``: deterministic, model-free (FIXTURES.md §9) — logits are a pure
  function of the marked sentence pair, so pipeline parity is exactly
  testable against the DuckDB oracle and the pure-Python reference
  reimplementation.
- ``hf``: a HuggingFace sequence-classification model with the reference's
  entity-marker special tokens ([s1]/[e1]/[s2]/[e2] appended to the vocab,
  src/task.py:192-196) and its scheme-2 head. Gated behind an import-try —
  transformers/torch are not in this container; the Spark-side plumbing
  (schema, batching, executor-local model cache) is identical for both.
- ``mlp``/``npt``: deterministic text backends of realistic cost; and
  ``binary`` (operators/binarymode.py): the reference's REL/NonRel head
  whose label comes from the (type1, type2) -> relation map.

At 100 TB: scoring is the dominant cost; it is embarrassingly parallel
(narrow map), so throughput scales with executor count. The triples path
(``enum_score_filter_number``) enumerates, marks and scores per document
in one pass and calls the scorer every ``PipelineConfig.batch_size``
pairs; ``score_candidates``/``score_filter_number`` score an already-built
candidate frame per Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (S1_CLOSE, S1_OPEN, S2_CLOSE, S2_OPEN, SPEC_TAGS,
                      STUB_W2, STUB_W3, PipelineConfig)
from ..functions.util import set_up_python_worker
from .binarymode import _make_binary_scorer
from .candidates import candidate_columns, doc_candidate_rows, doc_rows_input
from .segmentation import doc_mention_rows

__all__ = [
    "score_candidates", "score_filter_number", "enum_score_filter_number",
    "enum_score_number", "numbered_schema", "public_triples",
    "triple_rows", "brat_rows",
    "truncate_pair", "register_scorer", "SCORER_REGISTRY",
]


def truncate_pair(toks_a: list[str], toks_b: list[str],
                  budget: int) -> tuple[list[str], list[str]]:
    """Entity-centered truncation (reference ``_process_seq_len`` /
    ``_truncate_helper``, src/data_utils.py:330-370): while over budget,
    alternate sides a/b; on each side pop from whichever end (head or tail)
    is farther from its entity markers.

    Pure-Python on purpose: it runs *inside* the vectorized scorer UDF only
    for rows that exceed the budget (rare), exactly like the reference runs
    it per example.

    A side whose markers sit at BOTH ends is exhausted and is never popped
    further — the reference's ``head == tail == 0`` early return
    (src/data_utils.py:338-339), so the ``[s] entity [e]`` core always
    survives whole (the scheme-gather head's one-occurrence precondition,
    operators/minibert.py). The reference wastes the alternation turn on
    an exhausted side (its flag flips regardless); shrinking the other
    side instead is result-equivalent — each side's pop sequence depends
    only on its own state — and terminates when both cores together still
    exceed the budget (where the reference's loop would never return).
    On the pipeline corpus the budget is never even reached, so this is
    not observable in any driver query; fuzz-pinned over the full input
    space (incl. exhausted sides) in tests/test_tokenize.py.
    """
    def pop_one(toks: list[str], tags: tuple[str, str]) -> bool:
        if not toks:
            return False
        lows = [k for k, t in enumerate(toks) if t.lower() in
                (tags[0], tags[1])]
        head_gap = lows[0] if lows else 0
        tail_gap = (len(toks) - 1 - lows[-1]) if lows else len(toks) - 1
        if lows and head_gap == 0 and tail_gap == 0:
            return False  # markers at both ends: side exhausted
        # reference tie-break (src/data_utils.py _truncate_helper): pop the
        # HEAD only on strictly greater head gap; ties pop the TAIL
        if head_gap > tail_gap:
            toks.pop(0)
        else:
            toks.pop()
        return True

    tags_a, tags_b = (S1_OPEN, S1_CLOSE), (S2_OPEN, S2_CLOSE)
    a, b = list(toks_a), list(toks_b)
    flip = True
    while len(a) + len(b) > budget:
        popped = pop_one(a, tags_a) if flip else pop_one(b, tags_b)
        if not popped:
            popped = pop_one(b, tags_b) if flip else pop_one(a, tags_a)
            if not popped:
                break  # both cores at minimum; budget unreachable
        flip = not flip
    return a, b


def _make_stub_scorer(cfg: PipelineConfig, labels: list[str]) -> Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray]]:
    n = len(labels)
    uni = cfg.data_format_mode == 1

    def scorer(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        # lengths-only input (needs = "lengths", r7): the pipeline ships
        # the two precomputed window lengths instead of the marked
        # strings — the stub's logits are a pure function of them
        if "s1_len" in pdf.columns:
            l1 = pdf["s1_len"].to_numpy(np.int64)
            l2 = pdf["s2_len"].to_numpy(np.int64)
        else:
            l1 = pdf["s1_marked"].str.len().to_numpy(np.int64)
            l2 = pdf["s2_marked"].str.len().to_numpy(np.int64)
        w = STUB_W3 * (
            pdf["i1"].to_numpy(np.int64) + pdf["i2"].to_numpy(np.int64)
        )
        if uni:
            # uni mode scores ONE sequence "s1 s2" (src/task.py:41-49):
            # idx over the concatenated length (the +1 is the join space)
            idx = (l1 + l2 + 1 + w) % n
        else:
            # the one-hot logits' argmax; the deterministic score is
            # (idx+1)/n
            idx = (l1 + STUB_W2 * l2 + w) % n
        score = (idx + 1) / float(n)
        return idx, score

    return scorer


# the stub consumes only (len(s1_marked), len(s2_marked), i1, i2): declare
# it so the pipeline ships two ints per row across the Arrow boundary
# instead of two marked strings (guide §4.1 — pass only the columns the
# function needs), and derives the lengths arithmetically without ever
# building the strings (candidates emit="lengths")
_make_stub_scorer.needs = "lengths"


FEAT_DIM = 512
HIDDEN_DIM = 256


def _make_mlp_scorer(cfg: PipelineConfig, labels: list[str]):
    """Compute-realistic deterministic backend: hashed bag-of-token features
    of both marked sentences (the scheme-2 idea — entity-marker context
    concatenated, src/models.py:51-52) through a seeded 2-layer MLP. Weights
    are built ONCE per executor worker (the executor-local model cache that
    replaces the reference's per-process model load). Not oracle-checkable
    (float arithmetic) — used for throughput realism; 'stub' is the parity
    backend.

    A row's score depends on that row alone, bit for bit, so output does
    not change with batch size or partitioning: the hidden layer sums the
    gathered weight rows of the row's tokens in token order (instead of a
    dense ``x @ w1``, whose BLAS reduction order depends on the batch's row
    count), and the output layer is an ``einsum`` (no BLAS)."""
    import zlib

    n = len(labels)
    uni = cfg.data_format_mode == 1
    rng = np.random.default_rng(13)
    w1 = rng.standard_normal((FEAT_DIM, HIDDEN_DIM)) / np.sqrt(FEAT_DIM)
    w2 = rng.standard_normal((HIDDEN_DIM, n)) / np.sqrt(HIDDEN_DIM)
    tok_idx_cache: dict[str, int] = {}
    half = FEAT_DIM // 2

    def feat_index(tok: str) -> int:
        h = tok_idx_cache.get(tok)
        if h is None:
            h = zlib.crc32(tok.encode()) % half
            tok_idx_cache[tok] = h
        return h

    # worker-side import, once per task; the SHARED budget/truncation
    # contract (tokenize.fit_*_budget) — one definition for the feature
    # encoder, this scorer, and the npt transformer
    from .tokenize import fit_pair_budget, fit_uni_budget

    max_len = cfg.max_seq_len

    def scorer(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        h = np.empty((len(pdf), HIDDEN_DIM), dtype=np.float64)
        for r, (s1, s2) in enumerate(
            zip(pdf["s1_marked"].to_numpy(), pdf["s2_marked"].to_numpy())
        ):
            if uni:
                # uni mode: ONE bag over the concatenated window (no
                # half-split; 4-way marker truncation, data_utils.py:420)
                feats = [feat_index(t) for t in
                         fit_uni_budget((s1 + " " + s2).split(" "), max_len)]
            else:
                # entity-centered truncation, the reference's
                # _process_seq_len semantics (rare: only huge windows)
                ta, tb = fit_pair_budget(s1.split(" "), s2.split(" "),
                                         max_len)
                feats = [feat_index(t) for t in ta]
                feats += [half + feat_index(t) for t in tb]
            h[r] = w1[feats].sum(axis=0)
        logits = np.einsum("ij,jk->ik", np.tanh(h), w2)
        idx = logits.argmax(axis=1)
        ex = np.exp(logits - logits.max(axis=1, keepdims=True))
        probs = ex / ex.sum(axis=1, keepdims=True)
        return idx, probs[np.arange(len(idx)), idx]

    return scorer


def hf_add_marker_tokens(tok) -> int:
    """Grow a HF tokenizer's vocabulary with the four entity-marker
    tokens (config.SPEC_TAGS; reference src/task.py:192-196 adds the same
    markers before resizing embeddings). Pure wiring — works against any
    object with ``add_tokens`` — so the vocabulary-addition half of the
    hf backend is testable without the transformers wheel. Returns the
    tokenizer's reported count of newly added tokens."""
    return tok.add_tokens(list(SPEC_TAGS))


def hf_encode_args(s1_marked, s2_marked, data_format_mode: int,
                   max_seq_len: int):
    """Pure assembly of the HF tokenizer invocation for one Arrow batch —
    ``(args, kwargs)`` such that the scorer calls ``tok(*args,
    **kwargs)``. Factored out of the env-gated hf backend so sequence
    assembly and truncation wiring are covered by tests that run without
    torch/transformers:

    - sep mode (data_format_mode=0): the pair form ``tok(s1_list,
      s2_list)`` -> [CLS] s1 [SEP] s2 [SEP] (reference src/task.py:41-49)
    - uni mode (data_format_mode=1): one concatenated sequence ->
      [CLS] s1 s2 [SEP] (reference src/data_utils.py:58-88)
    - both: truncation on at ``max_seq_len`` (the U2 token budget),
      padded tensors."""
    kwargs = dict(
        truncation=True, max_length=max_seq_len, padding=True,
        return_tensors="pt",
    )
    if data_format_mode == 1:
        texts = [a + " " + b for a, b in zip(s1_marked, s2_marked)]
        return (texts,), kwargs
    return (list(s1_marked), list(s2_marked)), kwargs


def _make_hf_scorer(cfg: PipelineConfig):  # pragma: no cover - env-gated
    try:
        import torch  # noqa: F401
        from transformers import (AutoModelForSequenceClassification,
                                  AutoTokenizer)
    except ImportError as e:
        raise NotImplementedError(
            "the 'hf' scorer needs the transformers wheel set on every "
            "executor: pip install 'torch>=2.0' 'transformers>=4.30' "
            "(CPU wheels suffice for inference). It is the production "
            "backend (reference src/models.py:20-99) and shares ALL Spark "
            "plumbing — batching, schema, executor-local model cache — "
            "with 'stub'/'mlp', so a pipeline validated on those runs "
            "unchanged once the wheels are present. Set "
            "PipelineConfig(scorer_model_path=...) to the model dir."
        ) from e

    _cache: dict[str, object] = {}

    def scorer(pdf: pd.DataFrame):
        if "model" not in _cache:
            tok = AutoTokenizer.from_pretrained(cfg.scorer_model_path)
            hf_add_marker_tokens(tok)
            model = AutoModelForSequenceClassification.from_pretrained(
                cfg.scorer_model_path)
            model.resize_token_embeddings(len(tok))
            model.eval()
            _cache["tok"], _cache["model"] = tok, model
        import torch
        tok, model = _cache["tok"], _cache["model"]
        args, kwargs = hf_encode_args(
            pdf["s1_marked"], pdf["s2_marked"],
            cfg.data_format_mode, cfg.max_seq_len,
        )
        enc = tok(*args, **kwargs)
        with torch.no_grad():
            logits = model(**enc).logits.numpy()
        idx = logits.argmax(axis=1)
        ex = np.exp(logits - logits.max(axis=1, keepdims=True))
        probs = ex / ex.sum(axis=1, keepdims=True)
        return idx, probs[np.arange(len(idx)), idx]

    return scorer


# --- scorer backend registry (the run_app.py:121-149 extension contract) ---
# A factory takes (cfg, labels) and returns a callable
# ``pdf -> (label_idx ndarray, score ndarray)``. Third parties add backends
# via ``register_scorer`` and select them with PipelineConfig(scorer=name) /
# ``--scorer name`` — no engine code change (README "Custom scorer
# backends"). The factory runs INSIDE the executor task, once per task.
def _make_npt_scorer(cfg: PipelineConfig, labels: list[str]):
    # deferred import: the mini-transformer is only materialized when the
    # npt backend is actually selected
    from .minibert import make_npt_scorer

    return make_npt_scorer(cfg, labels)


def _validate_npt(cfg: PipelineConfig) -> None:
    from .minibert import validate_config

    validate_config(cfg)


# driver-side fail-fast hook (see _resolve_factory)
_make_npt_scorer.validate = _validate_npt


SCORER_REGISTRY: dict[str, Callable] = {
    "stub": _make_stub_scorer,
    "mlp": _make_mlp_scorer,
    "hf": lambda cfg, labels: _make_hf_scorer(cfg),
    # deterministic numpy transformer executing the reference's
    # scheme-gather head (operators/minibert.py)
    "npt": _make_npt_scorer,
    # REL/NonRel head + (type1, type2) -> relation map
    # (operators/binarymode.py)
    "binary": _make_binary_scorer,
}


def register_scorer(name: str, factory: Callable) -> None:
    """Register a custom scoring backend under ``name``.

    ``factory(cfg, labels)`` must return ``scorer(pdf) -> (idx, score)``
    where idx is an int array of label indices and score a float array,
    both aligned with ``pdf`` rows (pdf carries s1_marked, s2_marked,
    i1, i2 plus all candidate columns — those of
    ``candidates(emit="text")``). The triples path hands it at most
    ``cfg.batch_size + cfg.max_pairs_per_doc - 1`` rows per call.

    Optional: a ``factory.validate`` attribute — ``validate(cfg) ->
    None`` — runs DRIVER-SIDE at plan time so config errors fail fast
    instead of as retried executor task errors (the built-in npt backend
    uses this for its max_seq_len/scheme checks)."""
    SCORER_REGISTRY[name] = factory


def _resolve_factory(cfg: PipelineConfig) -> Callable:
    """Driver-side registry lookup. The RESOLVED factory (not the registry)
    is captured in the UDF closure, so backends registered by user code —
    including in __main__, which never re-imports on executor Python
    workers — serialize by value with the closure. A factory's optional
    ``validate(cfg)`` hook runs here so config errors abort at plan time
    on the driver, not as 4x-retried executor task failures."""
    try:
        factory = SCORER_REGISTRY[cfg.scorer]
    except KeyError:
        raise ValueError(
            f"unknown scorer {cfg.scorer!r}; registered: "
            f"{sorted(SCORER_REGISTRY)} (add yours via register_scorer)"
        ) from None
    validate = getattr(factory, "validate", None)
    if validate is not None:
        validate(cfg)
    return factory


SCORER_INPUT_COLS = ("s1_marked", "s2_marked", "s1_len", "s2_len")


def _needs_lengths(factory: Callable) -> bool:
    return getattr(factory, "needs", "text") == "lengths"


def scoring_emit(cfg: PipelineConfig) -> str:
    """The candidate-frame ``emit`` mode the configured backend wants:
    "lengths" for backends declaring ``needs = "lengths"`` (the stub),
    "text" otherwise — callers building candidates expressly for scoring
    (q_predictions) use this so the marked strings are
    never even constructed for a lengths-only backend."""
    return "lengths" if _needs_lengths(_resolve_factory(cfg)) else "text"


def _scorer_input(cand: DataFrame, cfg: PipelineConfig,
                  factory: Callable) -> DataFrame:
    """Project the candidate frame down to the backend's declared input
    (guide §4.1: pass only the columns the function needs across the
    Python boundary). Text backends get the frame unchanged; lengths-only
    backends get (s1_len, s2_len) ints — reused as-is when the frame was
    built with candidates(emit="lengths"), else derived via F.length so
    only two ints per row cross the Arrow boundary instead of two marked
    strings. A text backend given a frame built with
    ``candidates(emit="lengths")`` fails here, at plan time, naming the
    cause (otherwise: a KeyError inside an executor)."""
    if not _needs_lengths(factory):
        if not {"s1_marked", "s2_marked"} <= set(cand.columns):
            raise ValueError(
                f"scorer {cfg.scorer!r} needs the marked strings "
                "s1_marked/s2_marked, but the candidate frame has none "
                '(built with candidates(emit="lengths")?); build it with '
                'candidates(emit="text")')
        return cand
    if "s1_len" in cand.columns:
        return cand
    keep = [c for c in cand.columns if c not in ("s1_marked", "s2_marked")]
    return cand.select(
        *keep,
        F.length("s1_marked").alias("s1_len"),
        F.length("s2_marked").alias("s2_len"),
    )


def score_candidates(cand: DataFrame,
                     cfg: PipelineConfig | None = None) -> DataFrame:
    """candidates -> candidates + (pred_label, label_idx, score).

    One ``mapInPandas`` pass; scorer constructed once per partition-task.
    Alignment with the input rows is by content key (doc_id, i1, i2) carried
    through the UDF — never positional (SURVEY.md §2.3 J3 trap).

    The marked sentence strings are the scorer's INPUT only; they are
    dropped from the output (they dominate the Arrow return traffic and
    nothing downstream reads them). Backends declaring ``needs =
    "lengths"`` receive precomputed window lengths instead of the strings
    (see _scorer_input)."""
    cfg = cfg or PipelineConfig()
    labels = list(cfg.labels)
    label_arr = np.asarray(labels, dtype=object)
    factory = _resolve_factory(cfg)
    cand = _scorer_input(cand, cfg, factory)
    drop_cols = [c for c in SCORER_INPUT_COLS if c in cand.columns]
    out_fields = [
        f for f in cand.schema.fields if f.name not in drop_cols
    ] + [
        T.StructField("label_idx", T.IntegerType()),
        T.StructField("pred_label", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
    out_schema = T.StructType(out_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        set_up_python_worker()
        scorer = factory(cfg, labels)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            idx, score = scorer(pdf)
            out = pdf.drop(columns=drop_cols)
            out["label_idx"] = idx.astype("int32")
            out["pred_label"] = label_arr[idx]
            out["score"] = score
            yield out

    return cand.mapInPandas(run, schema=out_schema)


def numbered_schema(id_type: str, ids: bool = False) -> str:
    """The numeric form of a triple, ``(doc_id, rel_n, pred, score,
    sent_diff, i1, i2)``, plus ``subj_id``/``obj_id`` when ``ids``."""
    return (f"doc_id {id_type}, rel_n int, pred string, score double, "
            "sent_diff int, i1 int, i2 int"
            + (", subj_id string, obj_id string" if ids else ""))


def _filter_number(scored: pd.DataFrame, non_rel: str,
                   ids: bool = False) -> pd.DataFrame | None:
    """NonRel filter + per-doc R-numbering of a scored frame (candidate
    columns + pred_label + score) of COMPLETE docs: sort by (doc_id,
    sent_diff, i1, i2), number via groupby cumcount — one Arrow batch out
    per scorer call, never per doc. None when every row is NonRel. The
    rows are the numeric form (``numbered_schema``); ``ids`` keeps the
    frame's ``ent_id_1``/``ent_id_2`` as ``subj_id``/``obj_id``."""
    kept = scored[scored["pred_label"] != non_rel]
    if len(kept) == 0:
        return None
    kept = kept.sort_values(
        ["doc_id", "sent_diff", "i1", "i2"], kind="mergesort"
    ).reset_index(drop=True)
    rn = kept.groupby("doc_id", sort=False).cumcount() + 1
    out = {
        "doc_id": kept["doc_id"],
        "rel_n": rn.astype("int32"),
        "pred": kept["pred_label"],
        "score": kept["score"],
        "sent_diff": kept["sent_diff"].astype("int32"),
        "i1": kept["i1"].astype("int32"),
        "i2": kept["i2"].astype("int32"),
    }
    if ids:
        out["subj_id"], out["obj_id"] = kept["ent_id_1"], kept["ent_id_2"]
    return pd.DataFrame(out)


def public_triples(numbered: DataFrame) -> DataFrame:
    """The public triples ``(doc_id, rel_id, pred, subj_id, obj_id, score,
    sent_diff, i1, i2)`` of a numeric-form frame, derived JVM-side (millions
    of Python string objects otherwise dominate the UDF at low core
    counts): ``rel_id`` is ``"R" || rel_n``; ``subj_id``/``obj_id`` are
    ``"T" || i1``/``"T" || i2``, the doc-row kernels' mention ids. A frame
    that carries one of these columns keeps its non-NULL values; columns
    outside the numeric form and the ids follow, unchanged."""
    def derived(name: str, prefix: str, num: str):
        made = F.concat(F.lit(prefix), F.col(num))
        if name in numbered.columns:
            made = F.coalesce(F.col(name), made)
        return made.alias(name)

    own = {"doc_id", "rel_n", "rel_id", "pred", "subj_id", "obj_id",
           "score", "sent_diff", "i1", "i2"}
    return numbered.select(
        "doc_id", derived("rel_id", "R", "rel_n"), "pred",
        derived("subj_id", "T", "i1"), derived("obj_id", "T", "i2"),
        "score", "sent_diff", "i1", "i2",
        *[c for c in numbered.columns if c not in own],
    )


def _require_doc_ids(pdf: pd.DataFrame, what: str) -> None:
    """Raise a ``ValueError`` naming the NULL doc_ids of an input batch:
    numbering and rendering key on the doc_id (in pandas a NULL key
    otherwise surfaces as a cast error of its NaN row numbers)."""
    n_null = int(pdf["doc_id"].isna().sum())
    if n_null:
        raise ValueError(
            f"{n_null} {what} row(s) with a NULL doc_id: the triples and "
            "brat passes need an id for every document")


def enum_score_filter_number(
    docs: DataFrame, cfg: PipelineConfig | None = None,
) -> DataFrame:
    """documents -> triples in ONE Arrow-batched mapInPandas pass over the
    document rows: candidate enumeration + marking + scoring + NonRel
    filter + per-doc R-numbering. No candidate frame crosses the Python
    boundary. This is ``run_pipeline``'s only path, for every backend and
    for streams.

    Per doc, ``candidates.doc_candidate_rows`` builds the rows a candidate
    frame would carry: the marked strings for text backends, the window
    lengths for backends declaring ``needs = "lengths"``. The scorer thus
    sees the columns of ``candidates(emit=scoring_emit(cfg))`` and the
    ``register_scorer`` contract holds. Rows are buffered and scored every
    ``cfg.batch_size`` pairs at a doc boundary (``enum_score_number``).
    Each doc is whole within its input row, so numbering needs no
    cross-batch carry. Output equals ``score_filter_number`` over the same
    candidates, scores included, for any Arrow batch size, partitioning or
    ``batch_size`` (pinned against the pure-Python candidate reference in
    tests/test_kernel_path.py; the stub by the q_triples oracle). The pass
    emits numbers only; the id strings are derived JVM-side
    (``public_triples``)."""
    return public_triples(enum_score_number(docs, cfg))


def enum_score_number(docs: DataFrame, cfg: PipelineConfig | None = None,
                      brat: bool = False) -> DataFrame:
    """The one per-doc scoring kernel: one Arrow-batched ``mapInPandas``
    pass over the document rows that enumerates and marks each doc's
    candidate rows, buffers them and scores them once ``cfg.batch_size``
    pairs are pending, flushing only at a doc boundary, so a scorer call
    holds at most ``batch_size + max_pairs_per_doc - 1`` rows. Each flush
    emits ``_filter_number`` of its scored rows, the numeric form of a
    triple ``(doc_id, rel_n, pred, score, sent_diff, i1, i2)``
    (``numbered_schema``): no id string crosses the Arrow boundary. The
    ledger stores this form.

    With ``brat`` the schema gains ``ann_text``: triple rows carry it NULL,
    and every doc with a gazetteer mention adds one row, triple columns
    NULL, holding its brat ``.ann`` text: its T lines
    (``segmentation.doc_mention_rows``, in ``tok_idx`` order:
    ``T<i>\t<type> <start> <end>\t<surface>``) then its R lines (in
    ``rel_n`` order); ``triple_rows`` and ``brat_rows`` split the two. A
    doc's rows follow the flush that scored it, and a run of docs without
    candidates is flushed at the end of its input batch instead of being
    held across Arrow batches. A NULL doc_id raises a ``ValueError``
    naming it (``_require_doc_ids``)."""
    cfg = cfg or PipelineConfig()
    factory = _resolve_factory(cfg)
    emit = "lengths" if _needs_lengths(factory) else "text"
    labels = list(cfg.labels)
    label_arr = np.asarray(labels, dtype=object)
    non_rel = cfg.non_rel
    batch_size = max(cfg.batch_size, 1)
    rows_of = doc_candidate_rows(cfg, emit)
    cols = candidate_columns(emit)
    src = doc_rows_input(docs)
    schema = numbered_schema(src.schema["doc_id"].dataType.simpleString())
    if brat:
        schema += ", ann_text string"
        mention_rows = doc_mention_rows(cfg)
        out_cols = [f.split(" ")[0] for f in schema.split(", ")]
        no_triple = (None,) * (len(out_cols) - 2)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        set_up_python_worker()
        scorer = factory(cfg, labels)

        def flush(seen: list, rows: list) -> Iterator[pd.DataFrame]:
            numbered = None
            if rows:
                pdf = pd.DataFrame(rows, columns=cols)
                idx, sc = scorer(pdf)
                pdf["pred_label"] = label_arr[idx]
                pdf["score"] = sc
                numbered = _filter_number(pdf, non_rel)
            if numbered is not None:
                yield numbered.assign(ann_text=None) if brat else numbered
            if not brat:
                return
            r_lines = _r_lines(numbered)
            anns = []
            for did, tx in seen:
                men = mention_rows(did, tx)
                if not men:
                    continue
                ann = "\n".join(f"{mid}\t{et} {st} {en}\t{surf}"
                                for _, mid, et, _, _, surf, st, en in men)
                r = r_lines.get(did)
                anns.append((did, *no_triple,
                             ann if r is None else f"{ann}\n{r}"))
            if anns:
                yield pd.DataFrame(anns, columns=out_cols)

        pending: list = []
        seen: list = []
        for pdf_in in batches:
            _require_doc_ids(pdf_in, "document")
            for did, tx in zip(pdf_in["doc_id"], pdf_in["text"]):
                seen.append((did, tx))
                pending += rows_of(did, tx)
                if len(pending) >= batch_size:
                    yield from flush(seen, pending)
                    pending, seen = [], []
            if seen and not pending:
                yield from flush(seen, pending)
                seen = []
        if seen:
            yield from flush(seen, pending)

    return src.mapInPandas(run, schema=schema)


def triple_rows(rows: DataFrame) -> DataFrame:
    """The numeric triples of a doc-row pass, either form of
    ``enum_score_number``: the brat form's triple rows, without
    ``ann_text``."""
    if "ann_text" not in rows.columns:
        return rows
    return rows.filter(F.col("rel_n").isNotNull()).drop("ann_text")


def brat_rows(rows: DataFrame) -> DataFrame:
    """The ``(doc_id, ann_text)`` rows of a brat-form doc-row pass
    (``enum_score_number(..., brat=True)``)."""
    return rows.filter(F.col("ann_text").isNotNull()).select(
        "doc_id", "ann_text")


def _r_lines(numbered: pd.DataFrame | None) -> dict:
    """doc_id -> the doc's brat R lines in ``rel_n`` order, joined by
    newlines: ``R<n>\t<pred> Arg1:T<i1> Arg2:T<i2>``."""
    if numbered is None:
        return {}
    lines: dict = {}
    for did, n, pred, i1, i2 in zip(
            numbered["doc_id"], numbered["rel_n"], numbered["pred"],
            numbered["i1"], numbered["i2"]):
        lines.setdefault(did, []).append(
            f"R{n}\t{pred} Arg1:T{i1} Arg2:T{i2}")
    return {did: "\n".join(ls) for did, ls in lines.items()}


def score_filter_number(cand: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Scoring + NonRel filter + per-doc R-numbering of an already-built
    candidate frame in ONE ``mapInPandas`` pass with ZERO shuffle.

    Correctness requires each document's candidate rows to be contiguous
    within one partition — guaranteed by the narrow candidate generation
    (each doc's pairs come from one input row, and mapInPandas preserves
    within-partition order). Docs may span Arrow batch boundaries, so the
    rows of the batch's last doc are carried into the next batch. Numbering
    is ``enum_score_filter_number``'s (canonical sort (sent_diff, i1, i2)
    per doc). A NULL doc_id raises a ``ValueError`` naming it."""
    cfg = cfg or PipelineConfig()
    labels = list(cfg.labels)
    label_arr = np.asarray(labels, dtype=object)
    non_rel = cfg.non_rel
    factory = _resolve_factory(cfg)
    cand = _scorer_input(cand, cfg, factory)
    drop_cols = [c for c in SCORER_INPUT_COLS if c in cand.columns]
    id_type = cand.schema["doc_id"].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        set_up_python_worker()
        scorer = factory(cfg, labels)
        carry: pd.DataFrame | None = None  # rows of the batch-boundary doc
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _require_doc_ids(pdf, "candidate")
            idx, score = scorer(pdf)
            pdf = pdf.drop(columns=drop_cols)
            pdf["pred_label"] = label_arr[idx]
            pdf["score"] = score
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the last doc: it may continue in the next batch
            boundary = pdf["doc_id"] == pdf["doc_id"].iloc[-1]
            carry = pdf[boundary]
            out = _filter_number(pdf[~boundary], non_rel, ids=True)
            if out is not None:
                yield out
        if carry is not None:
            out = _filter_number(carry, non_rel, ids=True)
            if out is not None:
                yield out

    return public_triples(
        cand.mapInPandas(run, schema=numbered_schema(id_type, ids=True)))
