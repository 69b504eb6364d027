"""Shared semantic constants + pipeline configuration.

These constants are the single source of truth for BOTH the Spark
implementation (operators/*) and the DuckDB oracle SQL (plans/oracle.py),
so that the two engines compute bit-identical results.

Semantics mirror the reference pipeline
(uf-hobi-informatics-lab/ClinicalTransformerRelationExtraction):

- sentence window segmentation       <- preprocessing.ipynb (cell 4): external
  sentence splitter; here: fixed token windows (deterministic, SQL-expressible)
- entity gazetteer mention detection <- reference consumes gold brat ``T``
  lines (src/brat_eval.py:95-126); here: a deterministic vocabulary
- candidate pair generation          <- get_permutated_relation_pairs
  (preprocessing.ipynb cell 5) with CUTOFF=1 sentence distance and the n2c2
  valid entity-type-pair set (cells 6, 11, 15)
- [s1]/[e1] + [s2]/[e2] marker insertion <- format_relen (cell 6)
- stub relation scorer               <- stands in for the transformer forward
  pass (src/models.py:20-99); deterministic so pipeline parity is testable
- NonRel filtering + per-doc R numbering <- post_processing.py:49-63,99-100
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- segmentation -----------------------------------------------------------
SENT_LEN = 10  # tokens per sentence window
CUTOFF = 1  # max |sent_id_1 - sent_id_2| for a candidate pair (cell 11)

# --- label vocabulary (reference sample_data/train.tsv col 1 subset) --------
LABELS: list[str] = ["NonRel", "adverse", "reason", "do", "fr"]
NON_REL = "NonRel"

# --- entity gazetteer: surface token -> entity type --------------------------
# Deterministic stand-in for the gold brat ``T`` annotations of the reference.
# Tokens are drawn from the synthetic corpus vocabulary (TESTDATA.md).
# Enlarged in round 4 ("table" -> Drug, "key" -> ADE) so the canonical
# entity graph has 12 nodes / 3 drug hubs instead of 10/2 — richer degree/
# PageRank/component structure at a measured +67% candidate volume.
ENT_VOCAB: dict[str, str] = {
    "spark": "Drug",
    "hash": "Drug",
    "table": "Drug",
    "join": "ADE",
    "key": "ADE",
    "merge": "Reason",
    "sort": "Frequency",
    "scan": "Dosage",
    "filter": "Route",
    "window": "Duration",
    "group": "Strength",
    "stream": "Form",
}

# n2c2-style valid (type_1, type_2) combinations — preprocessing.ipynb cell 15
VALID_COMBS: list[tuple[str, str]] = [
    ("ADE", "Drug"),
    ("Reason", "Drug"),
    ("Strength", "Drug"),
    ("Route", "Drug"),
    ("Frequency", "Drug"),
    ("Dosage", "Drug"),
    ("Form", "Drug"),
    ("Duration", "Drug"),
]
ARG1_TYPES: list[str] = [t1 for t1, _ in VALID_COMBS]

# --- deterministic stub scorer ----------------------------------------------
# label_idx = (len(s1_marked) + W2*len(s2_marked) + W3*(i1+i2)) % len(LABELS)
# score     = (label_idx + 1) / len(LABELS)
# This is the model-free stand-in for the transformer head (SURVEY.md §2.8 U3,
# FIXTURES.md §9): identical in the Arrow-batched pandas UDF and the oracle.
STUB_W2 = 3
STUB_W3 = 7

# --- gold relation rule (synthetic eval oracle) -------------------------------
# A candidate pair is "gold" iff (3*i1 + i2) % GOLD_MOD == 0, with the gold
# label derived by the same stub formula shifted by GOLD_SHIFT.
GOLD_MOD = 4
GOLD_SHIFT = 1

# --- binary classification mode ----------------------------------------------
# The reference's second prediction mode (post_processing.py:108-139): the
# model answers only REL vs NonRel; the concrete relation label comes from an
# (entity_type_1, entity_type_2) -> relation map built at training time
# (preprocessing.ipynb cell 16). One-hot binary label contract:
# {0: [1, 0], 1: [0, 1]} (src/data_utils.py:112-114). Scorer backend
# "binary" (operators/binarymode.py).
ENTP2REL: dict[tuple[str, str], str] = {
    ("ADE", "Drug"): "adverse",
    ("Reason", "Drug"): "reason",
    ("Dosage", "Drug"): "do",
    ("Frequency", "Drug"): "fr",
    ("Strength", "Drug"): "do",
    ("Route", "Drug"): "fr",
    ("Form", "Drug"): "adverse",
    ("Duration", "Drug"): "reason",
}

# --- ANN/IVF defaults --------------------------------------------------------
# cells each IVF query probes (recall/scan-scope dial; the measured
# recall@10 curve lives at operators/similarity.py N_PROBE). Single source
# of truth for the Spark query default, the DuckDB oracle twin, and
# PipelineConfig.ann_nprobe.
ANN_NPROBE = 4

# --- decontamination census --------------------------------------------------
# n-gram window length for the benchmark-contamination scan
# (operators/textstats.py q_contamination). Real decontamination practice
# uses longer windows (8-13 grams) than the bigram shingles the dedup
# sketches share — the census n is therefore its OWN config, not an
# accident of reusing the bigram derivation (r5 verdict item). Single
# source of truth for the Spark query, the DuckDB oracle twin, and the
# probe fixtures.
CONTAM_NGRAM = 3

# --- marker tokens (readme.md:35-51) -----------------------------------------
S1_OPEN, S1_CLOSE = "[s1]", "[e1]"
S2_OPEN, S2_CLOSE = "[s2]", "[e2]"
SPEC_TAGS = [S1_OPEN, S1_CLOSE, S2_OPEN, S2_CLOSE]


@dataclass
class PipelineConfig:
    """Runtime configuration for the KG-construction pipeline.

    Mirrors the reference's CLI argument surface
    (src/relation_extraction.py:81-173) where it affects dataflow semantics.
    """

    sent_len: int = SENT_LEN
    cutoff: int = CUTOFF
    labels: list[str] = field(default_factory=lambda: list(LABELS))
    non_rel: str = NON_REL
    ent_vocab: dict[str, str] = field(default_factory=lambda: dict(ENT_VOCAB))
    valid_combs: list[tuple[str, str]] = field(
        default_factory=lambda: list(VALID_COMBS)
    )
    # scale controls (north rule: skew/salting/cap)
    max_pairs_per_doc: int = 10_000  # cap on J1 quadratic blowup; dropped
    # pairs are counted, never silently truncated (SURVEY.md §7.4.4)
    salt_buckets: int = 32  # salting modulus for host-domain skew
    scorer: str = "stub"  # stub|mlp|npt|hf|binary or a register_scorer name
    # hf backend only: model dir/hub id for AutoModelForSequenceClassification
    scorer_model_path: str = "bert-base-uncased"
    max_seq_len: int = 512  # token budget incl. special tokens (U2)
    # candidate pairs per scorer call in run_pipeline's doc-row kernel
    # (scoring.enum_score_filter_number), flushed at doc boundaries
    batch_size: int = 1024
    # 0 = sep mode [CLS] s1 [SEP] s2 [SEP]; 1 = uni mode [CLS] s1 s2 [SEP]
    # (reference --data_format_mode, src/task.py:41-49) — routes both the
    # tokenizer AND the scorer input encoding
    data_format_mode: int = 0
    # classifier-head shape over pooled/marker hidden states (reference
    # --classification_scheme, src/relation_extraction.py:87, default 2 =
    # [pooled, s1, e1, s2, e2]); consumed by the npt backend
    # (operators/minibert.py). stub/mlp ignore it, and so does hf: a
    # trained reference checkpoint BAKES its head (and therefore its
    # scheme) into the weights — the flag cannot re-head a loaded model
    classification_scheme: int = 2
    # IVF ANN: cells probed per query — the recall/cost dial (see
    # operators/similarity.py for the measured recall curve)
    ann_nprobe: int = ANN_NPROBE
