"""Binary classification mode — the reference's second prediction path,
as the ``"binary"`` scorer backend (``PipelineConfig(scorer="binary")``,
``--scorer binary``).

Reference semantics (mirrored exactly, Spark-first):

- the model head answers only REL (1) vs NonRel (0); labels are one-hot
  ``{0: [1, 0], 1: [0, 1]}`` (src/data_utils.py:112-114, C11);
- the prediction-alignment map carries the LAST FIVE candidate columns
  ``(ent_type_1, ent_type_2, arg1, arg2, fid)`` (``load_mappings_bin``,
  post_processing.py:108-117) — here the scorer sees each candidate row
  whole, so the types travel with the pair;
- the concrete relation label is NOT produced by the head: positive pairs
  look it up in the ``(type1, type2) -> relation`` map built at training
  time (``combine_maps_predictions_bin``, post_processing.py:120-139;
  map construction preprocessing.ipynb cell 16).

The map is tens of rows (one per valid type combination), so it is a plain
dict in the scorer's closure, not a broadcast table. The scorer runs inside
``scoring.enum_score_filter_number`` like every other backend, so the
NonRel filter and the per-doc R-numbering are the multiclass path's.
A positive pair whose types are outside the map becomes NonRel, i.e. it
yields no triple.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ENTP2REL, STUB_W2, STUB_W3, PipelineConfig

__all__ = ["q_binary_triples"]


def _validate_binary(cfg: PipelineConfig) -> None:
    """Driver-side: every label the binary mode can emit must be in
    ``cfg.labels``, else the scorer would fail inside an executor."""
    for label in (cfg.non_rel, *sorted(set(ENTP2REL.values()))):
        if label not in cfg.labels:
            raise ValueError(
                f"scorer 'binary' emits label {label!r}, which is not in "
                f"PipelineConfig.labels {list(cfg.labels)}"
            )


def _make_binary_scorer(cfg: PipelineConfig, labels: list[str]):
    """Deterministic stub of the binary head: REL iff
    ``(s1_len + W2*s2_len + W3*(i1+i2)) % 2 == 1``. A REL pair gets its
    map relation with score 1.0 (the softmax-free one-hot probability,
    ``(bin_idx+1)/2``, oracle-exact); every other pair gets NonRel with
    score 0.5."""
    non_rel = labels.index(cfg.non_rel)
    rel_idx = {k: labels.index(v) for k, v in ENTP2REL.items()}

    def scorer(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        raw = (
            pdf["s1_len"].to_numpy(np.int64)
            + STUB_W2 * pdf["s2_len"].to_numpy(np.int64)
            + STUB_W3
            * (pdf["i1"].to_numpy(np.int64) + pdf["i2"].to_numpy(np.int64))
        )
        mapped = np.fromiter(
            (rel_idx.get(k, non_rel)
             for k in zip(pdf["ent_type_1"], pdf["ent_type_2"])),
            dtype=np.int64, count=len(pdf),
        )
        idx = np.where(raw % 2 == 1, mapped, non_rel)
        return idx, np.where(idx == non_rel, 0.5, 1.0)

    return scorer


_make_binary_scorer.needs = "lengths"
_make_binary_scorer.validate = _validate_binary


def q_binary_triples(spark: SparkSession, sf: str) -> DataFrame:
    from ..plans.pipeline import load_documents, run_pipeline

    return run_pipeline(
        load_documents(spark, sf), PipelineConfig(scorer="binary")
    ).triples.select(
        "doc_id", "rel_id", "pred", "subj_id", "obj_id",
        F.col("score").alias("bin_score"),
    )
