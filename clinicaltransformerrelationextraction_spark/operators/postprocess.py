"""Post-processing: NonRel filtering, per-doc relation numbering, entity
linking, and brat rendering.

Reference semantics:
- NonRel drop before emit              post_processing.py:99-100,134-136 (F6)
- per-file R renumbering               post_processing.py:49-63 (W1), made
  deterministic here with the canonical sort key (sent_diff, i1, i2)
  (SURVEY.md §7.4.3)
  — both run inside the doc-row kernel, scoring.enum_score_number
- brat line formats                    data_format_conf.py:2; brat_eval.py:101-125
- entities ⋈ relations per file merge  post_processing.py:66-85 (J5)

``brat_render`` is the Catalyst form of brat rendering (groupBy +
collect_list + array_sort per side, then a join). The product path
renders each doc's ``.ann`` text inside the doc-row scoring pass
(``scoring.enum_score_number(..., brat=True)``) with no shuffle: ``cli
predict`` writes it from its ledger run's pass, ``plans/pipeline.run_brat``
from a pass of its own;
``brat_render`` stays as its twin, the form that pass is pinned against
(tests/test_kernel_path.py, tests/test_cli.py) and that
perfbench/layers.py times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["link_triples", "brat_render"]


def link_triples(trip: DataFrame, mentions: DataFrame) -> DataFrame:
    """Entity linking: replace mention ids with canonical entity ids via the
    (broadcast) surface-form dictionary — the reference's binary-mode
    type-map broadcast lookup pattern (post_processing.py:120-139, J4).

    ``mentions`` must have (doc_id, tok_idx, surface). Canonical id is
    ``E_<surface>`` (alias dictionary is derivable; swap in a real alias
    table at production scale — it stays broadcast-sized).

    The mentions table itself grows WITH the corpus, so it must never be
    broadcast — only the alias dictionary is (linking.py). Both joins here
    share the doc_id key, so AQE plans one exchange per side.
    """
    m1 = mentions.select(
        "doc_id",
        F.col("tok_idx").alias("i1"),
        F.concat(F.lit("E_"), F.col("surface")).alias("subj_canonical"),
    )
    m2 = mentions.select(
        "doc_id",
        F.col("tok_idx").alias("i2"),
        F.concat(F.lit("E_"), F.col("surface")).alias("obj_canonical"),
    )
    return (
        trip.join(m1, ["doc_id", "i1"])
        .join(m2, ["doc_id", "i2"])
        .select("doc_id", "rel_id", "pred", "subj_canonical",
                "obj_canonical", "score")
    )


def brat_render(mentions: DataFrame, trip: DataFrame) -> DataFrame:
    """Per-doc brat ``.ann`` text: T lines (entities) then R lines
    (relations), exactly the reference's output contract (S7).

    Deterministic ordering via array_sort on a struct whose first fields are
    the sort key — collect_list order is never relied upon.
    """
    t_lines = (
        mentions.select(
            "doc_id",
            F.struct(
                F.col("tok_idx").alias("ord"),
                F.concat_ws(
                    "\t",
                    F.concat(F.lit("T"), F.col("tok_idx")),
                    F.concat_ws(" ", "ent_type", "start", "end"),
                    "surface",
                ).alias("line"),
            ).alias("sl"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("sl")), lambda s: s["line"]
                ),
                "\n",
            ).alias("t_block")
        )
    )
    r_lines = (
        trip.select(
            "doc_id",
            F.struct(
                F.col("sent_diff").alias("o1"),
                F.col("i1").alias("o2"),
                F.col("i2").alias("o3"),
                F.format_string(
                    "%s\t%s Arg1:%s Arg2:%s",
                    "rel_id", "pred", "subj_id", "obj_id",
                ).alias("line"),
            ).alias("sl"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("sl")), lambda s: s["line"]
                ),
                "\n",
            ).alias("r_block")
        )
    )
    return t_lines.join(r_lines, "doc_id", "left").select(
        "doc_id",
        F.concat(
            F.col("t_block"),
            F.coalesce(F.concat(F.lit("\n"), F.col("r_block")), F.lit("")),
        ).alias("ann_text"),
    )
