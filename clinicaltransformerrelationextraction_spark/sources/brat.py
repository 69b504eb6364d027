"""Brat ``.ann`` format: parse (S3/S7/C7). The product renders ``.ann``
rows in the doc-row kernel (``scoring.enum_score_number(brat=True)``).

Line shapes (src/brat_eval.py:95-126; data_format_conf.py:2):
  T lines: ``T<i>\\t<type> <start> <end>\\t<surface>``
  R lines: ``R<i>\\t<rtype> Arg1:T<a> Arg2:T<b>``

Parsing is pure column expressions (split/regexp) — a text scan plus
projections, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_ann_lines(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_id, value) text lines -> (mentions, relations) DataFrames."""
    t = lines.filter(F.col("value").startswith("T"))
    parts = F.split(F.col("value"), "\t")
    mid = F.split(parts[1], " ")
    mentions = t.select(
        "doc_id",
        parts[0].alias("mention_id"),
        mid[0].alias("ent_type"),
        mid[1].cast("long").alias("start"),
        # discontinuous spans ("a b;c d") keep first start / last end, the
        # reference's lenient handling (brat_eval.py:104-113)
        F.element_at(F.split(F.element_at(mid, -1), ";"), -1)
        .cast("long").alias("end"),
        parts[2].alias("surface"),
    )
    r = lines.filter(F.col("value").startswith("R"))
    rp = F.split(F.col("value"), "\t")
    body = F.split(rp[1], " ")
    relations = r.select(
        "doc_id",
        rp[0].alias("rel_id"),
        body[0].alias("rel_type"),
        F.regexp_extract(body[1], "Arg1:(\\S+)", 1).alias("arg1"),
        F.regexp_extract(body[2], "Arg2:(\\S+)", 1).alias("arg2"),
    )
    return mentions, relations

