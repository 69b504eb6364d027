"""The reference's 8-column TSV contract (S1/S6).

Column order is the contract (readme.md:35-43): label, sentence_1,
sentence_2, entity_type_1, entity_type_2, entity_id_1, entity_id_2, file_id
— tab-separated, NO quoting/escaping (the reference splits on tab,
deliberately not the csv module: src/data_utils.py:260-278). The
reference's header row is optional; this scan and sink always carry one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TSV_COLUMNS = [
    "label", "sentence_1", "sentence_2", "entity_type_1", "entity_type_2",
    "entity_id_1", "entity_id_2", "file_id",
]

CAND_TSV_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in TSV_COLUMNS]
)


def read_candidates_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — TSV scan. Reference: _read_tsv splits on tab with no quoting;
    csv reader quoting is DISABLED to honor that (quote='')."""
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("quote", "")
        .schema(CAND_TSV_SCHEMA)
        .csv(path)
        .toDF(*TSV_COLUMNS)
    )


def write_candidates_tsv(df: DataFrame, path: str) -> None:
    """S6-adjacent sink for candidate tables."""
    (
        df.select(*TSV_COLUMNS)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("quote", "")
        .option("emptyValue", "")
        .csv(path)
    )


def candidates_to_tsv_shape(cand: DataFrame, label_col: str | None = None) -> DataFrame:
    """Project the engine's candidates DataFrame onto the reference TSV
    contract (file_id <- doc_id; label blank at inference time, exactly like
    the reference's test TSVs carry a placeholder label column)."""
    label = (
        F.col(label_col) if label_col else F.lit("NonRel")
    )
    return cand.select(
        label.alias("label"),
        F.col("s1_marked").alias("sentence_1"),
        F.col("s2_marked").alias("sentence_2"),
        F.col("ent_type_1").alias("entity_type_1"),
        F.col("ent_type_2").alias("entity_type_2"),
        F.col("ent_id_1").alias("entity_id_1"),
        F.col("ent_id_2").alias("entity_id_2"),
        F.col("doc_id").cast("string").alias("file_id"),
    )
