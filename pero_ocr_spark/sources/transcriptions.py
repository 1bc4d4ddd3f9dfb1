"""Transcription sink (S9): one ``{doc_id}-l{ord} {text}`` line per
text span, the shape of the reference's transcription files
(``transcription_io.py:1-10``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_transcriptions(extracted: DataFrame, path: str) -> None:
    """Text spans → '{doc_id}-l{ord} {text}' lines, one file
    (coalesce(1), matching the reference's single transcription file)."""
    (
        extracted.filter(F.col("kind") == "text")
        .orderBy("doc_id", "ord")
        .select(
            F.concat_ws(
                " ",
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("-l"), F.col("ord")
                ),
                F.col("text"),
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def read_transcriptions(spark, path: str) -> DataFrame:
    """Inverse of the transcription sink."""
    lines = spark.read.text(path)
    return lines.select(
        F.expr("substring(value, 1, instr(value, ' ') - 1)").alias("line_key"),
        F.expr("substring(value, instr(value, ' ') + 1)").alias("text"),
    )
