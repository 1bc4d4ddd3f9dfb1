"""Binary image sources and sinks (S1 scan, S8 line-crop sink).

The reference's production scan enumerates an image folder and
``cv2.imread``s each file (``user_scripts/parse_folder.py:297-303``);
at table scale that is ``spark.read.format("binaryFile")`` (path, mod
time, length, content) feeding the decode stub of operators/media.py.
The line-crop sink (``parse_folder.py:189-199`` JPEG-per-line, and the
LMDB variant ``:118-137``) becomes a parquet table with a binary
column partitioned by doc bucket — the columnar replacement for a
million tiny files / LMDB pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scan_image_folder(spark: SparkSession, path: str, glob: str = "*.bin") -> DataFrame:
    """S1: binaryFile scan → (file_id, payload, length). file_id is the
    basename without extension (parse_folder.py:159-163 semantics)."""
    df = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    return df.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.[^./]+$", 1).alias("file_id"),
        F.col("content").alias("payload"),
        F.col("length").cast("long").alias("n_bytes"),
    )


def write_line_crops(
    crops: DataFrame, out_dir: str, n_buckets: int = 16
) -> None:
    """S8: line-crop sink — binary crops keyed by (doc_id, line_id),
    bucket-partitioned parquet."""
    (
        crops.withColumn("bucket", (F.col("doc_id") % n_buckets).cast("long"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def read_line_crops(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)

