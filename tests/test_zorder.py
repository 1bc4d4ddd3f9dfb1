"""Z-order clustering + two-dimensional file skipping
(operators/zorder.py), incl. the real IceTable pruning path."""

import pytest
from pyspark.sql import functions as F

from pero_ocr_spark.operators import zorder
from pero_ocr_spark.sources.icetable import IceTable


def _zorder_serial(x: int, y: int, bits: int = 8) -> int:
    """Bit-by-bit Morton interleave, the serial reference."""
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_key_matches_serial_replica(spark):
    pts = [(x, y) for x in (0, 1, 5, 130, 255) for y in (0, 3, 77, 255)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder.zorder_key(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _zorder_serial(x, y, 8)


def test_morton_sql_spelling_matches_column_form(spark):
    df = spark.range(1000).select(
        (F.col("id") % 256).alias("x"), (F.col("id") * 7 % 256).alias("y")
    )
    expr = zorder.zorder_sql("x", "y", 8)
    mism = df.select(
        (
            zorder.zorder_key(F.col("x"), F.col("y"), 8) != F.expr(expr)
        ).alias("m")
    ).filter("m").count()
    assert mism == 0


def test_uniform_grid_skipping_is_tile_exact(spark):
    # full 256x256 grid, 64 files: a z-file is one aligned 32x32 tile.
    # Box (32..47, 64..95) sits inside ONE tile -> zorder scans 1 file;
    # the linear layout scans the 4 x-stripes crossing the box.
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    rep = {
        r.layout: r
        for r in zorder.skipping_report(
            grid, F.col("x"), F.col("y"), box=(32, 47, 64, 95)
        ).collect()
    }
    z, lin = rep["zorder"], rep["linear"]
    assert z.rows_matching == lin.rows_matching == 16 * 32
    assert (z.n_files, z.files_scanned, z.rows_scanned) == (64, 1, 1024)
    assert (lin.n_files, lin.files_scanned, lin.rows_scanned) == (64, 4, 4096)


def test_skipping_never_loses_rows(spark):
    df = spark.range(5000).select(
        F.xxhash64("id").bitwiseAND(F.lit(255)).alias("x"),
        F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(255)).alias("y"),
    )
    rep = zorder.skipping_report(df, F.col("x"), F.col("y"), (10, 200, 5, 250))
    rows = rep.collect()
    match = {r.layout: r.rows_matching for r in rows}
    assert match["zorder"] == match["linear"]
    for r in rows:
        assert r.rows_scanned >= r.rows_matching  # scan superset, never less


def test_icetable_zorder_write_prunes_both_dims(spark, tmp_path):
    # the real table path: commit range-clustered on the Morton key
    # with (x, y) stats; a two-dim prune plans few files from manifest
    # arithmetic alone, and the exact filter on top stays row-complete.
    n = 1 << 14
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 128).alias("x"),
        (F.col("id") / 128).cast("long").alias("y"),
    ).withColumn("zkey", zorder.zorder_key(F.col("x"), F.col("y"), 7))
    t = IceTable(str(tmp_path / "zt"), stats_cols=("x", "y"))
    t.commit(df.repartitionByRange(16, "zkey").drop("zkey"))
    total = len(t.files())
    pruned = t.files(prune={"x": (10, 20), "y": (30, 40)})
    assert total == 16 and len(pruned) < total / 2
    got = (
        t.read(spark, prune={"x": (10, 20), "y": (30, 40)})
        .filter("x BETWEEN 10 AND 20 AND y BETWEEN 30 AND 40")
        .count()
    )
    assert got == 11 * 11  # every (x, y) cell in the box, once


def test_linear_layout_cannot_prune_second_dim(spark, tmp_path):
    n = 1 << 14
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 128).alias("x"),
        (F.col("id") / 128).cast("long").alias("y"),
    )
    t = IceTable(str(tmp_path / "lin"), stats_cols=("x", "y"))
    t.commit(df.repartitionByRange(16, "x"))
    # y-only predicate: x-sorted files all span the full y range
    assert len(t.files(prune={"y": (30, 40)})) == len(t.files())
