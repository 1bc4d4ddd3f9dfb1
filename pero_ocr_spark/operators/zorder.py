"""Z-order (Morton) clustering for multi-dimensional data skipping.

File-level min/max statistics prune scans only along the column the
files are clustered on (``IceTable.files(prune=...)``, parquet row-group
stats). A corpus queried on TWO dimensions — (host, fetch hour),
(user, day), (language, length) — leaves the second dimension's per-file
ranges as wide as the table if files are sorted on the first: every
file overlaps every predicate on dim 2 and nothing skips.

Clustering files by the interleaved-bit *Morton key* bounds BOTH
dimensions per file: a contiguous Z-key range covers a small set of
axis-aligned rectangles, so each file's (min_x, max_x, min_y, max_y)
box is tight and a rectangular predicate prunes most files on stats
alone. This is Delta Lake's ``OPTIMIZE ZORDER BY`` / the Iceberg
``sort-order`` curve-clustering idea (published in the Delta/Iceberg
docs and the classic UB-tree literature), built from scratch on
integer bit arithmetic.

Everything here is exact integer math inside whole-stage codegen — the
key is a closed-form expression (no UDF), the layout report is two
map-side-combinable aggregations over file-count-sized frames, and the
identical arithmetic runs in the DuckDB oracle.

At 100 TB: the Morton key costs one projection; clustering is the
write-side ``repartitionByRange(z)`` the table already pays for its
primary sort. Planning reads manifest rows only (IceTable.files), so a
two-dim point-range query over millions of files touches the few whose
Z-box overlaps.

Reference analog: pero-ocr scopes work by directory listing
(``document_ocr/arg_parser.py``); a 10^12-doc corpus needs stats-based
planning instead, and z-order is what keeps those stats selective in
more than one dimension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a Morton key: bit i of ``x`` lands at position 2i,
    bit i of ``y`` at 2i+1. Pure bitwise column expression — codegen
    keeps it JVM-side; the same formula is one SQL string for the
    oracle (:func:`zorder_sql`)."""
    x = x.cast("long")
    y = y.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_sql(x_expr: str, y_expr: str, bits: int = 8) -> str:
    """The ANSI-SQL spelling of :func:`zorder_key` (DuckDB/Spark SQL
    share the `>> << & |` operators), for oracle parity."""
    terms = []
    # every term fully parenthesized: DuckDB parses | and << at EQUAL
    # precedence left-to-right, so a bare `a | b << s` is `(a | b) << s`
    for i in range(bits):
        terms.append(f"(((({x_expr}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y_expr}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def skipping_report(
    df: DataFrame,
    x: Column,
    y: Column,
    box: tuple[int, int, int, int],
    bits: int = 8,
    n_files: int = 64,
) -> DataFrame:
    """Compare file-skipping selectivity of a Z-order layout vs a
    linear (x-sorted) layout for the rectangular predicate ``box`` =
    (x_lo, x_hi, y_lo, y_hi), both dims bucketized to ``bits`` bits.

    Files are simulated as fixed-width key ranges (file id = key DIV
    (keyspace/n_files)) so the assignment is a pure projection — the
    write-side equivalent is ``repartitionByRange`` on the same key,
    which is what :meth:`IceTable.compact` does given the Morton key
    as cluster column. Per-file (min, max) of both dims are exactly
    the stats the table manifest records; a file is *scanned* iff its
    stats box overlaps the query box — the same arithmetic
    ``IceTable.files(prune=...)`` applies, evaluated here declaratively
    over the file-stats frame.

    Returns one row per layout: files present, files scanned, rows in
    scanned files, and exact matching rows (identical across layouts —
    skipping is an optimization, never a filter).
    """
    x_lo, x_hi, y_lo, y_hi = box
    span = 1 << (2 * bits)
    base = df.select(
        x.cast("long").alias("zx"), y.cast("long").alias("zy")
    ).withColumn("zkey", zorder_key(F.col("zx"), F.col("zy"), bits))
    tagged = base.select(
        "zx",
        "zy",
        # floor() on both engines (a bare double->int cast truncates in
        # Spark but rounds in DuckDB); products stay far below 2^53
        F.floor(F.col("zkey") * n_files / span).alias("file_z"),
        F.floor(F.col("zx") * n_files / (1 << bits)).alias("file_lin"),
        (
            F.col("zx").between(x_lo, x_hi) & F.col("zy").between(y_lo, y_hi)
        ).alias("hit"),
    )

    def stats(file_col: str, tag: str) -> DataFrame:
        per_file = tagged.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("zx").alias("min_x"),
            F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"),
            F.max("zy").alias("max_y"),
            F.count("*").alias("rows"),
            F.sum(F.col("hit").cast("long")).alias("hits"),
        )
        scanned = (
            (F.col("min_x") <= x_hi)
            & (F.col("max_x") >= x_lo)
            & (F.col("min_y") <= y_hi)
            & (F.col("max_y") >= y_lo)
        ).cast("long")
        return per_file.agg(
            F.lit(tag).alias("layout"),
            F.count("*").alias("n_files"),
            F.sum(scanned).alias("files_scanned"),
            F.sum(F.col("rows") * scanned).alias("rows_scanned"),
            F.sum("hits").alias("rows_matching"),
        )

    return stats("file_z", "zorder").unionByName(stats("file_lin", "linear"))
