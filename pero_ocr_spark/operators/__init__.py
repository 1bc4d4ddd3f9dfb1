"""Operator package. Shared scan-shape and expression helpers live here."""

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# 2^31 - 1, a Mersenne prime: the modulus of the portable hashes and
# LCG residues, small enough that DuckDB's BIGINT arithmetic matches
HASH_P = 2_147_483_647


def word_gram_array(ws: Column, n: int) -> Column:
    """Word n-gram array over an ALREADY-HOISTED words column.

    ``ws`` MUST be a materialized array column (``F.split(...)`` given
    its own ``.select(...alias('ws'))`` projection first, and the row
    filtered to ``F.size(ws) >= n``) — inlining the split here would
    re-evaluate it per transform element and turn the fold O(n²) per
    row (measured 4× on the sf0.1 shingle stream; the
    lm_perplexity variant of the same mistake was 79s→2.6s). That
    invariant lives in THIS helper once; dedup/sketch/textstats all
    delegate instead of re-deriving the fold.
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j + 1) for j in range(n)]
        ),
    )


def poly_hash(col: Column) -> Column:
    """Polynomial hash of a string's ascii codes, ``h = h*31 + c`` mod
    2^31-1 — portable integer arithmetic that DuckDB reproduces
    exactly (``list_reduce``), so the simhash, Bloom and text-statistic
    oracles can recompute every hash bit-for-bit."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(HASH_P)),
    )


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width (``spark.sql.shuffle.partitions``) —
    the partition count of every explicit numbered repartition in the
    engine. A numbered repartition is exempt from AQE small-partition
    coalescing, which would otherwise hand a tiny per-doc exchange to
    one or two tasks and serialize the Python stage behind it."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one way to cut lineage and reuse an intermediate
    frame: a lazy ``localCheckpoint``. The first action that reads the
    frame stores its partitions on the executors, and every later
    consumer reads those blocks instead of re-running the plan, so an
    iterative loop's plan does not deepen round over round.

    Lazy, not eager: under AQE a lazy checkpoint still runs its
    shuffle-map stages while the plan is built, and an eager one adds a
    result job on top for nothing (SCALE.md has the job counts).
    Checkpoint, not ``persist``: the context cleaner frees checkpoint
    blocks once the frame is unreachable, while a persisted frame stays
    in the CacheManager until someone unpersists it, and piles up
    across a 208-query bench sweep. A caller that needs the frame's
    size reads it with ``count()``, which materializes it too.

    ``corpus.extracted_spans`` is the one frame not materialized here:
    it is a ``MEMORY_AND_DISK`` cache shared across queries of one
    session, freed by ``corpus.drop_extracted_cache``, not a checkpoint
    inside one query.
    """
    return df.localCheckpoint(eager=False)


def grouped_batches_in_pandas(df: DataFrame, key, per_batch, schema):
    """Per-group Arrow stage with batch-level framing:
    ``per_batch(pdf, bounds)`` is called with sorted pandas frames
    (0-based index) that hold only WHOLE groups of ``key``, and returns
    one output frame per call. ``bounds`` holds the row offset where
    each group starts, plus ``len(pdf)``: group ``i`` is the rows
    ``bounds[i]:bounds[i + 1]``.

    The grouped-map form ships every group as its OWN Arrow batch and
    IPC round-trip, so a stage over ~5000 one-document groups pays
    ~5000 tiny serializations — measured 3.7× the cost of the same
    trivial consumer fed full batches. Here the input is
    hash-partitioned on the key (``shuffle_width`` partitions), sorted
    within partitions so each group is one contiguous run, and shipped
    in default-size (~10k-row) batches; the trailing run of each batch
    — which may continue in the next — is carried forward. One scan of
    the key columns finds the group starts, the carried run's
    continuation included. Key equality is null-aware (a null key is a
    group of its own, as in ``groupBy``), and the carry is linear: the
    frames of one open run are appended per batch and concatenated once
    when the run closes, even when a skewed group spans many Arrow
    batches.
    """
    import numpy as np
    import pandas as pd

    keys = list(key) if isinstance(key, (list, tuple)) else [key]

    def _starts(pdf: "pd.DataFrame", last) -> "np.ndarray":
        # row i starts a group when a key differs from row i - 1's (row
        # 0's from the carried run's last row ``last``, if any); NaN !=
        # NaN, so nulls compare by their null masks
        new = np.zeros(len(pdf), dtype=bool)
        new[0] = last is None
        for k in keys:
            col = pdf[k].to_numpy()
            prev = np.concatenate((col[:1] if last is None else last[k], col[:-1]))
            na, pna = pd.isna(col), pd.isna(prev)
            new |= np.where(na | pna, na != pna, col != prev)
        return new

    def _whole(pieces: list) -> "pd.DataFrame":
        if len(pieces) > 1:
            return pd.concat(pieces, ignore_index=True)
        frame = pieces[0]  # a frame of our own (batch or iloc slice)
        frame.index = pd.RangeIndex(len(frame))
        return frame

    def gen(batches):
        parts: list = []  # frames of the ONE open trailing run
        for pdf in batches:
            if not len(pdf):
                continue
            last = {k: parts[-1][k].to_numpy()[-1:] for k in keys} if parts else None
            starts = np.flatnonzero(_starts(pdf, last))
            if not len(starts):
                parts.append(pdf)  # run still open
                continue
            cut = int(starts[-1])
            carried = sum(len(p) for p in parts)
            # closed run (carried parts + this batch's head) + body
            bounds = np.concatenate(
                ([0] if parts else [], starts[:-1] + carried, [carried + cut])
            ).astype(np.int64)
            pieces = [p for p in (*parts, pdf.iloc[:cut]) if len(p)]
            parts = [pdf.iloc[cut:]]
            if pieces:
                yield per_batch(_whole(pieces), bounds)
        if parts:
            frame = _whole(parts)
            yield per_batch(frame, np.array([0, len(frame)], dtype=np.int64))

    return (
        df.repartition(shuffle_width(df.sparkSession), *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(gen, schema)
    )


def grouped_map_in_pandas(df: DataFrame, key, per_group, schema):
    """``groupBy(key).applyInPandas(per_group, schema)`` with
    batch-level Arrow framing (``grouped_batches_in_pandas``).

    Semantics match applyInPandas: ``per_group`` is called exactly
    once per distinct key with all of that key's rows, as a frame with
    a fresh ``RangeIndex``. Each group is a slice of the batch, not a
    copy: ``per_group`` must not write into its frame (none here do).
    Row order WITHIN a group is not guaranteed by either form; group
    functions must not depend on it (none here do — they sort
    internally or compute order-independent outputs).
    """
    import pandas as pd

    def per_batch(pdf: "pd.DataFrame", bounds) -> "pd.DataFrame":
        outs = []
        for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
            g = pdf.iloc[s:e]
            g.index = pd.RangeIndex(e - s)
            outs.append(per_group(g))
        # one output Arrow batch per input batch, not per group
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    return grouped_batches_in_pandas(df, key, per_batch, schema)


def flat_map_in_pandas(df: DataFrame, per_row, schema):
    """Per-row Arrow stage: ``per_row(*values)`` is called with each
    input row's values, in ``df``'s column order, and returns an
    iterable of output tuples in ``schema`` field order — zero, one or
    many rows per input row.

    The batch boundary is framed here once: each input Arrow batch
    yields ONE output frame, built with ``DataFrame.from_records``, so
    a batch in which no row yields output is a frame of object columns,
    which Arrow converts to every Spark type (an empty dict-of-lists
    frame is float64, which Arrow refuses to convert to
    ``array<bigint>``). Output rows follow input row order.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    names = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    ).names

    def gen(batches):
        for pdf in batches:
            cols = [pdf[c] for c in pdf.columns]
            rows = [out for vals in zip(*cols) for out in per_row(*vals)]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(gen, schema)


def spread_scan(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for heavy in-row stages.

    A small single-file parquet scan arrives as ONE input partition and
    every downstream narrow stage inherits it — serializing per-row
    higher-order-function work (transform/aggregate folds are
    interpreted, not whole-stage-codegen'd, so per-row cost is real) on
    one core. Repartition only when actually starved: at corpus scale
    the input arrives in thousands of file splits and this is a no-op
    (no shuffle added).
    """
    n = shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= max(2, n // 2):
        return df
    return df.repartition(n)
