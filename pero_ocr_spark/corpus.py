"""Deterministic interleaved-document corpus.

Expands the driver's flat ``documents(doc_id, text, lang, source,
n_chars)`` parquet into the canonical nested spans table
``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`` of
BASELINE.json ``input_hint`` — entirely with deterministic arithmetic
on ``(doc_id, word position)``; no wall clock, no RNG (the reference's
nondeterministic tiebreaks at ``layout_engines/layout_helpers.py:267``
and ``core/layout.py:163`` are deliberately designed out).

The SAME derivation is rendered twice — as Spark SQL expressions (the
engine input builder) and as a DuckDB CTE (the driver's oracle) — so
the correctness gate can compare them end to end.

Derivation, given a document's ``text`` and ``doc_id``:

  mult   = 64 if doc_id % 97 == 0 else 8 if doc_id % 13 == 0 else 1
           (Zipf-ish skew: ~1% of docs are 64x heavier, ~7% are 8x —
           exercises AQE skew handling / salting, the table-scale
           analog of pero-ocr's width-sorted batch packing
           ``ocr_engine/line_ocr_engine.py:79-91``)
  words  = split(trim(repeat(text + ' ', mult)), ' ')
  span i = kind      = 'media'       if i % 11 == 5
                       'boilerplate' if i % 7  == 3
                       'text'        otherwise
           text      = ''  for media; '' if (text-kind and i % 19 == 11)
                       (empty-transcription lines, the filter case of
                        ``document_ocr/page_parser.py:510-513``);
                       else the word
           media_ref = 'img://<doc_id>/<i>' for media else ''
           offset    = i          (source reading-order position)

The nested Spark array is stored SCRAMBLED (ascending by the
multiplicative-hash key ``(offset * 2654435761) mod 2^32``, a bijection
on offsets) so that the engine's reading-order stage
(the analog of reading-order reconstruction, ``core/layout.py:653-654``
+ ``TextLine.index`` ordering ``layout.py:287-294``) has real work to
do; the oracle orders by ``offset`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pero_ocr_spark.operators import shuffle_width

MULT_SQL = "CASE WHEN doc_id % 97 = 0 THEN 64 WHEN doc_id % 13 = 0 THEN 8 ELSE 1 END"

# ---------------------------------------------------------------- Spark side

# The words are bound once, in their own select, so the lambdas below
# index a column instead of re-splitting the text per element.
_WORDS_EXPR = f"split(trim(repeat(concat(text, ' '), {MULT_SQL})), ' ')"

# Scrambled order: ascending (offset * 2654435761) mod 2^32, a bijection
# on offsets (the factor is odd), so no two spans tie. ONE primitive
# sort_array orders the keys packed above their offsets (key * 2^31 +
# offset < 2^63: no ANSI overflow); each struct is then built once, in
# that order. An array_sort comparator would run interpreted on every
# comparison. Masks stand in for the mods (the values are non-negative)
# because % is nullable; with the coalesce (ws[i] is always in range)
# every field keeps its nullability.
_SPANS_ARRAY_EXPR = """
transform(
  transform(
    sort_array(transform(ws, (w, i) ->
      ((i * 2654435761) & 4294967295) * 2147483648 + i)),
    v -> cast(v & 2147483647 AS int)
  ),
  i -> named_struct(
    'kind',
    CASE WHEN i % 11 = 5 THEN 'media'
         WHEN i % 7 = 3 THEN 'boilerplate'
         ELSE 'text' END,
    'text',
    CASE WHEN i % 11 = 5 THEN ''
         WHEN i % 7 <> 3 AND i % 19 = 11 THEN ''
         ELSE coalesce(ws[i], '') END,
    'media_ref',
    CASE WHEN i % 11 = 5
         THEN concat('img://', cast(doc_id AS string), '/', cast(i AS string))
         ELSE '' END,
    'offset', i
  )
)
"""


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def spans_of(docs: DataFrame) -> DataFrame:
    """A documents frame (doc_id, text, ...) → (doc_id, spans), row by
    row with no repartition — the caller decides the partitioning."""
    words = docs.select("doc_id", F.expr(_WORDS_EXPR).alias("ws"))
    return words.select("doc_id", F.expr(_SPANS_ARRAY_EXPR).alias("spans"))


def spans_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical nested input table (doc_id, spans), scrambled order.

    Pure column expressions, no Python; the higher-order functions of
    the span synthesis run interpreted (``CodegenFallback``), so the
    scramble is one primitive ``sort_array`` of packed keys. At 100 TB
    this would be an Iceberg table scan instead; the builder exists so
    the sandbox corpus is derived deterministically from the driver's
    parquet.

    The up-front ``repartition(doc_id)`` spreads span synthesis and
    extraction across all cores even when the source parquet has a
    single row group (the sandbox files are KB-sized). Extraction
    orders each document inside its row and adds no exchange, so this
    is the pipeline's ONE shuffle — of the small pre-explosion rows —
    and its hash(doc_id) partitioning survives to per-doc consumers
    (``extract.render_training_text``'s groupBy reuses it).
    """
    docs = load_documents(spark, sf_dir)
    return spans_of(docs.repartition(shuffle_width(spark), "doc_id"))


# Session-scoped cache of the extraction pipeline's output. Three
# dozen registered queries consume the extracted spans (or tables
# derived from them) as their INPUT; at 100 TB that input is a
# materialized Iceberg table you READ, not something re-synthesized
# per query — re-deriving it every time benchmarked the synthetic
# corpus generator, not the operator under test. The cache is keyed by
# (Spark application, sf_dir) so separate sessions and scale factors
# never mix; it holds a persisted DataFrame (MEMORY_AND_DISK —
# hundreds of MB at sf0.1), materialized lazily by the first consumer.
# The headline `extract_spans` query does NOT use this helper: its
# pages/sec figure keeps timing the full synthesize+extract pipeline,
# so it stays comparable with earlier rounds.
_EXTRACTED_CACHE: dict[tuple[str, str], DataFrame] = {}


def extracted_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached classified + boilerplate-stripped + reading-ordered
    spans (doc_id, kind, text, media_ref, ord) — the materialized-
    table analog for queries whose subject is an operator DOWNSTREAM
    of extraction."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _EXTRACTED_CACHE.get(key)
    if df is None:
        from pyspark import StorageLevel
        from pero_ocr_spark.operators import extract

        df = extract.extract_spans(spans_table(spark, sf_dir)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _EXTRACTED_CACHE[key] = df
    return df


def drop_extracted_cache() -> None:
    """Unpersist and forget every cached ``extracted_spans`` frame.
    Spark's CacheManager substitutes any semantically-equal plan
    fragment with a persisted InMemoryRelation, so after this the next
    ``extract_spans`` runs the full uncached pipeline (the cache
    rebuilds lazily on its next downstream consumer)."""
    for df in _EXTRACTED_CACHE.values():
        df.unpersist(blocking=True)
    _EXTRACTED_CACHE.clear()


# --------------------------------------------------------------- DuckDB side

# Flat spans CTE for the oracle. `documents` is a pre-registered view.
SPANS_CTE = f"""
WITH __words AS (
  SELECT doc_id,
         string_split(trim(repeat(text || ' ', {MULT_SQL})), ' ') AS w
  FROM documents
), __pos AS (
  SELECT doc_id,
         generate_subscripts(w, 1) - 1 AS pos,
         unnest(w) AS word
  FROM __words
), spans AS (
  SELECT doc_id,
         CASE WHEN pos % 11 = 5 THEN 'media'
              WHEN pos % 7 = 3 THEN 'boilerplate'
              ELSE 'text' END AS kind,
         CASE WHEN pos % 11 = 5 THEN ''
              WHEN pos % 7 <> 3 AND pos % 19 = 11 THEN ''
              ELSE word END AS text,
         CASE WHEN pos % 11 = 5
              THEN 'img://' || CAST(doc_id AS VARCHAR) || '/' || CAST(pos AS VARCHAR)
              ELSE '' END AS media_ref,
         CAST(pos AS INTEGER) AS span_offset
  FROM __pos
)
"""
