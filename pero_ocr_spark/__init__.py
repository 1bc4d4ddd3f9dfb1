"""pero_ocr_spark — a PySpark-native document-content extraction engine.

A from-scratch reimplementation of the *capabilities* of pero-ocr
(reference at /root/reference, cited by file:line in docstrings) as an
idiomatic Spark DataFrame pipeline over interleaved text+media document
tables ``(doc_id, spans: array<struct<kind, text, media_ref, offset>>)``.

Design rules (see SURVEY.md):
  * DataFrame / Spark SQL first; Catalyst plans everything relational.
  * Python stages run on Arrow batches — never per-row Python UDFs:
    per-row parsers through ``operators.flat_map_in_pandas``, per-doc
    kernels through ``operators.grouped_map_in_pandas``, and only
    batch-vectorized kernels call ``mapInPandas`` themselves.
  * Every stage is a pure function ``stage(df) -> df`` with a fixed
    schema contract (the analog of pero-ocr's uniform
    ``process_page(img, layout) -> layout`` stage signature,
    reference ``document_ocr/page_parser.py:515-531``).
  * Determinism everywhere: the reference's random tiebreaks
    (``layout_engines/layout_helpers.py:267``) are replaced with
    stable ``(key, idx)`` orderings.
"""

from pero_ocr_spark import _pyworker

__version__ = "0.1.0"

# Every pickled UDF references engine modules, so this runs once in
# each Python worker before its first task's rows.
_pyworker.install()
