"""Arabic logical→visual form for RTL text lines (R18).

The reference ships a table-driven Arabic reshaper + reorderer
(``core/arabic_helper.py``, applied at ALTO export
``core/layout.py:459-461``). Here it is one vectorized string
transform over a text column: the shaping and reordering tables live
in ``functions/arabic.py``, and this module applies them per Arrow
batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def arabic_visual_form(df: DataFrame, col: str = "text") -> DataFrame:
    """Full R18: contextual Arabic shaping + reference reordering
    (``functions/arabic.py`` tables) applied to Arabic lines of a text
    column; non-Arabic lines pass through. The per-line transform the
    reference applies at ALTO export (core/layout.py:459-461)."""
    from pero_ocr_spark.functions.arabic import ArabicHelper

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        helper = ArabicHelper()
        for pdf in batches:
            pdf = pdf.copy()
            pdf[col] = pdf[col].map(
                lambda t: helper.string_to_visual_form(t)
                if helper.is_arabic_line(t)
                else t
            )
            yield pdf

    return df.mapInPandas(run, schema=df.schema)
