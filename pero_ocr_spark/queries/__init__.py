"""Driver-facing query registry, split by tier (round 5).

Importing this package registers all queries: _base holds the registry
machinery; tier modules register their queries on import, in the fixed
order below (cross-module helpers live in _ctes, imported first).
"""

from pero_ocr_spark.queries._base import (  # noqa: F401
    QueryFn, _EXTRACTED_CTE, _REGISTRY, _scratch, _t, oracle_sql, queries,
    register,
)

from pero_ocr_spark.queries import _ctes, q_dedup, q_events, q_icetable, q_layout, q_recognition, q_similarity, q_sketch, q_text, q_training, q_web  # noqa: E501,F401
from pero_ocr_spark.queries.q_recognition import _rtl_oracle_sql  # noqa: F401
