"""Entry-point contract: ``entry`` / ``queries`` / ``oracle_sql``.

The queries and their DuckDB twins live in :mod:`shaha_spark.catalog`;
this file puts the repository on ``sys.path`` and re-exports the
contract.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shaha_spark.catalog import oracle_sql, queries  # noqa: E402
from shaha_spark.catalog.hashdb import entry  # noqa: E402

# bench.py times these two directly, outside its query loop
q_emb_sq_topk = queries()["emb_sq_topk"]
q_events_nearest_join = queries()["events_nearest_join"]

__all__ = ["entry", "oracle_sql", "queries"]
