"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real code lives in the ``tile_etl_spark`` package; this module is a
thin view over its query registry.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tile_etl_spark import registry  # noqa: E402

registry.load_all()

_SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q_agg_group"


# Verification order, stalest first. The driver records ~50 CORRECTNESS
# rows per round from the front of queries(), so the qids whose newest
# driver row is oldest lead. Derived, never hand-kept: a qid's key is the
# newest round N whose CORRECTNESS_rN.json beside this module has a row
# for it (0 if none does); ties sort by qid. With no such file the order
# is registration order.
def _stalest_first() -> list[str]:
    here = os.path.dirname(os.path.abspath(__file__))
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        with open(path) as f:
            for q in json.load(f):
                newest[q] = max(newest.get(q, 0), int(m.group(1)))
    if not newest:
        return list(registry.QUERIES)
    return sorted(registry.QUERIES, key=lambda q: (newest.get(q, 0), q))


_ORDER = _stalest_first()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on sf0.001; driver checks rows>0."""
    return registry.QUERIES[FLAGSHIP](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2B."""
    return {q: registry.QUERIES[q] for q in _ORDER}


def oracle_sql() -> dict[str, str]:
    """DuckDB ANSI-SQL twins for every H-checked qid (SURVEY §2B)."""
    return {q: registry.ORACLES[q] for q in _ORDER if q in registry.ORACLES}
