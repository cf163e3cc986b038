"""Query registry — the single source of truth behind ``__spark_entry__``.

Every operator from SURVEY.md §2B registers here with a qid, a PySpark
builder ``(spark, sf_dir) -> DataFrame`` and (for H-checked qids) the
DuckDB ANSI-SQL oracle twin. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over these dicts.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any

from tile_etl_spark.io import input_bytes
from tile_etl_spark.session import conf_for, ensure_session_determinism

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query builder, optionally with its DuckDB oracle twin.

    The registered function wraps the builder: before building, it pins
    the session's UTC time zone and ANSI-off arithmetic
    (``session.ensure_session_determinism``) and sets
    ``conf_for(io.input_bytes(sf_dir), defaultParallelism)`` on it
    (shuffle width, AQE, scan split keys). This is the one place a
    query's session is pinned: builders assume it and do not repeat it.
    The builder's own eager jobs and the caller's action both plan under
    that conf; so does any frame built earlier that runs after the call.

    Oracle-less registrations get the driver's weaker rows-only check
    (streaming / non-SQL-expressible ops — SURVEY §2B codes B and R).
    """

    def deco(fn):
        @functools.wraps(fn)
        def sized(spark, sf_dir):
            ensure_session_determinism(spark)
            cpus = spark.sparkContext.defaultParallelism
            for k, v in conf_for(input_bytes(sf_dir), cpus).items():
                spark.conf.set(k, v)
            return fn(spark, sf_dir)

        QUERIES[name] = sized
        if oracle is not None:
            # Collapse whitespace for readable driver JSON. Line comments
            # would swallow the rest of the query — forbid them.
            assert "--" not in oracle, f"{name}: no '--' comments in oracle SQL"
            ORACLES[name] = " ".join(oracle.split())
        sized.__qid__ = name
        return sized

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    import tile_etl_spark.all_queries  # noqa: F401
