"""Cross-engine correctness: a Spark result against its DuckDB twin.

Small results are collected from both engines and compared row by row
after an order-insensitive canonical sort. Results above ``ROW_CAP``
are compared through an order-insensitive checksum that both engines
compute the same way (``checksum_sql``) from a per-value number: the
value itself for numbers, epoch microseconds or days for times and
dates, the first 32 bits of md5 for strings.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

ROW_CAP = 50_000
REL_TOL = 1e-9


def duck_views(con, tables_dir: str, names) -> None:
    for t in names:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
        if isinstance(v, float) and math.isnan(v):
            return None
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _sort_key(row):
    return tuple(
        (0, "") if c is None
        else (1, f"{c:.6g}") if isinstance(c, float)
        else (1, str(c))
        for c in row
    )


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_cell(v) for v in r)
        for r in pdf[cols].astype(object).itertuples(index=False, name=None)
    ]
    return sorted(rows, key=_sort_key)


def compare_rows(spark_pdf, duck_pdf) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"rows {len(spark_pdf)} vs {len(duck_pdf)}"
    for i, (a, b) in enumerate(zip(_rows(spark_pdf), _rows(duck_pdf))):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} vs {b}"
    return None


def _kind(spark_type: str) -> str:
    if spark_type == "string":
        return "str"
    if spark_type.startswith("timestamp"):
        return "ts"
    if spark_type == "date":
        return "date"
    if spark_type == "boolean":
        return "bool"
    return "num"


_SPARK_NUM = {
    "str": "CAST(conv(substr(md5({c}), 1, 8), 16, 10) AS BIGINT)",
    "ts": "CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS DOUBLE)",
    "date": "unix_date({c})",
    "bool": "CAST({c} AS INT)",
    "num": "CAST({c} AS DOUBLE)",
}
_DUCK_NUM = {
    "str": "CAST(('0x' || substr(md5({c}), 1, 8)) AS BIGINT)",
    "ts": "CAST(epoch_us({c}) AS DOUBLE)",
    "date": "date_diff('day', DATE '1970-01-01', {c})",
    "bool": "CAST({c} AS INT)",
    "num": "CAST({c} AS DOUBLE)",
}


def checksum_sql(kinds: list[tuple[str, str]], source: str, duck: bool) -> str:
    """One engine's checksum query over ``source``: the row count; per
    column its non-null count and the sum of its per-value numbers; and
    per pair of columns the sum over rows of the product of their
    numbers (null as 0). The pair terms tie each row's values together,
    so a row paired with the wrong values changes the checksum even when
    every column keeps its multiset of values."""
    quote, num = ('"', _DUCK_NUM) if duck else ("`", _SPARK_NUM)
    vals = []
    terms = ["count(*)"]
    for name, kind in kinds:
        c = f"{quote}{name}{quote}"
        v = num[kind].format(c=c)
        terms += [f"count({c})", f"sum({v})"]
        vals.append(f"coalesce(CAST({v} AS DOUBLE), 0)")
    for i, a in enumerate(vals):
        terms += [f"sum({a} * {b})" for b in vals[i + 1:]]
    return f"SELECT {', '.join(terms)} FROM {source}"


def checksums(spark_df, con, sql: str) -> tuple[list, list]:
    """(spark checksum, duck checksum) of one result."""
    kinds = [(name, _kind(t)) for name, t in sorted(spark_df.dtypes)]
    view = f"chk_{abs(hash(sql)) % 10**9}"
    spark_df.createOrReplaceTempView(view)
    spark = spark_df.sparkSession
    s = [_cell(v) for v in spark.sql(checksum_sql(kinds, view, False)).collect()[0]]
    spark.catalog.dropTempView(view)
    d = [_cell(v) for v in con.execute(checksum_sql(kinds, f"({sql}) t", True)).fetchone()]
    return s, d


def compare(spark_df, con, sql: str) -> str | None:
    """None when the Spark frame equals the DuckDB twin, else a reason."""
    n = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchone()[0]
    if n <= ROW_CAP:
        return compare_rows(spark_df.toPandas(), con.execute(sql).df())
    s, d = checksums(spark_df, con, sql)
    if len(s) != len(d) or not all(_same(a, b) for a, b in zip(s, d)):
        return f"checksum {s} vs {d}"
    return None
