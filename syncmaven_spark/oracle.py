"""Local DuckDB-oracle parity harness.

Mimics the round driver's correctness gate: run the Spark query and the
oracle SQL over the same parquet tables, compare row count, column names, and
order-insensitive values (columns sorted by name). Used by
``tests/test_oracle_parity.py`` so every catalog entry is validated locally
before the driver grades it.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from dataclasses import dataclass
from decimal import Decimal
from typing import Any

import duckdb

from syncmaven_spark.session import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with the testdata tables registered as views —
    the same names the driver pre-registers."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            escaped = path.replace("'", "''")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{escaped}')"
            )
    return con


def _norm(v: Any, digits: int | None = None) -> Any:
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # with a tolerance active, round before sorting so both sides order
        # identically and pairwise zip-compare doesn't mispair near-equal rows
        return round(v, digits) if digits is not None else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits) for x in v)
    return v


def _sortable(row: tuple) -> str:
    return repr(row)


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def compare(
    name: str,
    spark_df,
    con: duckdb.DuckDBPyConnection,
    oracle: str,
    float_tol: float = 0.0,
    max_report: int = 3,
) -> ParityResult:
    spark_cols = list(spark_df.columns)
    spark_data = [tuple(r) for r in spark_df.collect()]

    cur = con.execute(oracle)
    oracle_cols = [d[0] for d in cur.description]
    oracle_data = cur.fetchall()

    if sorted(spark_cols) != sorted(oracle_cols):
        return ParityResult(
            name, False, len(spark_data), len(oracle_data),
            f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}",
        )
    if len(spark_data) != len(oracle_data):
        return ParityResult(
            name, False, len(spark_data), len(oracle_data),
            f"row count mismatch: spark={len(spark_data)} oracle={len(oracle_data)}",
        )

    digits = None
    if float_tol > 0:
        digits = max(0, math.ceil(-math.log10(float_tol)))
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    o_order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
    s_rows = sorted(
        (tuple(_norm(r[i], digits) for i in order) for r in spark_data),
        key=_sortable,
    )
    o_rows = sorted(
        (tuple(_norm(r[i], digits) for i in o_order) for r in oracle_data),
        key=_sortable,
    )

    diffs = []
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        if sr == orow:
            continue
        if float_tol and _close(sr, orow, float_tol):
            continue
        diffs.append(f"row {i}: spark={sr} oracle={orow}")
        if len(diffs) >= max_report:
            break
    if diffs:
        return ParityResult(
            name, False, len(s_rows), len(o_rows), "; ".join(diffs)
        )
    return ParityResult(name, True, len(s_rows), len(o_rows))


def _close(a, b, tol: float) -> bool:
    """Tolerance compare, recursing into nested tuples (array columns)."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return a == b

