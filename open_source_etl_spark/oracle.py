"""Local mirror of the driver's DuckDB differential-oracle check.

The driver runs each ``queries()`` entry and its ``oracle_sql()`` twin and
compares row-count + schema + order-insensitive value hash
(``/root/repo/__spark_entry__.py:1-39``).  This module reimplements that
comparison so the test suite catches parity breaks before the driver does.

Canonicalization choices (conservative — stricter than the driver needs):
- columns sorted by name, rows sorted by their full value tuple
- floats compared to 9 significant digits (queries themselves round
  presentation values; this guards only against 1-ulp formatting noise)
- timestamps normalized to naive microseconds
- arrays/lists compared element-wise with the same float rule
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import date, datetime
from typing import Any

import duckdb
from pyspark.sql import DataFrame

from .catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canon_value(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        # tagged so an int result never silently equals a float result —
        # Spark/DuckDB type divergence (e.g. FLOOR: long vs double) must
        # surface here, since the driver's schema check would catch it
        if math.isnan(v):
            return ("f", "NaN")
        if v == 0:
            return ("f", 0.0)
        return ("f", float(f"{v:.9g}"))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row (struct value) — keep field names
        return tuple(sorted((k, _canon_value(x)) for k, x in v.asDict().items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    import decimal

    if isinstance(v, decimal.Decimal):
        return ("f", float(f"{float(v):.9g}"))
    return v


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def _canon_cell(v: Any) -> Any:
    """Canonicalize one pandas cell, preserving the int-vs-float dtype kind.

    The driver materializes both sides as pandas DataFrames, so a DuckDB
    HUGEINT (→ float64) against a Spark bigint (→ int64) is a REAL driver
    failure even when values are numerically equal (CORRECTNESS_r01
    ``agg_filtered_conditional``).  Tagging cells by kind reproduces that
    here; conflating them (as exact ``fetchall`` ints did in round 1) is
    what let 7 latent driver failures through the local suite.
    """
    import decimal

    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        # the driver's pandas sort_values raises on nested cells; mirror it
        raise TypeError(f"unhashable nested cell: {type(v).__name__}")
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        if f == 0:
            return ("f", 0.0)
        return ("f", float(f"{f:.9g}"))
    if isinstance(v, pd.Timestamp):
        if v.tz is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # deliberately distinct from the float kind: a Decimal-object column
        # (Spark DecimalType via Arrow) against DuckDB's float64 must fail
        # loudly so the query adds an explicit double cast on both sides
        return ("dec", str(v.normalize()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _sort_key(t: tuple) -> tuple:
    return tuple((x is None, str(type(x)), str(x)) for x in t)


def canonical_pdf(pdf) -> list[tuple]:
    """Driver-shaped canonicalization of a pandas DataFrame.

    Mirrors the driver harness: columns sorted by name, then
    ``sort_values`` over all columns — which (exactly like the driver)
    raises ``TypeError: unhashable type`` when a cell holds a list/struct —
    then per-cell kind-tagged canonicalization and a deterministic final
    row sort.
    """
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort(key=_sort_key)
    return rows


def compare(
    name: str,
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    oracle_sql: str,
    max_diff_shown: int = 5,
) -> CompareResult:
    """Driver-exact comparison: both sides through pandas.

    Round 1 compared ``fetchall()`` tuples (exact Python ints for DuckDB
    HUGEINT, native lists for arrays), which masked every pandas-level
    divergence the driver actually checks.  This path uses the driver's
    own materialization — ``spark_df.toPandas()`` / ``rel.df()`` — so any
    driver hash failure reproduces locally first (VERDICT.md round 1,
    "Next round" #2).
    """
    s_pdf = spark_df.toPandas()
    o_pdf = con.execute(oracle_sql).df()
    s_cols, o_cols = list(s_pdf.columns), list(o_pdf.columns)

    if sorted(s_cols) != sorted(o_cols):
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf),
            f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}",
        )
    if len(s_pdf) != len(o_pdf):
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf),
            f"row count mismatch: spark={len(s_pdf)} oracle={len(o_pdf)}",
        )
    try:
        s_canon = canonical_pdf(s_pdf)
    except TypeError as e:
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf), f"spark canon error: {e}"
        )
    try:
        o_canon = canonical_pdf(o_pdf)
    except TypeError as e:
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf), f"oracle canon error: {e}"
        )
    if s_canon != o_canon:
        diffs = [
            f"  spark={s!r}\n  oracle={o!r}"
            for s, o in zip(s_canon, o_canon)
            if s != o
        ][:max_diff_shown]
        return CompareResult(
            name, False, len(s_pdf), len(o_pdf),
            "value mismatch (first diffs):\n" + "\n".join(diffs),
        )
    return CompareResult(name, True, len(s_pdf), len(o_pdf))
