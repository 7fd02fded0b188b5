"""Local DuckDB-oracle harness — mirrors the driver's correctness gate.

Runs an engine query and its ANSI-SQL oracle side-by-side on the same
parquet tables and compares row count, column names, and exact values
(order-insensitive). Used by tests so oracle drift is caught locally
before the driver's CORRECTNESS run.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from .catalog import TABLES, _scratch_dir


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    # keep any out-of-core spill in the process's scratch root, not the
    # repo-relative `.tmp/` DuckDB defaults to for in-memory DBs (a
    # runaway oracle once dropped >80 GB of spill files into the repo)
    con.execute(f"SET temp_directory = '{_scratch_dir('oracle_spill_')}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _scalar_kind(v) -> str:
    """Kind of one Python/numpy scalar, with numpy scalar types mapped
    to their Python kinds (np.bool_ -> 'bool', np.int32 -> 'int', ...)
    so a numpy-rendered column cannot evade the drift gate."""
    import decimal

    import numpy as np
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (bool, np.bool_)):       # before int: bool < int
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "seq"
    return type(v).__name__


def _value_kind(series: pd.Series) -> str:
    """Hash-relevant kind of a column: the driver's value hash treats
    int/float/Decimal/bool/str renderings of equal values as distinct,
    but is insensitive to integer width.

    Object-dtype columns are classified from the FULL column — a
    mixed-kind column (e.g. Decimal in row 0 but float later)
    previously evaded the gate while still hash-mismatching on the
    driver; r7's head+tail sample still missed a deviant buried
    strictly mid-column (ADVICE r8), so the scan now covers every
    value via one representative per distinct concrete type. A
    genuinely mixed column reports ``mixed(...)`` and only matches an
    identically-mixed counterpart."""
    if pd.api.types.is_bool_dtype(series):
        return "bool"
    if pd.api.types.is_integer_dtype(series):
        return "int"
    if pd.api.types.is_float_dtype(series):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(series):
        return "datetime"
    nn = series.dropna()
    if not len(nn):
        return "empty"
    # Full-column coverage via one-representative-per-distinct-TYPE:
    # every _scalar_kind branch is an isinstance check, so values of
    # the same concrete type always share a kind — grouping by type()
    # is lossless, closes the former head(100)+tail(100) mid-column
    # blind spot, and stays O(n) C-level type() calls (no per-value
    # Python dispatch except once per distinct type).
    reps: dict[type, object] = {}
    for v in nn:
        t = type(v)
        if t not in reps:
            reps[t] = v
    kinds = {_scalar_kind(v) for v in reps.values()}
    if len(kinds) > 1:
        return "mixed(" + ",".join(sorted(kinds)) + ")"
    return kinds.pop()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c], utc=True)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def compare(spark_df, oracle_df: pd.DataFrame,
            float_exact: bool = True) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    issues: list[str] = []
    left = _normalize(spark_df.toPandas())
    right = _normalize(oracle_df)
    if len(left) != len(right):
        issues.append(f"row count {len(left)} != {len(right)}")
    lcols, rcols = list(left.columns), list(right.columns)
    if lcols != rcols:
        issues.append(f"columns {lcols} != {rcols}")
        return issues
    if issues:
        return issues
    for c in left.columns:
        lv, rv = left[c], right[c]
        # The driver's value hash is dtype-sensitive ACROSS KINDS: an
        # int64 19525 and a float64 19525.0 hash differently even though
        # they compare equal here (how lang_stats escaped the round-2
        # local gate: DuckDB SUM(BIGINT) -> HUGEINT -> float64 vs Spark
        # int64), and a Spark DECIMAL arriving as object(Decimal) hashes
        # differently from DuckDB fetchdf's float64 rendering of the
        # same DECIMAL (how grouping_sets_report escaped the round-5
        # gate). Integer WIDTH drift (int32 vs int64, int8) is
        # empirically tolerated — multiple driver-green rows carry it
        # (stream_topk_users r5, pii_scrub r4, dedup_simhash r3) — so
        # only kind-level drift is flagged.
        lk, rk = _value_kind(lv), _value_kind(rv)
        if lk != rk and "empty" not in (lk, rk):
            issues.append(
                f"column {c}: dtype-kind drift {lk}({lv.dtype}) vs "
                f"{rk}({rv.dtype}) (driver hash would mismatch even on "
                f"equal values)")
            continue
        l_float = pd.api.types.is_float_dtype(lv)
        r_float = pd.api.types.is_float_dtype(rv)
        if l_float or r_float:
            lf = lv.astype(float).to_numpy()
            rf = rv.astype(float).to_numpy()
            bad = 0
            for a, b in zip(lf, rf):
                if math.isnan(a) and math.isnan(b):
                    continue
                if float_exact:
                    if a != b:
                        bad += 1
                elif not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    bad += 1
            if bad:
                idx = next(i for i, (a, b) in enumerate(zip(lf, rf))
                           if a != b and not (math.isnan(a) and math.isnan(b)))
                issues.append(
                    f"column {c}: {bad} float mismatches, first at row "
                    f"{idx}: {lf[idx]!r} != {rf[idx]!r}")
        else:
            neq = lv.astype(object).ne(rv.astype(object))
            both_na = lv.isna() & rv.isna()
            neq = neq & ~both_na
            if neq.any():
                i = int(neq.idxmax())
                issues.append(
                    f"column {c}: {int(neq.sum())} mismatches, first at "
                    f"row {i}: {lv.iloc[i]!r} != {rv.iloc[i]!r}")
    return issues


def check_query(spark: SparkSession, name: str, fn, sql: str,
                sf_dir: str) -> list[str]:
    return compare(fn(spark, sf_dir), run_oracle(sql, sf_dir))
