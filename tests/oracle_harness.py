"""Local replica of the driver's differential check: run each registered
query in Spark and its oracle SQL in DuckDB on the same parquet files, then
compare row count, column names/types, and (order-insensitively) values.

Stricter than tolerant: floats compare exactly by default (the determinism
discipline in queries/ is supposed to make them bit-identical); a tolerance
fallback reports near-misses separately so risky queries are visible.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from glue_etl_framework_spark.queries import TABLES, QuerySpec


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
        elif s.dtype == object:
            # dates come back as datetime.date from both engines; unify str
            df[col] = s.map(lambda v: None if v is None else str(v))
    sort_cols = list(df.columns)
    if sort_cols:
        df = df.sort_values(by=sort_cols, kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def result_hash(df: pd.DataFrame) -> str:
    """First 16 hex digits of the sha256 of the sorted, normalized frame:
    two runs with equal hashes returned equal rows."""
    return hashlib.sha256(_normalize(df).to_csv(index=False).encode()).hexdigest()[:16]


def _dtype_kind(s: pd.Series) -> str:
    """Coarse dtype class used for the driver-faithful strictness check.

    The driver's value-hash renders each cell from the materialized frame,
    so an int column on one side and a float column on the other hash
    differently ("995000" vs "995000.0") even when every value is equal —
    exactly the r5 `orders_survival_km_repeat_purchase` failure (DuckDB
    HUGEINT -> pandas float64 vs Spark BIGINT -> Int64). Comparing coarse
    kinds (not exact dtypes) still lets int32 vs int64 pass, which the
    driver also renders identically.
    """
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


@dataclass
class CompareResult:
    name: str
    ok: bool
    exact: bool
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1
    mismatches: list[str] = field(default_factory=list)
    spark_hash: str = ""


def compare_query(
    spec: QuerySpec,
    spark,
    con: duckdb.DuckDBPyConnection,
    sf_dir: str,
    rtol: float = 1e-9,
    atol: float = 1e-12,
) -> CompareResult:
    sdf = spec.fn(spark, sf_dir).toPandas()
    spark_hash = result_hash(sdf)
    if spec.oracle is None:
        ok = len(sdf) >= 0
        return CompareResult(
            spec.name, ok, True, "rows-only (no oracle)", len(sdf), -1, spark_hash=spark_hash
        )
    odf = con.execute(spec.oracle).df()
    res = CompareResult(
        spec.name, True, True, spark_rows=len(sdf), oracle_rows=len(odf), spark_hash=spark_hash
    )
    if sorted(sdf.columns) != sorted(odf.columns):
        res.ok = False
        res.mismatches.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return res
    if len(sdf) != len(odf):
        res.ok = False
        res.mismatches.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
        return res
    s, o = _normalize(sdf), _normalize(odf)
    for col in s.columns:
        ks, ko = _dtype_kind(s[col]), _dtype_kind(o[col])
        if ks != ko:
            res.ok = False
            res.exact = False
            res.mismatches.append(
                f"{col}: dtype kind mismatch spark={s[col].dtype}({ks}) "
                f"oracle={o[col].dtype}({ko}) — driver hash renders these differently"
            )
    if not res.ok:
        return res
    for col in s.columns:
        sv, ov = s[col], o[col]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            a, b = sv.to_numpy(), ov.to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            exact_eq = (a == b) | both_nan
            if not exact_eq.all():
                res.exact = False
                close = np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True)
                if close.all():
                    idx = int(np.argmin(exact_eq))
                    res.mismatches.append(
                        f"{col}: {int((~exact_eq).sum())} float near-miss(es) within tol, e.g. {a[idx]!r} vs {b[idx]!r}"
                    )
                else:
                    res.ok = False
                    idx = int(np.argmin(close))
                    res.mismatches.append(
                        f"{col}: value mismatch e.g. {a[idx]!r} vs {b[idx]!r}"
                    )
        else:
            sv2 = sv.astype(object).where(pd.notna(sv), None)
            ov2 = ov.astype(object).where(pd.notna(ov), None)
            neq = [
                (x, y)
                for x, y in zip(sv2.tolist(), ov2.tolist())
                if x != y and not (x is None and y is None)
            ]
            if neq:
                res.ok = False
                res.exact = False
                res.mismatches.append(f"{col}: {len(neq)} mismatch(es), e.g. {neq[0]!r}")
    if not math.isclose(1, 1):  # pragma: no cover - keep math import honest
        raise AssertionError
    return res
