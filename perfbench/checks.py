"""Checks made apart from the engine: DuckDB over the generated inputs,
compared with the engine's own order-insensitive harness
(`hiveberg_spark.testing`) plus a guard against vacuous results."""

from __future__ import annotations

import duckdb
import pandas as pd

from hiveberg_spark import testing

# Relative (absolute below 1): the two engines may add the same doubles in
# another order. The listed workloads' float outputs are exact decimals,
# integer-valued sums or ratios of small integers, so nothing looser is
# needed, and an error of one unit in a seven-digit sum still fails.
FLOAT_TOL = 1e-9


def duck(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = testing.duckdb_connect(in_dir)
    con.execute("SET threads TO 2")
    return con


class _Collected:
    """A result already on the driver, in the shape testing.compare reads."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _naive_utc(df: pd.DataFrame) -> pd.DataFrame:
    """Arrow results carry the session time zone (UTC) on timestamps;
    DuckDB's do not."""
    tz = [c for c in df.columns if isinstance(df[c].dtype, pd.DatetimeTZDtype)]
    if not tz:
        return df
    return df.assign(**{c: df[c].dt.tz_convert("UTC").dt.tz_localize(None) for c in tz})


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` and `want` hold the same rows in any order; else
    the first differences. An empty result, or one whose every cell is
    NULL, fails: a check must carry values."""
    got = _naive_utc(got.reset_index(drop=True))
    problems = testing.compare(_Collected(got), _naive_utc(want), float_tol=FLOAT_TOL)
    if problems:
        return "; ".join(problems[:3])
    if len(got) == 0 or got.isna().all().all():
        return "vacuous: no row carries a value"
    return None
