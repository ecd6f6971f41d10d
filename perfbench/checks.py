"""Correctness checks. Each returns a list of failure strings (empty = ok),
so a run can report every broken invariant instead of the first."""

from __future__ import annotations

import pandas as pd


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, integers widened, rows sorted by every
    column: the order-insensitive form of a result."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Exact equality of two results up to row and column order."""
    got, exp = _canonical(got), _canonical(exp)
    if list(got.columns) != list(exp.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows vs {len(exp)}"]
    return [f"{name}.{c}: value mismatch" for c in got.columns
            if not got[c].equals(exp[c])]


def equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, expected {want}"]
