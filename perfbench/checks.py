"""Order-insensitive result comparison for the correctness checks."""

from __future__ import annotations

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]").astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows; else the first difference.
    Floats match to 1e-9 relative (both sides compute exact decimals, so
    they are normally bit-identical)."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = canon(got), canon(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            ok = np.isclose(gv.astype(float), wv.astype(float), rtol=1e-9, atol=0.0, equal_nan=True)
        else:
            ok = pd.Series(gv).fillna("<null>").astype(str).to_numpy() == pd.Series(wv).fillna("<null>").astype(str).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


def frame(rows: list[tuple], columns: list[str]) -> pd.DataFrame:
    return pd.DataFrame.from_records(rows, columns=columns)
