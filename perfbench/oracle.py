"""Independent pandas recomputation of the feature job and the fitted
transforms, and the comparison the correctness gate applies.

Nothing here imports the engine: every expected value comes from pandas
``shift``, ``rolling``, ``cumsum``, ``ffill`` and ``merge_asof`` (exact-match
ties allowed) over the generated input.  Values whose expected dtype is
float must pass ``numpy.isclose`` (``allclose`` element by element);
integers, strings, dates and timestamps must match exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

GAP_SECONDS = 1800.0
FEATURES = [
    "session_id",
    "text_len_lag1",
    "turn_gap_s",
    "tokens_roll_mean5",
    "tokens_cum_sum",
    "score_ffill",
    "last_tool",
]
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "latency_ms", "tokens", "score", "label", *FEATURES, "ds"]


def _micros(ts: pd.Series) -> pd.Series:
    return (ts - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)


def features(pdf: pd.DataFrame, gap_seconds: float = GAP_SECONDS) -> pd.DataFrame:
    """The shipped feature job's output, recomputed per conversation."""
    d = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    conv = d["conv_id"]
    us = _micros(d["ts"])
    gap_us = us - us.groupby(conv).shift(1)
    is_new = (gap_us.isna() | (gap_us > int(round(gap_seconds * 1_000_000)))).astype("int64")
    d["session_id"] = is_new.groupby(conv).cumsum() - 1
    d["text_len_lag1"] = d["text"].str.len().groupby(conv).shift(1).astype("Int64")
    d["turn_gap_s"] = gap_us / 1_000_000.0
    d["tokens_roll_mean5"] = (
        d["tokens"].astype(float).groupby(conv).rolling(5, min_periods=1).mean().reset_index(level=0, drop=True)
    )
    d["tokens_cum_sum"] = d["tokens"].groupby(conv).cumsum()
    d["score_ffill"] = d["score"].groupby(conv).ffill()
    left = d[["conv_id", "ts"]].reset_index().sort_values("ts", kind="mergesort")
    right = d.loc[d["tool"].notna(), ["conv_id", "ts", "tool"]].rename(columns={"tool": "last_tool"})
    joined = pd.merge_asof(
        left,
        right.sort_values("ts", kind="mergesort"),
        on="ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=True,
    )
    d["last_tool"] = joined.set_index("index")["last_tool"].reindex(d.index)
    d["ds"] = d["ts"].dt.date
    return d[COLUMNS]


def _percentile(values: np.ndarray, p: float) -> float:
    return float(np.percentile(values, p * 100.0))


def fit_state(pdf: pd.DataFrame) -> dict:
    """Expected fitted state of the five transformers the benchmark fits."""
    tokens = pdf["tokens"].to_numpy(dtype=float)
    q1, q3 = _percentile(tokens, 0.25), _percentile(tokens, 0.75)
    edges = list(dict.fromkeys(_percentile(tokens, p) for p in np.linspace(0.0, 1.0, 5)))
    roles = pdf["role"].value_counts()
    return {
        "impute_score": float(pdf["score"].mean()),
        "scale_tokens": (float(tokens.mean()), float(tokens.std(ddof=0))),
        "bin_edges": edges,
        "role_counts": {str(k): int(v) for k, v in roles.items()},
        "iqr_bounds": (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)),
    }


def serve_vector(feat: pd.Series, state: dict) -> dict:
    """Expected request output for one feature row, given a fitted state
    (already checked against :func:`fit_state`)."""
    out = {k: None if pd.isna(v) else v for k, v in feat.items()}
    tokens = float(feat["tokens"])
    edges = state["bin_edges"]
    lo = edges[0] - abs(edges[0]) * 0.001 if edges[0] != 0 else -0.001
    if lo < tokens <= edges[-1]:
        out["tokens_binned"] = sum(int(tokens > e) for e in edges[1:-1])
    else:
        out["tokens_binned"] = None
    b_lo, b_hi = state["iqr_bounds"]
    out["tokens_is_outlier"] = int(tokens < b_lo or tokens > b_hi)
    out["role_count"] = state["role_counts"].get(feat["role"], 0)
    if out["score"] is None:
        out["score"] = state["impute_score"]
    mean, std = state["scale_tokens"]
    out["tokens"] = (tokens - mean) / (std or 1.0)
    return out


def _column_equal(e: pd.Series, a: pd.Series, exact: bool) -> np.ndarray:
    """Element-wise comparison under the gate's rules, nulls equal to nulls;
    ``exact`` compares floats bit for bit too."""
    en, an = e.isna().to_numpy(), a.isna().to_numpy()
    types = pd.api.types
    if types.is_datetime64_any_dtype(e) or types.is_datetime64_any_dtype(a):
        eq = pd.to_datetime(e).to_numpy("datetime64[ns]") == pd.to_datetime(a).to_numpy("datetime64[ns]")
    elif types.is_numeric_dtype(e) and types.is_numeric_dtype(a):
        ev = e.to_numpy(dtype=float, na_value=np.nan)
        av = a.to_numpy(dtype=float, na_value=np.nan)
        eq = ev == av if exact or e.dtype.kind != "f" else np.isclose(ev, av)
    else:
        eq = e.to_numpy(dtype=object) == a.to_numpy(dtype=object)
    return (en & an) | (~en & ~an & eq)


def compare_frames(expected: pd.DataFrame, actual: pd.DataFrame, cols=COLUMNS, exact: bool = False) -> list[str]:
    """Row-by-row comparison keyed on (conv_id, turn_idx); returns a short
    description of the first mismatch in each column, empty when the
    frames agree."""
    key = ["conv_id", "turn_idx"]
    exp = expected.set_index(key).sort_index()
    act = actual.set_index(key).sort_index()
    if len(exp) != len(act) or not exp.index.equals(act.index):
        return [f"row keys differ: expected {len(exp)} rows, got {len(act)}"]
    problems = []
    for c in cols:
        if c in key:
            continue
        if c not in act.columns:
            problems.append(f"missing column {c}")
            continue
        bad = np.flatnonzero(~_column_equal(exp[c], act[c], exact))
        if len(bad):
            i = bad[0]
            problems.append(f"{c} at {exp.index[i]}: expected {exp[c].iloc[i]!r}, got {act[c].iloc[i]!r} ({len(bad)} rows)")
    return problems
