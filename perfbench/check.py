"""Order-insensitive result digests and the comparisons the benchmark makes.

A registry query's result is stored as a digest, not as rows: the row count,
a 64-bit multiset hash over the exact (non-float) columns, and for every
float column its null count, min, max, plain sum, absolute sum, sum of
squares and a sum weighted by each row's exact-column hash (which ties a
float to its row).  Two results compare equal when the exact parts are
identical and every float moment agrees within ``REL_TOL`` of that column's
absolute sum: a different summation order moves a moment by a few ulps of
the total, far inside the tolerance, while a value that is off by more than
``REL_TOL`` of the column total moves the sum or the weighted sum past it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-10


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    return str(v)


def _is_float(s: pd.Series) -> bool:
    if pd.api.types.is_float_dtype(s):
        return True
    if s.dtype == object:
        vals = s.dropna()
        return len(vals) > 0 and all(isinstance(v, float) for v in vals)
    return False


def digest(pdf: pd.DataFrame) -> dict:
    """Digest of a result frame; column order and row order do not matter."""
    cols = sorted(pdf.columns)
    floats = [c for c in cols if _is_float(pdf[c])]
    exact = [c for c in cols if c not in floats]
    if exact and len(pdf):
        text = pdf[exact].apply(lambda s: s.map(_canon))
        row_hash = pd.util.hash_pandas_object(text, index=False).to_numpy(np.uint64)
    else:
        row_hash = np.zeros(len(pdf), dtype=np.uint64)
    weight = (row_hash % np.uint64(1009)).astype(np.float64) + 1.0
    out: dict = {
        "rows": int(len(pdf)),
        "columns": cols,
        "exact_hash": f"{int(row_hash.sum(dtype=np.uint64)):016x}",
        "floats": {},
    }
    for c in floats:
        x = pd.to_numeric(pdf[c], errors="coerce").to_numpy(np.float64)
        ok = ~np.isnan(x)
        v, w = x[ok], weight[ok]
        out["floats"][c] = {
            "nulls": int((~ok).sum()),
            "min": float(v.min()) if len(v) else None,
            "max": float(v.max()) if len(v) else None,
            "sum": float(v.sum()),
            "abs": float(np.abs(v).sum()),
            "sq": float((v * v).sum()),
            "wsum": float((v * w).sum()),
        }
    return out


def _close(a, b, scale: float) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= REL_TOL * scale + 1e-300


def diff(got: dict, want: dict) -> list[str]:
    """Human-readable differences between two digests; empty when equal."""
    problems = [
        f"{k}: {got[k]!r} != {want[k]!r}"
        for k in ("rows", "columns", "exact_hash")
        if got[k] != want[k]
    ]
    for c, w in want["floats"].items():
        g = got["floats"].get(c)
        if g is None:
            problems.append(f"{c}: missing float column")
            continue
        if g["nulls"] != w["nulls"]:
            problems.append(f"{c}.nulls: {g['nulls']} != {w['nulls']}")
        scale = max(abs(w["abs"]), abs(g["abs"]))
        for k, s in (("min", None), ("max", None), ("sum", scale), ("abs", scale),
                     ("sq", max(w["sq"], g["sq"])), ("wsum", 1009 * scale)):
            if s is None and g[k] is not None and w[k] is not None:
                s = max(abs(g[k]), abs(w[k]))
            if not _close(g[k], w[k], s):
                problems.append(f"{c}.{k}: {g[k]!r} != {w[k]!r}")
    return problems


def check_pipeline(got: dict, want: dict) -> list[str]:
    """Compare one reference-pipeline outcome with its expected record.

    Row counts and both LinearRegression scenarios must match exactly.  The
    GradientBoosting scenarios move between runs at a fixed seed (a known
    determinism defect), so each of their metrics may differ from its
    stored midpoint by at most its own drift over repeated cold runs
    (``gbt_drift``).
    """
    problems = [
        f"{k}: {got.get(k)!r} != {want[k]!r}"
        for k in ("model_ready_rows", "written_rows")
        if got.get(k) != want[k]
    ]
    for model, metrics in want["results"].items():
        g = got.get("results", {}).get(model)
        if g is None:
            problems.append(f"{model}: missing")
            continue
        drift = want["gbt_drift"].get(model, {})
        for k, v in metrics.items():
            if not abs(g[k] - v) <= drift.get(k, 0.0):  # NaN fails too
                problems.append(f"{model}.{k}: {g[k]!r} != {v!r} ± {drift.get(k, 0.0)!r}")
    return problems
