"""Brute-force O(n²) pure-Python oracle for window-frame semantics.

Independently re-implements the reference's buffer-order frame rules
(survey §2.2 / hybridse mem_catalog.h) row by row, with no shared code
with the engine kernel — obviously-correct, used only on small data.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def to_ms(v) -> int:
    if isinstance(v, pd.Timestamp):
        return v.value // 1_000_000
    return int(v)


def frame_indices(rows, i, spec) -> list[int]:
    """rows: list of dicts with at least '_ok' (int64 order key) and
    '_emit' (bool). Returns buffer indices of row i's frame."""
    ok_i = rows[i]["_ok"]
    # buffered rows = positions j < i (sorted order), plus current row
    cand = list(range(i))
    frame = []
    if spec.frame == "rows":
        # eligible buffered rows, newest first; position 1 = previous row
        eligible = [
            j for j in reversed(cand)
            if not (spec.exclude_current_time and rows[j]["_ok"] == ok_i)
        ]
        start_pos = spec.end_preceding if spec.end_preceding else 1
        if spec.preceding is None:
            end_pos = len(eligible)
        else:
            end_pos = spec.preceding - (1 if spec.open_preceding else 0)
        frame = sorted(eligible[start_pos - 1:end_pos]) if end_pos >= start_pos else []
    else:
        lo_bound = -(2**62) if spec.preceding is None else ok_i - spec.preceding
        hi_bound = ok_i - spec.end_preceding
        for j in cand:
            okj = rows[j]["_ok"]
            if spec.open_preceding:
                if not (okj > lo_bound):
                    continue
            else:
                if not (okj >= lo_bound):
                    continue
            if okj > hi_bound:
                continue
            if spec.exclude_current_time and okj == ok_i:
                continue
            frame.append(j)
    include_cur = (spec.end_preceding == 0) and not spec.exclude_current_row
    if spec.maxsize:
        cap = spec.maxsize - (1 if include_cur else 0)
        frame = frame[-cap:] if cap > 0 else []
    if spec.instance_not_in_window:
        frame = [j for j in frame if not rows[j]["_emit"]]
    if include_cur:
        frame.append(i)
    return frame


def agg_value(fn, vals, **kw):
    xs = [v for v in vals if v is not None and not (isinstance(v, float) and math.isnan(v))]
    if fn == "count":
        return len(xs)
    if fn == "distinct_count":
        # reference udaf: NULL inserts the type's default value into
        # the set (test_udaf_function.yaml id=5/6)
        nulls = len(xs) != len(list(vals))
        if nulls and not xs:
            return 1
        if nulls:
            x0 = xs[0]
            if isinstance(x0, bool):
                d = False
            elif isinstance(x0, (int, np.integer)):
                d = 0
            elif isinstance(x0, (float, np.floating)):
                d = 0.0
            else:
                d = ""
            xs = list(xs) + [d]
        return len(set(xs))
    if not xs:
        return None
    if fn == "sum":
        return sum(xs)
    if fn == "avg":
        return sum(xs) / len(xs)
    if fn == "min":
        return min(xs)
    if fn == "max":
        return max(xs)
    if fn == "median":
        return float(np.median(xs))
    if fn == "stddev":
        return float(np.std(xs, ddof=1)) if len(xs) > 1 else None
    if fn == "var":
        return float(np.var(xs, ddof=1)) if len(xs) > 1 else None
    if fn == "stddev_pop":
        return float(np.std(xs, ddof=0))
    if fn == "entropy":
        vc = pd.Series([str(x) for x in xs]).value_counts()
        p = vc / vc.sum()
        return float(-(p * np.log2(p)).sum() + 0.0)
    if fn == "drawdown":
        arr = np.array(xs, dtype=float)
        return float(np.max(np.maximum.accumulate(arr) - arr))
    if fn == "ew_avg":
        arr = np.array(xs, dtype=float)[::-1]
        w = (1 - kw.get("param", 0.5)) ** np.arange(len(arr))
        return float((arr * w).sum() / w.sum())
    raise ValueError(fn)


def run_oracle(pdf: pd.DataFrame, spec, aggs, order_col: str, emit_col: str | None = None,
               tiebreak: list[str] | None = None) -> pd.DataFrame:
    """Compute all aggs per partition with the brute-force oracle.

    pdf must contain spec.partition_by, order_col, agg cols and
    (optionally) emit_col (1=primary). Returns only emitted rows with
    agg columns appended, in (partition, order, emit, tiebreak) order.
    """
    tiebreak = tiebreak or list(spec.tiebreak)
    out_rows = []
    for _, g in pdf.groupby(list(spec.partition_by), dropna=False, sort=False):
        g = g[g[order_col].notna()]
        emit_series = g[emit_col] if emit_col else pd.Series(1, index=g.index)
        g = g.assign(_ok=[to_ms(v) for v in g[order_col]], _emit=emit_series.to_numpy() == 1)
        # buffer order: NULL tiebreaks first, as the engine's JVM sorts
        g = g.sort_values(["_ok", "_emit"] + tiebreak, kind="mergesort",
                          na_position="first").reset_index(drop=True)
        rows = g.to_dict("records")
        for i, r in enumerate(rows):
            if not r["_emit"]:
                continue
            fidx = frame_indices(rows, i, spec)
            rec = dict(r)
            for a in aggs:
                if a.func in ("lag", "at"):
                    j = i - a.n
                    rec[a.name] = rows[j][a.col] if j >= 0 else None
                    continue
                if a.func == "first_value":
                    rec[a.name] = rows[fidx[-1]][a.col] if fidx else None
                    continue
                idxs = fidx
                if a.cond is not None:
                    idxs = [j for j in idxs if bool(rows[j][a.cond])]
                base = a.func[:-len("_where")] if a.func.endswith("_where") else a.func
                if base.endswith("_cate"):
                    bb = base[: base.index("_cate")]
                    pairs = {}
                    for j in idxs:
                        k, x = rows[j][a.cate], rows[j][a.col]
                        if k is None or x is None:
                            continue
                        pairs.setdefault(k, []).append(float(x))
                    items = []
                    for k in sorted(pairs, key=str):
                        v = {"sum": sum(pairs[k]), "avg": sum(pairs[k]) / len(pairs[k]),
                             "count": len(pairs[k]), "min": min(pairs[k]), "max": max(pairs[k])}[bb]
                        items.append(f"{k}:{int(v)}" if bb == "count" else f"{k}:{v:g}")
                    rec[a.name] = ",".join(items) if items else None
                else:
                    vals = [rows[j][a.col] if a.col else 1 for j in idxs]
                    rec[a.name] = agg_value(base, vals, param=a.param)
            out_rows.append(rec)
    out = pd.DataFrame(out_rows)
    return out.drop(columns=["_ok", "_emit"], errors="ignore")
