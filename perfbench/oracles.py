"""Independent expected outputs and the comparisons the benchmark runs on
every result.

* Duplicate groups: all pairs of distinct phashes within ``max_hamming``
  bits by brute-force numpy popcount, grouped with union-find; the keeper of
  a group is its minimum ``image_id``.  ``max_hamming=0`` is exact equality.
* Graft labels: ``reference_labels`` run with dedup off, then the duplicate
  rule applied last, as the pipeline's rule order has it.
* Tabular queries: rows compared order-insensitively with their DuckDB
  ``oracle_sql()`` twin, and the date field's suggestions with
  ``datefmt.suggest_date`` applied in pandas.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits per element of a uint64 array (SWAR, no lookup table)."""
    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & _M1
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return ((x * _H01) >> np.uint64(56)).astype(np.int64)


def near_pairs(values: np.ndarray, max_bits: int, block: int = 512) -> np.ndarray:
    """(i, j) with i < j for every pair of ``values`` (int64, distinct)
    whose bit patterns differ in at most ``max_bits`` bits; brute force over
    all pairs, ``block`` rows at a time."""
    v = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
    out = []
    for lo in range(0, len(v), block):
        a = v[lo:lo + block]
        d = popcount64(a[:, None] ^ v[None, lo:])  # columns lo.. only: i <= j
        ii, jj = np.nonzero(d <= max_bits)
        keep = jj > ii  # drop the diagonal
        out.append(np.stack([ii[keep] + lo, jj[keep] + lo], axis=1))
    return np.concatenate(out) if out else np.empty((0, 2), dtype=np.int64)


def union_find(n: int, pairs: np.ndarray) -> np.ndarray:
    """Component root per node 0..n-1 after joining every pair."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def duplicate_flags(image_ids: np.ndarray, phash: np.ndarray, max_bits: int) -> np.ndarray:
    """True where a row is not the keeper (minimum image_id) of its
    duplicate group."""
    uniq, inverse = np.unique(phash.astype(np.int64), return_inverse=True)
    pairs = near_pairs(uniq, max_bits) if max_bits > 0 else np.empty((0, 2), np.int64)
    comp = union_find(len(uniq), pairs)[inverse]
    frame = pd.DataFrame({"comp": comp, "image_id": image_ids})
    keeper = frame.groupby("comp")["image_id"].transform("min")
    return (frame["image_id"] != keeper).to_numpy()


def with_duplicate_rule(labels: pd.DataFrame, is_dup: np.ndarray) -> pd.DataFrame:
    """Labels from ``reference_labels(cfg with dedupe_on='')`` with the
    duplicate rule applied last (``RULE_ORDER`` ends with it)."""
    from dataqualitycontroltool_spark.graft.rules import RULE_ORDER

    if RULE_ORDER[-1] != "duplicate":
        raise RuntimeError("the duplicate rule is no longer last in RULE_ORDER")
    out = labels.copy()
    newly = out["keep"].to_numpy() & is_dup
    out.loc[newly, "drop_reason"] = "duplicate"
    out.loc[newly, "keep"] = False
    return out


def reason_histogram(drop_reason: pd.Series) -> dict[str, int]:
    counts = drop_reason.fillna("kept").value_counts()
    return {str(k): int(v) for k, v in sorted(counts.items())}


_NULL = "\0null"


def nulls_equal(s: pd.Series) -> pd.Series:
    """Strings with NULL as a sentinel that compares equal to itself
    (pandas treats None != None as True)."""
    return s.astype(object).where(s.notna(), _NULL)


def check_graft(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Problems found comparing a pipeline result with the expected labels
    (empty when keep F1 is 1.0 and every drop_reason and caption_scrubbed
    matches)."""
    from dataqualitycontroltool_spark.graft.reference_impl import f1_score

    problems = []
    if len(actual) != len(expected):
        problems.append(f"{len(actual)} rows out, {len(expected)} expected")
    m = expected.merge(actual, on="image_id", how="left", suffixes=("_exp", "_act"),
                       indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        problems.append(f"{missing} expected rows missing from the output")
        return problems
    f1 = f1_score(m["keep_exp"].astype(bool), m["keep_act"].astype(bool))
    if f1 != 1.0:
        problems.append(f"keep F1 {f1:.6f}")
    for col in ("drop_reason", "caption_scrubbed"):
        bad = int((nulls_equal(m[f"{col}_exp"]) != nulls_equal(m[f"{col}_act"])).sum())
        if bad:
            problems.append(f"{bad} rows with a different {col}")
    return problems


# --------------------------------------------------------------------------
# tabular
# --------------------------------------------------------------------------

def _canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == 0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return str(x) == str(y)


def compare_rows(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    """None when both results hold the same rows (in any order), else why not."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows != {len(duck_rows)}"
    a, b = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb) or not all(_same(x, y) for x, y in zip(ra, rb)):
            return f"first differing row {ra} != {rb}"
    return None


def expected_date_validation(raw: pd.Series, fmt: str) -> pd.DataFrame:
    """(status, suggestion) per raw date string: missing for '' / NULL,
    valid when it parses in ``fmt``, otherwise a dtype violation whose
    suggestion is ``datefmt.suggest_date``."""
    from dataqualitycontroltool_spark import datefmt

    status, suggestion = [], []
    for v in raw:
        if v is None or v == "":
            status.append("missing")
            suggestion.append(None)
        elif datefmt.parse_date(v, fmt) is not None:
            status.append("valid")
            suggestion.append(None)
        else:
            status.append("dtype")
            suggestion.append(datefmt.suggest_date(v, fmt))
    return pd.DataFrame({"status": status, "suggestion": suggestion})
