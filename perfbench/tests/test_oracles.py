import numpy as np
import pandas as pd
import pytest

from perfbench import oracles


def test_popcount_matches_python():
    rng = np.random.default_rng(0)
    x = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=500,
                     dtype=np.int64)
    x[:3] = [0, -1, np.iinfo(np.int64).min]
    got = oracles.popcount64(x.view(np.uint64))
    want = [bin(int(v) & (2**64 - 1)).count("1") for v in x]
    assert got.tolist() == want


def test_near_pairs_is_brute_force():
    rng = np.random.default_rng(1)
    base = rng.integers(0, 1 << 62, size=40, dtype=np.int64)
    near = base[:10] ^ (1 << rng.integers(0, 62, size=10))  # one flipped bit
    far = base[10:15] ^ 0b1111  # four flipped bits
    values = np.unique(np.concatenate([base, near, far]))
    got = {tuple(p) for p in oracles.near_pairs(values, 3, block=7).tolist()}
    want = {
        (i, j)
        for i in range(len(values))
        for j in range(i + 1, len(values))
        if bin(int(values[i]) ^ int(values[j])).count("1") <= 3
    }
    assert got == want
    assert len(want) >= 10


def test_union_find_joins_transitively():
    comp = oracles.union_find(6, np.array([[0, 1], [1, 2], [4, 5]]))
    assert comp.tolist() == [0, 0, 0, 3, 4, 4]


def test_duplicate_flags_exact_and_near():
    ids = np.array(["d", "a", "c", "b", "e"])
    # a~c differ by 2 bits, c~b by 2 (a and b by 4: joined only through c)
    ph = np.array([0b1, 0b0, 0b11, 0b1111, 0b111 << 40])
    exact = oracles.duplicate_flags(ids, np.array([7, 7, 3, 3, 9]), 0)
    assert exact.tolist() == [True, False, True, False, False]
    near = oracles.duplicate_flags(ids, ph, 2)
    # group {d, a, c, b} keeps "a"; e stands alone
    assert near.tolist() == [True, False, True, True, False]


def test_duplicate_rule_applies_last():
    labels = pd.DataFrame({
        "image_id": ["a", "b", "c"],
        "keep": [True, False, True],
        "drop_reason": [None, "bad_format", None],
        "caption_scrubbed": ["x", "y", "z"],
    })
    out = oracles.with_duplicate_rule(labels, np.array([True, True, False]))
    assert out["drop_reason"].tolist() == ["duplicate", "bad_format", None]
    assert out["keep"].tolist() == [False, False, True]


def _frame(reasons, captions):
    return pd.DataFrame({
        "image_id": [f"i{k}" for k in range(len(reasons))],
        "keep": [r is None for r in reasons],
        "drop_reason": reasons,
        "caption_scrubbed": captions,
    })


def test_check_graft_treats_nulls_as_equal():
    exp = _frame([None, "duplicate"], [None, "a"])
    assert oracles.check_graft(exp.copy(), exp) == []


def test_check_graft_reports_differences():
    exp = _frame([None, "duplicate", None], ["a", "b", None])
    act = _frame([None, "bad_format", "bad_dims"], ["a", "b", "c"])
    problems = oracles.check_graft(act, exp)
    assert any("keep F1" in p for p in problems)
    assert "2 rows with a different drop_reason" in problems
    assert "1 rows with a different caption_scrubbed" in problems
    assert oracles.check_graft(act.iloc[:2], exp) == [
        "2 rows out, 3 expected", "1 expected rows missing from the output"]


def test_compare_rows_ignores_order_and_float_noise():
    a = [(1, "x", 0.1 + 0.2), (2, "y", None)]
    b = [("y", 2, None), ("x", 1, 0.3)]
    assert oracles.compare_rows(a, ["k", "v", "f"], b, ["v", "k", "f"]) is None
    assert "rows" in oracles.compare_rows(a, ["k", "v", "f"], b[:1], ["v", "k", "f"])
    assert "differing" in oracles.compare_rows(
        a, ["k", "v", "f"], [("y", 2, None), ("x", 1, 0.4)], ["v", "k", "f"])


@pytest.mark.parametrize("raw, status, suggestion", [
    ("2020-02-29", "valid", None),
    ("", "missing", None),
    ("29/02/2020", "dtype", "2020-02-29"),
    ("02-29-2020", "dtype", "2020-02-29"),
    ("31/31/2020", "dtype", None),
])
def test_expected_date_validation(raw, status, suggestion):
    got = oracles.expected_date_validation(pd.Series([raw]), "%Y-%m-%d")
    assert got["status"].tolist() == [status]
    assert got["suggestion"].tolist() == [suggestion]
