"""Regenerate the profiler fixture CSVs in this directory.

    python tests/fixtures/profilers/generate.py

Seeded, so a rerun rewrites identical files.  The shapes follow the
reference tool's own test datasets (FIXTURES.md F4): a Gaussian table with
planted mean±3σ outliers, integer columns with a constant column and a
mode tie, nominal and text columns with frequency ties, and two date
columns in different formats with unparseable entries.  The goldens are
not stored here: tests/test_profilers.py computes them from these files
with numpy and the standard library.
"""

import csv
import datetime
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def write(name, header, rows):
    with open(os.path.join(HERE, name), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def main():
    rng = np.random.default_rng(20261018)
    n = 100

    v1 = rng.standard_normal(n)
    v1[17] = 4.75  # one planted outlier above mean + 3σ
    v3 = rng.gamma(2.0, 1.5, n)
    v3[[48, 92]] = [14.9, 14.1]  # two planted outliers
    write(
        "random_numeric.csv",
        ["Patient_id", "Variable_1", "Variable_3"],
        [(f"P{i:03d}", f"{a:.10f}", f"{b:.10f}") for i, (a, b) in enumerate(zip(v1, v3))],
    )

    i1 = rng.choice([v for v in range(36, 88) if v not in (64, 71)], n)
    i1[:9], i1[9:18] = 71, 64  # 71 and 64 tie for the mode: 64 wins
    i3 = rng.integers(9, 31, n)
    rows = []
    for i in range(n):
        a = "" if i % 23 == 22 else str(i1[i])
        c = "" if i % 31 == 30 else str(i3[i])
        rows.append((f"P{i:03d}", a, "0", c))
    write("integer.csv", ["Patient_id", "Variable_1", "Variable_2", "Variable_3"], rows)

    cats1 = rng.choice(["NL", "MCI", "AD"], n, p=[0.4, 0.35, 0.25])
    cats2 = rng.choice(["1", "2"], n)
    write(
        "nominal.csv",
        ["Variable_1", "Variable_2"],
        [("" if i % 13 == 12 else a, "" if i % 17 == 16 else b)
         for i, (a, b) in enumerate(zip(cats1, cats2))],
    )

    start1 = datetime.date(2001, 5, 20)
    d1 = [start1 + datetime.timedelta(days=int(x)) for x in rng.integers(0, 40, n)]
    d2 = [datetime.date(1930, 1, 1) + datetime.timedelta(days=int(x))
          for x in rng.integers(0, 33000, n)]
    d2[3] = d2[40] = d2[77]  # a three-way mode among otherwise spread dates
    rows = []
    for i in range(n):
        a = f"{d1[i].year}-{d1[i].month}-{d1[i].day}"
        b = f"{d2[i].day}/{d2[i].month}/{d2[i].year}"
        if i % 19 == 18:
            a, b = "not a date", "31/02/2001"
        rows.append((a, b))
    write("dates.csv", ["Variable_1", "Variable_2"], rows)

    countries = ["Germany", "Italy", "Netherlands", "Denmark", "Belgium", "Austria",
                 "Albania", "Ireland", "Turkey", "Spain", "France", "Greece", "Norway"]
    weights = np.array([17, 9, 9, 7, 6, 1, 1, 2, 2, 3, 5, 4, 2], dtype=float)
    text = rng.choice(countries, n, p=weights / weights.sum())
    write("text.csv", ["Variable_1"], [("" if i % 29 == 28 else t,) for i, t in enumerate(text)])


if __name__ == "__main__":
    main()
