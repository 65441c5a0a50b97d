"""Seeded workload inputs and their expected outputs, cached on disk by
(workload, seed, size).

The graft corpora come from the program's own synthetic generator
(``graft.synth.generate_pdf``); their expected labels are computed once per
corpus from ``graft.reference_impl.reference_labels`` plus the duplicate
rule of :mod:`perfbench.oracles`, in a small spawn pool because the
reference runs row by row.  The tabular tables are generated here with
numpy in the shape of the TPC-H-like test tables the queries were written
for.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles

POOL_WORKERS = 4

CORPUS_SCHEMA = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])

# the near-dup workload's hot band: this many rows share band 0 (the low 16
# bits) of their phash, with distinct upper bits, so the band self-join's
# hot bucket exceeds operators/dedup.py's default hot_bucket_threshold (8192)
HOT_BAND_VALUE = 0x5A5A
HOT_NEAR_COPY_SHARE = 0.04  # hot rows re-using another hot phash with 1-3 flips


@dataclass(frozen=True)
class GraftSpec:
    rows: int
    parts: int
    files_per_part: int = 1
    max_hamming: int = 0  # 0: exact phash dedup
    hot_rows: int = 0  # of ``rows``: copies of generated rows given hot-band phashes


def _atomic_dir(final: Path):
    """(tmp dir to fill, commit callable): a crashed generation leaves only
    a tmp dir that the next run overwrites, never a half-written cache."""
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)

    def commit():
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)

    return tmp, commit


def generate_part(args: tuple) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One partition of the synthetic corpus and its dedup-free reference
    labels (run in a pool worker)."""
    part, n, seed = args
    from dataqualitycontroltool_spark.graft.reference_impl import reference_labels
    from dataqualitycontroltool_spark.graft.rules import KeepDropConfig
    from dataqualitycontroltool_spark.graft.synth import generate_pdf

    pdf = generate_pdf(part, n, seed)
    labels = reference_labels(pdf, KeepDropConfig(dedupe_on=""))
    pdf["bytes"] = pdf["bytes"].map(bytes)
    return pdf, labels


def _hot_band_phashes(rng: np.random.Generator, k: int) -> np.ndarray:
    """k phashes agreeing on band 0, with distinct upper 47 bits, a few of
    them 1-3 bit flips of another (so the hot bucket also holds pairs)."""
    upper = np.unique(rng.integers(0, 1 << 47, size=k * 2, dtype=np.int64))
    upper = rng.permutation(upper)[:k]
    n_copy = int(k * HOT_NEAR_COPY_SHARE)
    src = rng.integers(0, k, size=n_copy)
    dst = rng.choice(k, size=n_copy, replace=False)
    for s, d in zip(src, dst):
        v = int(upper[s])
        for b in rng.choice(47, size=int(rng.integers(1, 4)), replace=False):
            v ^= 1 << int(b)
        upper[d] = v
    return (upper << 16) | HOT_BAND_VALUE


def _add_hot_rows(corpus: pd.DataFrame, labels: pd.DataFrame, seed: int,
                  k: int, parts: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """k copies of random generated rows under new ids and hot-band phashes.
    With dedup off a row's reference label depends only on its own content,
    so a copy's expected label is its source row's."""
    rng = np.random.default_rng(seed * 7919 + 17)
    src = rng.integers(0, len(corpus), size=k)
    hot = corpus.iloc[src].reset_index(drop=True)
    ids = [f"hot-{i:07d}" for i in range(k)]
    hot["image_id"] = ids
    hot["phash"] = _hot_band_phashes(rng, k)
    hot["part"] = np.arange(k) % parts
    hot_labels = labels.iloc[src].reset_index(drop=True)
    hot_labels["image_id"] = ids
    return (pd.concat([corpus, hot], ignore_index=True),
            pd.concat([labels, hot_labels], ignore_index=True))


def build_graft(root: Path, workload: str, seed: int, spec: GraftSpec) -> Path:
    """Corpus at ``<dir>/corpus`` (hive layout ``part=N``) and expected
    labels at ``<dir>/expected.parquet``; returns ``<dir>``."""
    final = root / workload / f"seed{seed}-n{spec.rows}"
    if (final / "_DONE").exists():
        return final
    tmp, commit = _atomic_dir(final)
    base = spec.rows - spec.hot_rows
    tasks = [(p, base // spec.parts + (1 if p < base % spec.parts else 0), seed)
             for p in range(spec.parts)]
    with ProcessPoolExecutor(POOL_WORKERS, mp_context=get_context("spawn")) as pool:
        done = list(pool.map(generate_part, tasks))
    corpus = pd.concat([d[0] for d in done], ignore_index=True)
    labels = pd.concat([d[1] for d in done], ignore_index=True)
    if spec.hot_rows:
        corpus, labels = _add_hot_rows(corpus, labels, seed, spec.hot_rows, spec.parts)

    for part, sub in corpus.groupby("part"):
        d = tmp / "corpus" / f"part={int(part)}"
        d.mkdir(parents=True)
        table = pa.Table.from_pandas(
            sub.drop(columns=["part"]), schema=CORPUS_SCHEMA, preserve_index=False
        )
        step = -(-len(sub) // spec.files_per_part)
        for f in range(spec.files_per_part):
            pq.write_table(table.slice(f * step, step), d / f"part-{f:05d}.parquet")

    is_dup = oracles.duplicate_flags(
        corpus["image_id"].to_numpy(), corpus["phash"].to_numpy(), spec.max_hamming
    )
    expected = oracles.with_duplicate_rule(labels, is_dup)
    expected.to_parquet(tmp / "expected.parquet", index=False)
    (tmp / "_DONE").write_text("")
    commit()
    return final


def real_bitstreams(seed: int, n: int) -> pd.DataFrame:
    """Rows whose JPEG and WebP bytes are genuine T.81 / lossless VP8L
    bitstreams, for timing the real decoders in-process."""
    from dataqualitycontroltool_spark.graft.synth import generate_pdf

    return generate_pdf(9_999, n, seed, real_jpeg_frac=1.0, real_webp_frac=1.0)


# --------------------------------------------------------------------------
# tabular tables
# --------------------------------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "red", "green", "tiny", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# the date field validated by the benchmark's own ValidationPlan: ISO is the
# field format, the other two are dtype violations the C1 suggestion repairs
DATE_FIELD_FORMAT = "%Y-%m-%d"
DATE_RAW_FORMATS = ["%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y"]
DATE_JUNK = ["n/a", "31/31/2020", "2021-13-45", "yesterday"]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n).astype("datetime64[D]")


def _tables(seed: int, rows: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_li, n_ord, n_part, n_docs, n_ev = rows, rows // 4, 20_000, 5_000, rows // 6

    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, size=n_li),
        "l_partkey": rng.integers(0, n_part, size=n_li),
        "l_suppkey": rng.integers(0, 1000, size=n_li),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], size=n_li),
        "l_linestatus": rng.choice(["F", "O"], size=n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04").astype("datetime64[us]"),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, size=n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], size=n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, size=n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01").astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, size=n_ord),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": rng.choice(PART_TYPES, size=n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    texts = [
        " ".join(rng.choice(DOC_WORDS, size=int(k)))
        for k in rng.integers(8, 110, size=n_docs)
    ]
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(DOC_LANGS, size=n_docs, p=DOC_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, size=n_ev)).astype("datetime64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, size=n_ev),
        "event_type": rng.choice(EVENT_TYPES, size=n_ev),
        "value": np.round(rng.exponential(50.0, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    return {
        "lineitem": lineitem, "orders": orders, "part": part,
        "documents": documents, "events": events,
        "datefield": _date_field(rng, rows // 4),
    }


def _date_field(rng, n: int) -> pd.DataFrame:
    days = _days(rng, n, "1990-01-01", "2030-12-31")
    kind = rng.choice(len(DATE_RAW_FORMATS) + 2, size=n, p=[0.45, 0.22, 0.2, 0.08, 0.05])
    junk = rng.choice(DATE_JUNK, size=n)
    raw = []
    for d, k, j in zip(pd.to_datetime(days), kind, junk):
        if k < len(DATE_RAW_FORMATS):
            raw.append(d.strftime(DATE_RAW_FORMATS[k]))
        elif k == len(DATE_RAW_FORMATS):
            raw.append(str(j))
        else:
            raw.append("")
    return pd.DataFrame({"rec_id": np.arange(n, dtype=np.int64), "day": raw})


def build_tabular(root: Path, seed: int, rows: int) -> Path:
    """``<dir>/<table>.parquet`` for every table the tabular queries read."""
    final = root / "tabular_qc" / f"seed{seed}-n{rows}"
    if (final / "_DONE").exists():
        return final
    tmp, commit = _atomic_dir(final)
    for name, df in _tables(seed, rows).items():
        df.to_parquet(tmp / f"{name}.parquet", index=False)
    (tmp / "_DONE").write_text("")
    commit()
    return final


def write_warmup_corpus(path: Path) -> Path:
    """A tiny fixed corpus (4 files) whose pipeline pass spawns the Python
    workers and compiles the scan/project/join/write code paths."""
    if (path / "_DONE").exists():
        return path
    from dataqualitycontroltool_spark.graft.synth import generate_pdf

    tmp, commit = _atomic_dir(path)
    for part in range(4):
        pdf = generate_pdf(part, 24, seed=1)
        pdf["bytes"] = pdf["bytes"].map(bytes)
        d = tmp / f"part={part}"
        d.mkdir()
        pq.write_table(
            pa.Table.from_pandas(pdf.drop(columns=["part"]), schema=CORPUS_SCHEMA,
                                 preserve_index=False),
            d / "part-00000.parquet",
        )
    (tmp / "_DONE").write_text("")
    commit()
    return path
