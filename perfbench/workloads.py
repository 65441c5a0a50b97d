"""The workloads: inputs, one closed-loop iteration with its correctness
check, and the per-layer probes of a traced run (every layer on every
workload).

Each iteration is one batch job run to a committed result by one driver,
the next starting only after the previous one finished.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import corpus, oracles
from perfbench.stats import median


@dataclass
class IterResult:
    wall_s: float
    resume_s: float | None = None
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    rss_mb: float = 0.0  # summed peak RSS of Spark's processes in the iteration
    rss_by_process: dict = field(default_factory=dict)


def noop_write(df) -> None:
    """Run ``df`` to completion without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


CHEAP_RULES = ("missing_caption", "bad_format", "bad_dims")


def _spanner(tracer):
    return tracer.span if tracer else (lambda name, **attrs: nullcontext())


# --------------------------------------------------------------------------
# the graft workloads
# --------------------------------------------------------------------------

class GraftWorkload:
    """A seeded synthetic corpus run to a committed result and checked
    against its expected labels.  A traced run also reads every layer over
    the workload's corpus, so each layer is measured both where the job
    leans on it and, on the other workload, where it does little."""

    name = ""
    spec: corpus.GraftSpec
    warm_iterations = 1  # untimed (but checked) iterations before the window
    probe_reps = 2
    kernel_rows = 150  # per format, and captions x4
    probe_hamming = 3  # near-dup probes on a corpus whose own job dedups exactly

    def __init__(self, bench):
        self.bench = bench
        self.items = self.spec.rows  # work items per iteration

    def prepare(self) -> None:
        d = corpus.build_graft(self.bench.inputs, self.name, self.bench.seed, self.spec)
        self.in_path = str(d / "corpus")
        self.expected = pd.read_parquet(d / "expected.parquet")

    def cfg(self):
        from dataqualitycontroltool_spark.graft.rules import KeepDropConfig

        return KeepDropConfig(dedupe_hamming=self.spec.max_hamming)

    def warm_up(self, spark, corpus_path: str, out: str) -> None:
        """The set-up pass: the caption pipeline over the tiny warm-up corpus."""
        from dataqualitycontroltool_spark.graft.pipeline import run_pipeline

        run_pipeline(spark.read.parquet(corpus_path)).write.mode("overwrite").parquet(out)

    def iteration(self, spark, i: int, tracer=None) -> IterResult:
        raise NotImplementedError

    def install_wrappers(self, tracer) -> None:
        """Wrap the program functions the workloads reach only indirectly."""
        from dataqualitycontroltool_spark.graft import checkpoint, pipeline

        tracer.wrap(checkpoint, "ensure_dedup_index", "checkpoint.index")
        tracer.wrap(checkpoint, "read_manifest", "checkpoint.manifest_read")
        tracer.wrap(pipeline, "hamming_dedup_index", "dedup.plan_build")

    # -- per-layer metrics, measured while the traced session is up ---------

    def layer_metrics(self, spark, tracer, traced: list[IterResult]) -> dict:
        m = self._udf_layers(spark, tracer)
        m.update(self._decode_counts(traced))
        m.update(self._near_dup_layers(spark, tracer))
        m.update(self._pipeline_layers(spark, tracer))
        m.update(self._checkpoint_layers(spark, tracer, traced))
        m.update(TabularQC(self.bench).measure(spark, tracer))
        return m

    def _probe(self, spark, tracer, name: str, build) -> float:
        times = []
        for _ in range(self.probe_reps):
            with tracer.span(name) as s:
                noop_write(build(spark.read.parquet(self.in_path)))
            times.append(s.seconds)
        return median(times)

    def _kernels(self) -> tuple[dict, float]:
        """Mean in-process microseconds per kernel call, and the kernel
        seconds the probes' UDFs spend over the whole corpus on one core."""
        from dataqualitycontroltool_spark.graft.decode import check_bytes
        from dataqualitycontroltool_spark.graft.langid import get_model
        from dataqualitycontroltool_spark.graft.perplexity import get_lm

        def per_call_us(fn, items) -> float:
            t0 = time.perf_counter()
            for it in items:
                fn(*it)
            return (time.perf_counter() - t0) / max(len(items), 1) * 1e6

        pdf = pq.read_table(self.in_path, columns=["image_id", "bytes", "fmt", "caption"]
                            ).to_pandas().sort_values("image_id")
        real = corpus.real_bitstreams(self.bench.seed, self.kernel_rows)
        out, corpus_us = {}, {}
        for fmt in ("png", "jpeg", "webp"):
            rows = pdf[pdf["fmt"] == fmt].head(self.kernel_rows)
            corpus_us[fmt] = per_call_us(check_bytes, [(b, fmt) for b in rows["bytes"]])
            real_rows = real[real["fmt"] == fmt]
            out[f"decode.kernel_us_{fmt}"] = per_call_us(
                check_bytes, [(bytes(b), fmt) for b in real_rows["bytes"]])
        caps = [(c,) for c in pdf["caption"].head(4 * self.kernel_rows) if c]
        out["langid.kernel_us"] = per_call_us(get_model().predict, caps)
        out["perplexity.kernel_us"] = per_call_us(get_lm().perplexity, caps)
        n_caps = int(pdf["caption"].fillna("").str.len().gt(0).sum())
        counts = pdf["fmt"].value_counts()
        total_us = sum(counts.get(f, 0) * us for f, us in corpus_us.items()) + n_caps * (
            out["langid.kernel_us"] + out["perplexity.kernel_us"])
        return out, total_us / 1e6

    def _udf_layers(self, spark, tracer) -> dict:
        """Each UDF and column stage projected alone over the corpus, minus
        a scan of the columns it reads; the kernels timed in-process."""
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.graft import scrub
        from dataqualitycontroltool_spark.graft.decode import decode_check
        from dataqualitycontroltool_spark.graft.langid import langid
        from dataqualitycontroltool_spark.graft.perplexity import perplexity
        from dataqualitycontroltool_spark.graft.pipeline import dedup_index

        def exact_dedup(df):
            idx = dedup_index(df).where(F.col("n_members") > 1).select("phash", "keeper_id")
            return df.select("image_id", "phash").join(F.broadcast(idx), "phash", "left")

        def p(name, build):
            return self._probe(spark, tracer, name, build)

        cap = F.col("caption")
        scan_bytes = p("scan.bytes", lambda df: df.select("bytes", "fmt"))
        scan_cap = p("scan.caption", lambda df: df.select("caption"))
        m = {
            "scan.s": p("scan", lambda df: df),
            "decode.udf_s": p("decode", lambda df: df.select(
                decode_check(F.col("bytes"), F.col("fmt")).alias("d"))) - scan_bytes,
            "langid.udf_s": p("langid", lambda df: df.select(langid(cap).alias("l"))) - scan_cap,
            "perplexity.udf_s": p("perplexity", lambda df: df.select(
                perplexity(cap).alias("p"))) - scan_cap,
            "scrub.s": p("scrub", lambda df: df.select(
                scrub.scrub_column(cap).alias("s"), scrub.scrub_flags(cap).alias("n"))) - scan_cap,
            "dedup_exact.s": p("dedup_exact", exact_dedup)
            - p("scan.keys", lambda df: df.select("image_id", "phash")),
        }
        kernels, kernel_total_s = self._kernels()
        m.update(kernels)
        udf_s = m["decode.udf_s"] + m["langid.udf_s"] + m["perplexity.udf_s"]
        # what the three UDF probes cost beyond their Python compute spread
        # over every core: serialisation, Arrow batches, worker round trips
        m["udf.boundary_s"] = udf_s - kernel_total_s / self.bench.cpus
        return m

    @staticmethod
    def _decode_counts(traced: list[IterResult]) -> dict:
        # the pipeline hands the decoder only the bytes of rows that pass the
        # cheap metadata rules, which come first in the rule order
        hist = traced[-1].info["drop_reasons"]
        decoded = sum(hist.values()) - sum(hist.get(r, 0) for r in CHEAP_RULES)
        return {"decode.rows_decoded": decoded,
                "decode.useful_ratio": hist.get("kept", 0) / max(decoded, 1)}

    def _near_dup_layers(self, spark, tracer) -> dict:
        """The near-dup index build as the program runs it, then its band
        join and connected components alone; their counts are checked
        against the popcount/union-find oracle."""
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.graft import pipeline
        from dataqualitycontroltool_spark.operators.dedup import (
            banded_hamming_pairs,
            connected_components,
        )

        h = self.spec.max_hamming or self.probe_hamming
        df = spark.read.parquet(self.in_path)
        self._index_path = str(self.bench.scratch / "near_dup_index")
        # hamming_dedup_index is wrapped: its call is a dedup.plan_build span
        pipeline.hamming_dedup_index(df, "phash", h).write.mode("overwrite").parquet(
            self._index_path)
        ph = df.select(F.col("phash").alias("fp_id"), F.col("phash").alias("fp")).distinct()
        with tracer.span("dedup.band_join") as band:
            pairs = banded_hamming_pairs(ph, "fp_id", "fp", h).localCheckpoint()
        with tracer.span("dedup.cc") as cc:
            comps = connected_components(pairs).localCheckpoint()
        n_pairs = pairs.count()
        n_comps = comps.select("comp").distinct().count()
        groups = pd.read_parquet(self._index_path, columns=["keeper_id", "n_members"])
        dup_rows = int((groups.drop_duplicates("keeper_id")["n_members"] - 1).sum())

        keys = pq.read_table(self.in_path, columns=["image_id", "phash"]).to_pandas()
        uniq = np.unique(keys["phash"].to_numpy())
        exp_pairs = oracles.near_pairs(uniq, h)
        roots = oracles.union_find(len(uniq), exp_pairs)
        expected = {
            "pairs": (n_pairs, len(exp_pairs)),
            "components": (n_comps, len(np.unique(roots[exp_pairs.ravel()]))),
            "duplicate rows": (dup_rows, int(oracles.duplicate_flags(
                keys["image_id"].to_numpy(), keys["phash"].to_numpy(), h).sum())),
        }
        self.bench.count_check("near-dup probes", [
            f"{what}: {got} measured, {want} expected"
            for what, (got, want) in expected.items() if got != want])
        return {
            "dedup.plan_build_s": median([s.seconds for s in tracer.named("dedup.plan_build")]),
            "dedup.band_join_s": band.seconds,
            "dedup.pairs": n_pairs,
            "dedup.cc_s": cc.seconds,
            "dedup.components": n_comps,
            "dedup.dup_rows": dup_rows,
        }

    def _pipeline_layers(self, spark, tracer) -> dict:
        """``run_pipeline`` as one job over the whole corpus to parquet, each
        output checked like an iteration's, run untraced, traced, traced
        and untraced: the traced runs' time over the untraced runs' is the
        tracing overhead (spans and job groups; the event log is on in
        both)."""
        from dataqualitycontroltool_spark.graft.pipeline import run_pipeline

        # the near-dup job reuses the probe's index, as a resumed run would
        idx = spark.read.parquet(self._index_path) if self.spec.max_hamming else None
        times = {False: [], True: []}
        for k, traced in enumerate((False, True, True, False)):
            out = self.bench.scratch / f"pipeline_probe_{k}"
            t0 = time.perf_counter()
            with _spanner(tracer if traced else None)("pipeline"):
                run_pipeline(spark.read.parquet(self.in_path), self.cfg(), dedup=idx
                             ).write.mode("overwrite").parquet(str(out))
            times[traced].append(time.perf_counter() - t0)
            self.bench.count_check("pipeline probe", self._check_output(out))
        return {
            "pipeline.s": median([s.seconds for s in tracer.named("pipeline")]),
            "trace.overhead_share": median(times[True]) / median(times[False]) - 1.0,
        }

    def _check_output(self, out: Path) -> list[str]:
        actual = pq.read_table(
            out, columns=["image_id", "keep", "drop_reason", "caption_scrubbed"]
        ).to_pandas()
        shutil.rmtree(out, ignore_errors=True)
        return oracles.check_graft(actual, self.expected)

    def _checkpoint_runs(self, spark, tracer, traced) -> list[tuple]:
        """(span, partition seconds, MB written) of each resumable run."""
        raise NotImplementedError

    def _checkpoint_layers(self, spark, tracer, traced) -> dict:
        runs = self._checkpoint_runs(spark, tracer, traced)
        part_s = [s for _, ps, _ in runs for s in ps]
        self._partitions = len(part_s)
        # ensure_dedup_index runs in every call; only the first builds
        index_s = [max(s.seconds for s in tracer.descendants(root)
                       if s.name == "checkpoint.index") for root, _, _ in runs]
        return {
            "checkpoint.index_s": median(index_s),
            "checkpoint.partition_s_p50": median(part_s),
            "checkpoint.partition_s_max": max(part_s),
            "checkpoint.write_mb": median([mb for _, _, mb in runs]),
            "checkpoint.manifest_read_s": median(
                [s.seconds for s in tracer.named("checkpoint.manifest_read")]),
        }

    # -- per-layer metrics read from the event log after the session ends ---

    def event_metrics(self, events, tracer) -> dict:
        runs = [s for name in ("checkpoint.crash_run", "checkpoint.resume", "checkpoint.probe")
                for s in tracer.named(name)]
        return {
            # jobs a partition launches itself: the nested index and manifest
            # spans carry their own job groups
            "checkpoint.jobs_per_partition":
                events.total({s.id for s in runs}).jobs / self._partitions,
            "dedup.plan_build_jobs": median(
                [events.total({s.id}).jobs for s in tracer.named("dedup.plan_build")]),
            "dedup.cc_jobs": events.total({s.id for s in tracer.named("dedup.cc")}).jobs,
        }


class CaptionFilter(GraftWorkload):
    """``graft.pipeline.run_pipeline`` over the stub-codec corpus to a
    parquet write, exact phash dedup, checked row by row against the
    reference labels.  Its traced run reads the near-dup layers at hamming
    3 and the checkpoint layers over a few partitions of the same corpus."""

    name = "caption_filter"
    spec = corpus.GraftSpec(rows=4000, parts=16)
    # the JIT is still warming over the first few iterations: on a 4-core VM,
    # in 10 s windows after 3 warm ones the later iterations ran up to 20%
    # faster
    warm_iterations = 6
    checkpoint_probe_parts = 4

    def iteration(self, spark, i, tracer=None) -> IterResult:
        from dataqualitycontroltool_spark.graft.pipeline import run_pipeline

        out = self.bench.scratch / f"out_{i}"
        t0 = time.perf_counter()
        with _spanner(tracer)("pipeline"):
            run_pipeline(spark.read.parquet(self.in_path)).write.mode(
                "overwrite").parquet(str(out))
        wall = time.perf_counter() - t0
        actual = pq.read_table(
            out, columns=["image_id", "keep", "drop_reason", "caption_scrubbed"]
        ).to_pandas()
        shutil.rmtree(out, ignore_errors=True)
        return IterResult(
            wall_s=wall,
            problems=oracles.check_graft(actual, self.expected),
            info={"drop_reasons": oracles.reason_histogram(actual["drop_reason"])},
        )

    def _checkpoint_runs(self, spark, tracer, traced) -> list[tuple]:
        """One resumable run stopped after a few partitions, its output
        checked against the labels of the rows it covers."""
        from pyspark.sql import functions as F

        from dataqualitycontroltool_spark.graft import checkpoint

        out = self.bench.scratch / "checkpoint_probe"
        with tracer.span("checkpoint.probe") as span:
            rows = checkpoint.run_resumable(spark, self.in_path, str(out), self.cfg(),
                                            max_partitions=self.checkpoint_probe_parts)
        parts = sorted(r["part"] for r in rows)
        ids = spark.read.parquet(self.in_path).where(F.col("part").isin(parts)).select(
            "image_id").toPandas()["image_id"]
        actual = checkpoint.read_output(spark, str(out)).select(
            "image_id", "keep", "drop_reason", "caption_scrubbed").toPandas()
        problems = oracles.check_graft(actual, self.expected[self.expected["image_id"].isin(ids)])
        if len(parts) != self.checkpoint_probe_parts:
            problems.append(f"{len(parts)} partitions written")
        if sum(r["rows_in"] for r in rows) != len(ids):
            problems.append("manifest rows_in differs from the partitions' rows")
        self.bench.count_check("checkpoint probe", problems)
        mb = sum(dir_mb(p) for p in out.glob("part=*"))
        shutil.rmtree(out, ignore_errors=True)
        return [(span, [r["wall_s"] for r in rows], mb)]


class NearDupResume(GraftWorkload):
    """``graft.checkpoint.run_resumable`` with hamming-3 near-dup groups over
    a corpus with a hot phash band, in the program's 16-partition layout,
    crashed after half the partitions and resumed; checked against the
    popcount/union-find oracle."""

    name = "neardup_resume"
    spec = corpus.GraftSpec(rows=9_100, parts=16, max_hamming=3, hot_rows=8_500)
    # one crash and resume takes 30-60 s on 4 cores; a second, untimed one
    # does not fit the time budget, so the set-up pass is the only warm-up
    warm_iterations = 0

    def iteration(self, spark, i, tracer=None) -> IterResult:
        from dataqualitycontroltool_spark.graft import checkpoint

        span = _spanner(tracer)
        out = str(self.bench.scratch / f"out_{i}")
        t0 = time.perf_counter()
        with span("checkpoint.crash_run"):
            first = checkpoint.run_resumable(spark, self.in_path, out, self.cfg(),
                                             max_partitions=self.spec.parts // 2)
        t1 = time.perf_counter()
        with span("checkpoint.resume"):
            rest = checkpoint.run_resumable(spark, self.in_path, out, self.cfg())
        t2 = time.perf_counter()
        with span("check"):
            r = self._check(spark, out, first, rest)
        shutil.rmtree(out, ignore_errors=True)
        r.wall_s, r.resume_s = t2 - t0, t2 - t1
        return r

    def _check(self, spark, out: str, first: list, rest: list) -> IterResult:
        from dataqualitycontroltool_spark.graft import checkpoint

        problems = []
        if len(first) != self.spec.parts // 2 or len(first) + len(rest) != self.spec.parts:
            problems.append(f"{len(first)} + {len(rest)} partitions written")
        manifest = checkpoint.read_manifest(out, spark)
        if sorted(manifest) != list(range(self.spec.parts)):
            problems.append(f"manifest lists partitions {sorted(manifest)}")
        rows_in = sum(r["rows_in"] for r in manifest.values())
        if rows_in != self.spec.rows:
            problems.append(f"manifest rows_in sums to {rows_in}")
        actual = checkpoint.read_output(spark, out).select(
            "image_id", "keep", "drop_reason", "caption_scrubbed").toPandas()
        problems += oracles.check_graft(actual, self.expected)
        return IterResult(wall_s=0.0, problems=problems, info={
            "drop_reasons": oracles.reason_histogram(actual["drop_reason"]),
            "partition_s": [r["wall_s"] for r in first + rest],
            "write_mb": sum(dir_mb(p) for p in Path(out).glob("part=*")),
        })

    def _checkpoint_runs(self, spark, tracer, traced) -> list[tuple]:
        return [(span, it.info["partition_s"], it.info["write_mb"])
                for span, it in zip(tracer.named("iteration"), traced)]


# --------------------------------------------------------------------------
# tabular profiling / validation (a probe set of every traced run)
# --------------------------------------------------------------------------

# (query, layer metric it adds to); date_field_validation is the benchmark's
# own ValidationPlan over mixed-format date strings (the C1 pandas UDF path)
TABULAR_QUERIES = [
    ("profile_numeric_quantity", "profiler.s"),
    ("profile_numeric_extendedprice", "quantiles.s"),
    ("profile_integer_psize", "profiler.s"),
    ("profile_nominal_returnflag", "profiler.s"),
    ("profile_text_ptype", "profiler.s"),
    ("profile_date_orderdate", "profiler.s"),
    ("outlier_rows_extendedprice", "profiler.s"),
    ("validation_summary_documents", "compiler.s"),
    ("corrected_documents_lang", "compiler.s"),
    ("row_valid_histogram_documents", "compiler.s"),
    ("quantile_buckets_documents", "compiler.s"),
    ("date_suggestion_events", "compiler.date_suggest_s"),
    ("date_field_validation", "compiler.date_suggest_s"),
    ("infer_schema_documents", "inference.s"),
    ("windowed_validation_events", "streaming_validate.s"),
]
TABLES = ["lineitem", "orders", "part", "documents", "events", "datefield"]


class TabularQC:
    """The reference tool's profiling and validation queries over seeded
    TPC-H-like tables, each checked against its DuckDB oracle.  Every query
    runs once untimed, then in ``passes`` timed passes, each in an order
    rotated by seed and pass, so no query's time depends on registry order."""

    rows = 150_000  # lineitem rows; the other tables scale from it
    passes = 1

    def __init__(self, bench):
        self.bench = bench

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.dir = corpus.build_tabular(self.bench.inputs, self.bench.seed, self.rows)
        self.registry = entry.queries()
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.oracle = {}
            for q, _ in TABULAR_QUERIES:
                if q in sql:
                    res = con.execute(sql[q])
                    self.oracle[q] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        raw = pd.read_parquet(self.dir / "datefield.parquet")
        exp = oracles.expected_date_validation(raw["day"], corpus.DATE_FIELD_FORMAT)
        exp["rec_id"] = raw["rec_id"].to_numpy()
        self.date_expected = exp

    def _date_field(self, spark):
        from dataqualitycontroltool_spark.plans.compiler import ValidationPlan
        from dataqualitycontroltool_spark.specs import TableSpec

        spec = TableSpec.from_descriptor({
            "fields": [{"name": "day", "type": "date", "MIPType": "date",
                        "format": corpus.DATE_FIELD_FORMAT}],
            "missingValues": [""],
        })
        df = spark.read.parquet(str(self.dir / "datefield.parquet"))
        return ValidationPlan(spec).apply(df, derive=("status", "suggestion"), keep=["rec_id"])

    def _check_date_field(self, rows) -> str | None:
        got = pd.DataFrame([tuple(r) for r in rows],
                           columns=["rec_id", "status", "suggestion"])
        m = self.date_expected.merge(got, on="rec_id", suffixes=("_exp", "_act"))
        if len(m) != len(self.date_expected) or len(got) != len(m):
            return f"{len(got)} rows validated, {len(self.date_expected)} expected"
        bad = int(((m["status_exp"] != m["status_act"])
                   | (oracles.nulls_equal(m["suggestion_exp"])
                      != oracles.nulls_equal(m["suggestion_act"]))).sum())
        return f"{bad} date rows differ from suggest_date" if bad else None

    def run_pass(self, spark, k: int, tracer=None) -> tuple[dict, list[str]]:
        """Every query once, starting at position ``k``: (seconds per query,
        problems)."""
        k %= len(TABULAR_QUERIES)
        times, problems = {}, []
        for q, layer in TABULAR_QUERIES[k:] + TABULAR_QUERIES[:k]:
            t0 = time.perf_counter()
            with _spanner(tracer)(layer, query=q):
                df = (self._date_field(spark) if q == "date_field_validation"
                      else self.registry[q](spark, str(self.dir)))
                rows = df.collect()
            times[q] = time.perf_counter() - t0
            if q == "date_field_validation":
                why = self._check_date_field(rows)
            else:
                cols, expected = self.oracle[q]
                why = oracles.compare_rows([tuple(r) for r in rows], df.columns,
                                           expected, cols)
            if why:
                problems.append(f"{q}: {why}")
        return times, problems

    def measure(self, spark, tracer) -> dict:
        """Per-layer seconds: each query's median over the timed passes,
        summed by layer.  A pass with an oracle mismatch counts as a failed
        iteration of the run."""
        self.prepare()
        passes = [self.run_pass(spark, self.bench.seed + p, tracer if p else None)
                  for p in range(self.passes + 1)]
        for p, (_, problems) in enumerate(passes):
            self.bench.count_check(f"tabular pass {p}", problems)
        out = {layer: 0.0 for _, layer in TABULAR_QUERIES}
        for q, layer in TABULAR_QUERIES:
            out[layer] += median([times[q] for times, _ in passes[1:]])
        return out


WORKLOADS = {w.name: w for w in (CaptionFilter, NearDupResume)}
