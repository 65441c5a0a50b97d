"""One benchmark run: set-up, the closed loop of iterations, and (traced)
the per-layer metrics.

Set-up is what a user of the program pays once per process: the session
start (JVM launch included) plus a warm-up pass over a tiny fixed corpus
(Python worker spawn, code generation, JIT).  Each run does it once, cold,
with the program's session defaults but a 2g driver heap (see
``DRIVER_MEMORY``); ``setup_s`` is its time.  A traced run writes Spark's
event log, traces its window's iterations (spans and job groups) and then
runs the layer probes.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time
import traceback
from pathlib import Path

from perfbench import corpus
from perfbench.spans import Tracer, read_event_log
from perfbench.stats import median, summary
from perfbench.workloads import WORKLOADS, IterResult

# The program's sessions default to an 8g driver heap.  With it, how far G1
# grows the heap (and so the JVM's resident memory) differed from run to run by
# up to 40% on a 4-core VM, which would leave peak_rss_mb measuring the
# collector's sizing policy.  A 2g heap caps that growth; at 1g the extra
# collections made the caption job's wall time swing by 30% between runs.
DRIVER_MEMORY = "2g"
UNCOUNTED_SPANS = ("check",)


def child_pids() -> list[int]:
    """Every process this one started, directly or not (the Spark driver
    JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out = []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        out.append(pid)
    return out


def reset_peak_rss() -> None:
    """Set each child's VmHWM back to its current RSS."""
    for pid in child_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(breakdown: dict | None = None) -> float:
    """Summed VmHWM of the children since they started or were last reset;
    ``breakdown`` collects MB per command name."""
    total_kb = 0
    for pid in child_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        kb = int(status.get("VmHWM", "0 kB").split()[0])
        total_kb += kb
        if breakdown is not None:
            name = status.get("Name", "?").strip()
            breakdown[name] = breakdown.get(name, 0.0) + kb / 1024.0
    return total_kb / 1024.0


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def program_digest(root: Path) -> str:
    """Commit when the checkout is a git repository, else a digest of the
    program sources (benchmark checkouts carry no .git)."""
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha256()
    files = sorted((root / "dataqualitycontroltool_spark").rglob("*.py"))
    for f in files + [root / "__spark_entry__.py"]:
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return "src-" + h.hexdigest()[:16]


class Bench:
    def __init__(self, root: Path, work: Path, run_dir: Path, workload: str,
                 seed: int, seconds: float, trace: bool):
        self.root, self.work, self.run_dir = root, work, run_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.inputs = work / "inputs"
        self.scratch = run_dir / "out"
        self.scratch.mkdir(parents=True, exist_ok=True)
        self.eventlog_dir = run_dir / "eventlog"
        self.run_id = run_dir.name
        self.spark = None
        self.setup_times: tuple[float, float] | None = None  # (start, warm-up)
        self.workload = WORKLOADS[workload](self)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- sessions ----------------------------------------------------------

    def _conf(self, eventlog: bool) -> dict:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if eventlog else "false",
        }
        if eventlog:
            self.eventlog_dir.mkdir(exist_ok=True)
            conf["spark.eventLog.dir"] = self.eventlog_dir.as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"  # one file per app
        return conf

    def setup(self, eventlog: bool) -> None:
        """Start the run's one session, cold, and warm it up."""
        from dataqualitycontroltool_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.cpus, extra_conf=self._conf(eventlog))
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.workload.warm_up(spark, str(self.warm_corpus), str(self.scratch / "warmup"))
        t2 = time.perf_counter()
        self.spark = spark
        self.setup_times = (t1 - t0, t2 - t1)

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its parent's pipe closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- iterations --------------------------------------------------------

    def iterate(self, i: int, tracer: Tracer | None = None) -> IterResult | None:
        self.attempted += 1
        reset_peak_rss()
        try:
            if tracer is None:
                r = self.workload.iteration(self.spark, i)
            else:
                with tracer.span("iteration", i=i):
                    r = self.workload.iteration(self.spark, i, tracer)
        except Exception:
            self.failed += 1
            self.problems.append(f"iteration {i} raised: {traceback.format_exc(limit=4)}")
            traceback.print_exc(file=sys.stderr)
            return None
        r.rss_by_process = {}
        r.rss_mb = peak_rss_mb(r.rss_by_process)
        self._problems(f"iteration {i}", r.problems)
        return r

    def _problems(self, label: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in problems]

    def count_check(self, label: str, problems: list[str]) -> None:
        """Count a checked unit of work done outside the iteration loop."""
        self.attempted += 1
        self._problems(label, problems)

    def warm(self) -> None:
        """The workload's untimed warm-up iterations (JIT, page cache)."""
        for i in range(self.workload.warm_iterations):
            self.iterate(i)

    def loop(self, seconds: float, first: int, tracer: Tracer | None = None) -> list[IterResult]:
        """Iterations back to back until ``seconds`` have passed (at least
        one); stops early when one raises, since the session may be gone."""
        out: list[IterResult] = []
        end = time.perf_counter() + seconds
        i = first
        while True:
            r = self.iterate(i, tracer)
            i += 1
            if r is None:
                break
            out.append(r)
            if time.perf_counter() >= end:
                break
        return out

    # -- the run -----------------------------------------------------------

    def env(self) -> dict:
        import pyspark

        return {
            "run_id": self.run_id,
            "workload": self.workload.name,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": self.cpus,
            "loadavg": os.getloadavg(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "program": program_digest(self.root),
        }

    def run(self, e2e_names: list[str], layer_names: list[str]) -> tuple[dict, dict]:
        """(metric values by name, run record)."""
        import dataqualitycontroltool_spark.graft.pipeline  # noqa: F401  (import cost outside set-up)

        record = {"env_start": self.env()}
        cpu0 = cpu_times()
        self.warm_corpus = corpus.write_warmup_corpus(self.inputs / "warmup")
        t0 = time.perf_counter()
        self.workload.prepare()
        record["prepare_s"] = time.perf_counter() - t0
        self.setup(eventlog=self.trace)
        if self.trace:
            values = self._traced(record)
            names = layer_names
        else:
            self.warm()
            timed = self.loop(self.seconds, self.workload.warm_iterations)
            values = self._end_to_end(timed, record)
            names = e2e_names
        record["setup"] = self.setup_times
        record["problems"] = self.problems
        spent = [b - a for a, b in zip(cpu0, cpu_times())]
        # CPU time the hypervisor gave to other guests while this one wanted it
        record["env_end"] = {"loadavg": os.getloadavg(),
                             "steal_share": spent[7] / max(sum(spent), 1)}
        missing = [n for n in names if n not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}; problems: {self.problems}")
        return {n: float(values[n]) for n in names}, record

    def _setup_metrics(self) -> dict:
        start, warmup = self.setup_times
        return {"setup_s": start + warmup, "session.start_s": start,
                "session.warmup_s": warmup}

    def _end_to_end(self, timed: list[IterResult], record: dict) -> dict:
        walls = [r.wall_s for r in timed]
        record["walls"] = walls
        record["wall_s"] = summary(walls)
        record["drop_reasons"] = [r.info.get("drop_reasons") for r in timed]
        wall = median(walls)
        # a one-shot job recovers from a crash by running again from the start
        resumes = [r.resume_s if r.resume_s is not None else r.wall_s for r in timed]
        record["resume_s"] = summary(resumes)
        record["rss_mb"] = [r.rss_by_process for r in timed]
        return {
            "wall_s": wall,
            "items_per_s": self.workload.items / wall,
            "resume_s": median(resumes),
            # each iteration's own peak (VmHWM reset before it), so the
            # number does not depend on how many iterations fit the window
            "peak_rss_mb": median([r.rss_mb for r in timed]),
            "setup_s": self._setup_metrics()["setup_s"],
        }

    def _traced(self, record: dict) -> dict:
        wl = self.workload
        self.warm()
        sc = self.spark.sparkContext
        app_id = sc.applicationId
        tracer = Tracer(self.run_id, sc)
        wl.install_wrappers(tracer)
        try:
            traced = self.loop(self.seconds, wl.warm_iterations, tracer)
            values = wl.layer_metrics(self.spark, tracer, traced) if traced else {}
        finally:
            tracer.unwrap_all()
        self.spark.stop()
        self.spark = None
        if not traced:
            return {}

        events = read_event_log(str(self.eventlog_dir / app_id))
        values.update(wl.event_metrics(events, tracer))
        # engine counters of the timed work only, not of the output checks
        groups = set()
        for it in tracer.named("iteration"):
            skip = {s.id for c in tracer.descendants(it) if c.name in UNCOUNTED_SPANS
                    for s in tracer.descendants(c)}
            groups |= {s.id for s in tracer.descendants(it)} - skip
        n = len(traced)
        c = events.total(groups)
        values.update({
            "spark.jobs": c.jobs / n,
            "spark.stages": c.stages / n,
            "spark.tasks": c.tasks / n,
            "spark.executor_run_s": c.executor_run_s / n,
            "spark.executor_cpu_s": c.executor_cpu_s / n,
            "spark.gc_s": c.gc_s / n,
            "spark.shuffle_write_mb": c.shuffle_write_mb / n,
            "spark.shuffle_read_mb": c.shuffle_read_mb / n,
            "spark.spill_mb": c.spill_mb / n,
            "spark.task_skew": events.task_skew(groups),
        })
        values.update(self._setup_metrics())
        record["traced_wall_s"] = summary([r.wall_s for r in traced])
        by_group = {g: vars(events.groups[g]) for g in events.groups if g is not None}
        trace_dir = self.work / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{self.run_id}.json"
        tracer.dump(str(path), extra={"env": record["env_start"],
                                      "spark_by_job_group": by_group,
                                      "metrics": values})
        record["trace_file"] = str(path.relative_to(self.root))
        return values


def load_metric_names(root: Path) -> tuple[list[str], list[str], dict]:
    spec = json.loads((root / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]], units)
