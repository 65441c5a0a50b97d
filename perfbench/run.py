#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/inputs``; every output is checked against an
independent oracle.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
of BENCHMARK.json (``--trace 0``) or its per-layer metrics (``--trace 1``).
The run record (load average, nproc, Spark version, commit) goes to standard
error and ``.perfbench_work/runs.jsonl``; a traced run also writes its spans
to ``.perfbench_work/traces/``.  Everything the run writes stays under the
directory it is run from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import uuid
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402  (imports no Spark)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_resource_tracker() -> None:
    """End (and reap) the helper process the input generator's spawn pool
    started, instead of leaving it to notice this process exit."""
    from multiprocessing import resource_tracker

    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if tracker is not None and hasattr(tracker, "_stop"):
        tracker._stop()


def main(argv=None) -> int:
    args = parse_args(argv)
    needed = [ROOT / "dataqualitycontroltool_spark" / "__init__.py",
              ROOT / "__spark_entry__.py", ROOT / "BENCHMARK.json"]
    absent = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if absent:
        print(f"perfbench: not a checkout of the program (missing {absent}); "
              "run from the repository root", file=sys.stderr)
        return 2

    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    (run_dir / "tmp").mkdir(parents=True)
    # keep every temporary file (Python's, the JVMs', Spark's) in the checkout;
    # the launcher JVM spark-submit starts first takes only SPARK_LAUNCHER_OPTS
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    tempfile.tempdir = None
    # executor Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)

    from perfbench.harness import Bench, load_metric_names

    e2e, layers, units = load_metric_names(ROOT)
    bench = Bench(ROOT, WORK, run_dir, args.workload, args.seed, args.seconds,
                  bool(args.trace))
    try:
        values, record = bench.run(e2e, layers)
    finally:
        bench.close()
        stop_resource_tracker()
        shutil.rmtree(run_dir, ignore_errors=True)

    record.update(attempted=bench.attempted, failed=bench.failed, metrics=values)
    line = json.dumps(record, default=str)
    print(line, file=sys.stderr)
    with open(WORK / "runs.jsonl", "a") as fh:
        fh.write(line + "\n")
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
