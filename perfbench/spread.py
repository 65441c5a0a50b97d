#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
spread: the distance between its first and third quartile over the runs
(``statistics.quantiles(values, n=4)``) as a share of their median, beside
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload caption_filter --seeds 1-10 [--seconds 10]

Runs are sequential; each result line is appended to ``--out`` (default
``.perfbench_work/spread-<workload>.jsonl``) so a later call can re-summarise
without re-running (``--summarise-only``).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))

from perfbench.stats import iqr_share, quartiles  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--summarise-only", action="store_true")
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    out = Path(args.out or ROOT / ".perfbench_work" / f"spread-{args.workload}.jsonl")
    out.parent.mkdir(parents=True, exist_ok=True)

    if not args.summarise_only:
        for seed in parse_seeds(args.seeds):
            cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                     "--seconds", str(seconds), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            elapsed = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(out, "a") as fh:
                fh.write(json.dumps({"seed": seed, "elapsed_s": elapsed, **result}) + "\n")
            print(f"seed {seed}: {elapsed:.0f} s correct={result['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    results = [json.loads(line) for line in out.read_text().splitlines() if line.strip()]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = quartiles(values)
        share = iqr_share(values)
        bound = bounds.get(name)
        flag = "" if bound is None else (" ok" if share < bound / 3 else
                                         " WITHIN-BOUND" if share <= bound else " OVER")
        print(f"{name:28s} median {q2:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
              f"spread {share:6.3f}  bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
