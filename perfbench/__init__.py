"""Seeded end-to-end and per-layer benchmark of the caption quality filter,
its near-duplicate resumable run, and the tabular profiling/validation
queries.  Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root."""
