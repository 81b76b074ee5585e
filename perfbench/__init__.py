"""End-to-end and per-layer benchmark of the export engine and the query
registry. Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1``; see README.md in this directory."""
