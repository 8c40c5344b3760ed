"""Pipeline benchmark: an open-loop signed-trade stream and the dashboard
panel queries, over the engine's public layer functions.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see perfbench/NOTES.md.
"""
