"""Benchmark for the geotile engine: one named workload per run, with
end-to-end metrics (tracing off), output checks, and a traced run that
attributes time and Spark work to the engine's layers.

Entry point: `python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>` from the repository root.
"""
