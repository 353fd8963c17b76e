"""Engine benchmark for pipelinedb_spark: seeded workloads driven through
the package surface, output checks against Python references, and a
traced mode that splits each operation into per-layer spans.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See
``perfbench/README.md``.
"""
