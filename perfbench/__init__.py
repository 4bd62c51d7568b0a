"""Benchmark harness for oasysdb_spark: closed-loop ANN serving, mixed
CRUD writes and a corpus-operator sweep. Run ``python3 perfbench/run.py
--help`` from the repository root."""
