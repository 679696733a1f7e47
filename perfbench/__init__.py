"""The repository's benchmark: two workloads driven through the engine's
public functions, end-to-end metrics by default and per-layer metrics from
a traced run. See run.py for the command line and BENCHMARK.json for the
metrics and their bounds."""
