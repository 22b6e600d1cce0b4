"""The repository's benchmark: four workloads over the engine's layers
(see METRICS.md); ``python3 perfbench/run.py --help``."""
