"""The repository benchmark: end-to-end metrics through the gateway and
in-process builders, per-layer metrics from a traced run. Entry point:
``python3 perfbench/run.py``; see ``perfbench/README.md``."""
