"""Repository benchmark: seeded workloads run against the library's public
entry points, measured end to end and per layer from outside the library.
Run ``python3 perfbench/run.py --help`` from the repository root."""
