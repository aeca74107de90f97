"""Closed-loop benchmark of the graph-ANN engine: see annbench/README.md."""
