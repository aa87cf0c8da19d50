"""Seeded end-to-end benchmark of the OME-Zarr engine's public API.

Run ``python3 perfbench/run.py --help`` from the repository root; the
workloads, metrics and their meaning are described in README.md here.
"""
