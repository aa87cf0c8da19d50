"""Benchmark command line. From the repository root:

    python3 perfbench/run.py --workload convert --seed 1 --seconds 10 --trace 0

prints diagnostics on stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
``--smoke`` shrinks every input and runs one operation with its checks.
Exits non-zero without a result line if the engine cannot be imported
or any step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=["convert", "roi_read", "plate_ingest"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--smoke", action="store_true")
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    import ngff_zarr_spark  # noqa: F401 - fail fast outside a full checkout

    from perfbench.harness import run

    # everything the run prints, the Spark JVM included, goes to stderr;
    # stdout carries only the result line
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, ROOT)
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
