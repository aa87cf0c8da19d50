"""Bench stdout contract (r16, VERDICT r15 ask #1 — broken since r10).

The driver stores only a 2000-char TAIL of bench.py's stdout and
parses the last line as JSON. This test emulates exactly that: run the
bench on a one-query subset, keep the tail, parse the last line. The
line must be a totals-only object well under the tail budget even at
a full sweep (it carries no per-query dict — that lives in
bench_out.json), so the assertion bounds it far below 2000 bytes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_last_stdout_line_survives_tail_truncation():
    # bench.py rewrites bench_out.json (the graded artifact) and its
    # per-cpus stamp bench_out_<cpus>.json — preserve both standing
    # captures around this subset run
    out_path = os.path.join(REPO_ROOT, "bench_out.json")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    out_paths = (
        out_path,
        os.path.join(os.path.dirname(out_path), f"bench_out_{cpus}.json"),
    )
    saved = {
        p: open(p).read() if os.path.exists(p) else None for p in out_paths
    }
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_ONLY="tpch_q6",
        SPARK_GRAFT_BENCH_RUNS="1",
    )
    try:
        r = subprocess.run(
            [sys.executable, "bench.py"],
            capture_output=True, text=True, timeout=600, cwd=REPO_ROOT, env=env,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        tail = r.stdout[-2000:]  # the driver's exact truncation
        line = tail.strip().splitlines()[-1]
        # totals-only: bounded regardless of how many queries a sweep runs
        assert len(line) < 600, f"stdout line too fat ({len(line)} bytes)"
        doc = json.loads(line)
        for key in ("metric", "value", "unit", "runs", "sf", "git_head",
                    "n_queries", "detail", "load_avg_start", "load_avg_end",
                    "foreign_cpu_avg", "contended"):
            assert key in doc, key
        assert "queries" not in doc  # the fat dict lives in bench_out.json
        # and the full record exists beside it
        full = json.load(open(out_path))
        assert "queries" in full and full["metric"] == doc["metric"]
    finally:
        for p, text in saved.items():
            if text is None:
                if os.path.exists(p):
                    os.remove(p)
            else:
                with open(p, "w") as fh:
                    fh.write(text)
