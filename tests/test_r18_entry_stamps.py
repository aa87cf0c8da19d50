"""r18 (VERDICT r17 ask #2): self-describing near-contended captures.

The r17 driver sweep passed the whole-run idle guard by 2%
(foreign_cpu_avg 2.93 vs bar 3.0) and still tripped one bar — with
only run-level stamps, attributing that violation to a contention
window required a full re-run. bench.py now stamps every entry with
{t_start, wall, foreign_cpu} (the same system-minus-own-tree foreign
measure, windowed per entry), and check_bars.py prints the capture's
stamps plus the violating entry's window next to any violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_bench_out_carries_entry_stamps():
    # preserve both standing captures bench.py rewrites (bench_out.json
    # and its per-cpus stamp bench_out_<cpus>.json)
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
        full = json.load(open(out_path))
        stamps = full["entry_stamps"]
        assert "tpch_q6" in stamps
        st = stamps["tpch_q6"]
        assert set(st) == {"t_start", "wall", "foreign_cpu"}
        assert st["t_start"] >= 0
        # wall covers all runs of the entry, so it bounds the best-of
        assert st["wall"] >= full["queries"]["tpch_q6"]
        # foreign_cpu is a float on Linux (None only off-/proc)
        assert st["foreign_cpu"] is None or st["foreign_cpu"] >= 0.0
    finally:
        for p, text in saved.items():
            if text is None:
                if os.path.exists(p):
                    os.remove(p)
            else:
                with open(p, "w") as fh:
                    fh.write(text)


def test_check_bars_prints_stamps_next_to_violation(tmp_path):
    bench_doc = {
        "queries": {"slow_entry": 9.5, "fine_entry": 1.0},
        "load_avg_start": 1.83,
        "load_avg_end": 10.14,
        "foreign_cpu_avg": 2.93,
        "contended": False,
        "entry_stamps": {
            "slow_entry": {"t_start": 120.5, "wall": 29.1, "foreign_cpu": 4.2},
            "fine_entry": {"t_start": 0.0, "wall": 3.1, "foreign_cpu": 0.1},
        },
    }
    bench_path = tmp_path / "bench_out.json"
    bench_path.write_text(json.dumps(bench_doc))
    baseline = tmp_path / "BASELINE.md"
    baseline.write_text(
        "| slow_entry | 2.0 | ≤ 6 s | x |\n| fine_entry | 0.5 | ≤ 2 s | x |\n"
    )
    r = subprocess.run(
        [sys.executable, "tools/check_bars.py", str(bench_path), str(baseline)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r.returncode == 1
    out = r.stdout
    assert "VIOLATION slow_entry" in out
    # the violating entry's window is attributable from the output alone
    assert "t_start=120.5s" in out and "foreign_cpu=4.2" in out
    # and the capture-level stamps are printed for context
    assert "foreign_cpu_avg=2.93" in out and "load_avg_end=10.14" in out


def test_check_bars_sub_phase_violation_uses_parent_stamp(tmp_path):
    """Phase tripwires (hcs_stream_write.pixel_jobs) have no stamp of
    their own — the parent entry's window is the right context."""
    bench_doc = {
        "queries": {"hcs_stream_write.pixel_jobs": 30.0},
        "load_avg_start": 0.5,
        "load_avg_end": 0.6,
        "foreign_cpu_avg": 0.2,
        "entry_stamps": {
            "hcs_stream_write": {"t_start": 10.0, "wall": 40.0, "foreign_cpu": 0.3}
        },
    }
    bench_path = tmp_path / "bench_out.json"
    bench_path.write_text(json.dumps(bench_doc))
    baseline = tmp_path / "BASELINE.md"
    baseline.write_text("| hcs_stream_write.pixel_jobs | 20 | ≤ 24 s | x |\n")
    r = subprocess.run(
        [sys.executable, "tools/check_bars.py", str(bench_path), str(baseline)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r.returncode == 1
    assert "t_start=10.0s" in r.stdout


def test_check_bars_margin_watch(tmp_path):
    """Green entries at >= 85% of their bar are surfaced (VERDICT r17
    ask #6 — pixel_jobs at 21.9/24 was green but one drift round from
    tripping; the shrinking margin should be visible every round)."""
    bench_path = tmp_path / "bench_out.json"
    bench_path.write_text(
        json.dumps({"queries": {"close_entry": 21.9, "roomy_entry": 2.0}})
    )
    baseline = tmp_path / "BASELINE.md"
    baseline.write_text(
        "| close_entry | 15 | ≤ 24 s | x |\n| roomy_entry | 1 | ≤ 10 s | x |\n"
    )
    r = subprocess.run(
        [sys.executable, "tools/check_bars.py", str(bench_path), str(baseline)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r.returncode == 0  # green — watch lines never fail the check
    assert "margin watch close_entry" in r.stdout and "91%" in r.stdout
    assert "roomy_entry" not in r.stdout.replace(
        "entries without a bar", ""
    )


def test_check_bars_legacy_capture_without_stamps(tmp_path):
    """Pre-r18 captures (no entry_stamps) still check cleanly."""
    bench_path = tmp_path / "bench_out.json"
    bench_path.write_text(json.dumps({"queries": {"e": 9.0}}))
    baseline = tmp_path / "BASELINE.md"
    baseline.write_text("| e | 2 | ≤ 6 s | x |\n")
    r = subprocess.run(
        [sys.executable, "tools/check_bars.py", str(bench_path), str(baseline)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r.returncode == 1 and "VIOLATION e" in r.stdout
