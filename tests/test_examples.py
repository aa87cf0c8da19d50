"""The examples/ scripts must stay runnable (they are the user-facing
composition of the gate-checked operators)."""

import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_corpus_pipeline_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/corpus_pipeline.py", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "keep/drop funnel" in r.stdout


def test_convert_image_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/convert_image.py"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "brain.ome.zarr" in r.stdout


def test_plate_ingestion_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/plate_ingestion.py"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "plate ingestion complete" in r.stdout


def test_imaging_pipeline_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/imaging_pipeline.py"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "imaging pipeline complete" in r.stdout


def test_crawl_hygiene_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/crawl_hygiene.py", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "crawl hygiene complete" in r.stdout


def test_dedup_index_lifecycle_example_runs():
    r = subprocess.run(
        [sys.executable, "examples/dedup_index_lifecycle.py",
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "index lifecycle complete" in r.stdout
    assert "compacted in place: gen=1" in r.stdout
