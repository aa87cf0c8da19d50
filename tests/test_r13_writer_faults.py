"""r13 writer fault injection (VERDICT r12 ask #5): exercise the
ome_zarr sink's commit/abort protocol (sources/ome_zarr.py) instead of
trusting it by reading. A fault-injecting store wrapper fails a task's
write mid-chunk, then we assert:

(a) pre-commit invisibility — chunks without array metadata are not a
    readable array (meta is written only at job commit);
(b) idempotent retry — a failed attempt's partial chunks are fully
    overwritten by the deterministic re-run, so failure + retry +
    commit is byte-identical to a clean run;
(c) abort cleanliness — abort() removes every chunk of every
    SUCCESSFUL task (the failed task returned no commit message), and
    metadata is never written.

Covers the three write shapes: packed single-array, packed multi-array
(the plate-fleet path), and sharded (zarr v3 sharding_indexed)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest

from ngff_zarr_spark.sources import ome_zarr as oz
from ngff_zarr_spark.sources.zarr_store import ZarrStore


class FailingStore(ZarrStore):
    """Delegates to the local store but raises on the Nth put — the
    mid-write task failure a lost executor or flaky object store
    produces."""

    def __init__(self, root: str, fail_after_puts: int):
        super().__init__(root)
        self._remaining = fail_after_puts

    def put(self, key: str, data: bytes) -> None:
        if self._remaining <= 0:
            raise IOError("injected store failure")
        self._remaining -= 1
        super().put(key, data)


SHAPE = (8, 12)      # dims (y, x)
CHUNKS = (4, 4)      # 2 x 3 chunk grid


def _grid(shape=SHAPE, chunks=CHUNKS):
    return tuple(-(-s // c) for s, c in zip(shape, chunks))


def _vals(y, x, fid=0):
    return float(1000 * fid + y * 100 + x)


def _packed_batch(cks, shape=SHAPE, chunks=CHUNKS, fid=None):
    """Packed (ck, off, v) rows for the given flat chunk ids, exactly
    the mixed-radix fold write_image emits (ome_zarr_api.py:300-334):
    chunk ids then within-chunk offsets, last dim fastest; a multi-array
    fid is the highest radix digit."""
    gy, gx = _grid(shape, chunks)
    cy, cx = chunks
    n_per_array = gy * gx
    ck_col, off_col, v_col = [], [], []
    for y in range(shape[0]):
        for x in range(shape[1]):
            ck = (y // cy) * gx + (x // cx)
            if ck not in cks:
                continue
            if fid is not None:
                ck += fid * n_per_array
            ck_col.append(ck)
            off_col.append((y % cy) * cx + (x % cx))
            v_col.append(_vals(y, x, fid or 0))
    return pa.record_batch(
        [
            pa.array(ck_col, pa.int64()),
            pa.array(off_col, pa.int64()),
            pa.array(v_col, pa.float64()),
        ],
        names=["ck", "off", "v"],
    )


def _writer(path, *, array_paths=None, cps=None, zarr_format=2):
    options = {
        "path": path,
        "zarr_format": str(zarr_format),
        "shape": ",".join(str(s) for s in SHAPE),
        "chunks": ",".join(str(c) for c in CHUNKS),
        "dims": "y,x",
        "dtype": "float64",
        "packed": "true",
    }
    if array_paths is not None:
        options["array_paths"] = json.dumps(array_paths)
    else:
        options["array_path"] = "scale0/image"
    if cps is not None:
        options["chunks_per_shard"] = ",".join(str(c) for c in cps)
    return oz.OmeZarrWriter(options, overwrite=False)


def _tree(root):
    """relpath -> sha256 of every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[os.path.relpath(p, root)] = hashlib.sha256(
                open(p, "rb").read()
            ).hexdigest()
    return out


@pytest.fixture()
def tmpdirs():
    base = tempfile.mkdtemp(prefix="writer_faults_")
    yield base
    shutil.rmtree(base, ignore_errors=True)


def _task_batches(task, *, multi=False, sharded=False):
    """Two-task split honouring the write_image ownership invariant:
    every chunk (sharded: every SHARD) is wholly owned by one task."""
    if sharded:
        cks = {0, 3} if task == 0 else {1, 2, 4, 5}
    else:
        cks = {0, 1, 2} if task == 0 else {3, 4, 5}
    if multi:
        return iter([_packed_batch(cks, fid=0), _packed_batch(cks, fid=1)])
    return iter([_packed_batch(cks)])


def _clean_run(path, *, array_paths=None, cps=None, zarr_format=2):
    """Reference two-task run with no faults."""
    w = _writer(path, array_paths=array_paths, cps=cps, zarr_format=zarr_format)
    multi, sharded = array_paths is not None, cps is not None
    msgs = [
        w.write(_task_batches(0, multi=multi, sharded=sharded)),
        w.write(_task_batches(1, multi=multi, sharded=sharded)),
    ]
    w.commit(msgs)
    return msgs


def test_precommit_invisibility(tmpdirs):
    from tools.minizarr import read_v2_array

    path = os.path.join(tmpdirs, "pre")
    w = _writer(path)
    w.write(iter([_packed_batch({0, 1, 2})]))
    w.write(iter([_packed_batch({3, 4, 5})]))
    # chunks exist on disk, but with no committed metadata the store is
    # not a readable array
    st = ZarrStore(path)
    assert st.exists("scale0/image/0/0")
    assert not st.exists("scale0/image/.zarray")
    with pytest.raises(Exception):
        read_v2_array(path, "scale0/image")
    # commit makes it readable, with every value in place
    w.commit([oz.ChunkWriteCommit(chunk_keys=[])])
    arr = read_v2_array(path, "scale0/image")
    assert arr.shape == SHAPE
    assert arr[3, 11] == _vals(3, 11)


@pytest.mark.parametrize("mode", ["single", "multi", "sharded"])
def test_failed_task_retry_is_byte_identical(tmpdirs, mode, monkeypatch):
    kw = {}
    if mode == "multi":
        kw["array_paths"] = ["0/image", "1/image"]
    elif mode == "sharded":
        # shard = 2x1 chunks -> 3 shard files; tasks own WHOLE shards
        # (the write_image partitioning invariant): task 0 -> shard 0,
        # task 1 -> shards 1+2 (two puts, so the fault hits mid-task)
        kw["cps"] = (2, 1)
        kw["zarr_format"] = 3

    clean = os.path.join(tmpdirs, "clean")
    _clean_run(clean, **kw)
    ref = _tree(clean)
    assert ref, "clean run wrote nothing"

    faulty = os.path.join(tmpdirs, "faulty")
    w = _writer(faulty, **kw)

    def batches_task(task):
        return _task_batches(task, multi=(mode == "multi"), sharded=(mode == "sharded"))

    msg0 = w.write(batches_task(0))
    # task 1 first attempt: store dies after one put (mid-write)
    monkeypatch.setattr(
        oz, "open_store", lambda url, so=None: FailingStore(faulty, 1)
    )
    with pytest.raises(IOError, match="injected"):
        w.write(batches_task(1))
    monkeypatch.undo()
    # deterministic retry overwrites the partial attempt completely
    msg1 = w.write(batches_task(1))
    w.commit([msg0, msg1])
    assert _tree(faulty) == ref


@pytest.mark.parametrize("mode", ["single", "multi"])
def test_abort_removes_committed_task_chunks(tmpdirs, mode, monkeypatch):
    kw = {"array_paths": ["0/image", "1/image"]} if mode == "multi" else {}
    path = os.path.join(tmpdirs, "abort")
    w = _writer(path, **kw)

    def batches_task(task):
        return _task_batches(task, multi=(mode == "multi"))

    msg0 = w.write(batches_task(0))
    assert msg0.chunk_keys
    st = ZarrStore(path)
    assert all(st.exists(k) for k in msg0.chunk_keys)
    monkeypatch.setattr(
        oz, "open_store", lambda url, so=None: FailingStore(path, 1)
    )
    with pytest.raises(IOError, match="injected"):
        w.write(batches_task(1))
    monkeypatch.undo()
    # job failed: driver calls abort with None for the failed task
    w.abort([msg0, None])
    assert not any(st.exists(k) for k in msg0.chunk_keys)
    # metadata was never written
    meta_key = "0/image/.zarray" if mode == "multi" else "scale0/image/.zarray"
    assert not st.exists(meta_key)


def test_sharded_abort_removes_shard_files(tmpdirs, monkeypatch):
    path = os.path.join(tmpdirs, "abort_shard")
    w = _writer(path, cps=(2, 1), zarr_format=3)
    msg0 = w.write(_task_batches(0, sharded=True))
    assert msg0.chunk_keys
    st = ZarrStore(path)
    assert all(st.exists(k) for k in msg0.chunk_keys)
    w.abort([msg0, None])
    assert not any(st.exists(k) for k in msg0.chunk_keys)
    assert not st.exists("scale0/image/zarr.json")


def test_spark_job_failure_then_overwrite_recovers(spark, tmpdirs):
    """End-to-end through the Spark data-source framework: a task that
    raises mid-job must leave NO readable array (no metadata), and the
    standard overwrite re-run must converge to the byte-identical clean
    store (the writer's overwrite init clears any uncommitted garbage
    via delete_prefix)."""
    from pyspark.sql import functions as F

    from ngff_zarr_spark.ome_zarr_api import write_image

    shape = {"y": 16, "x": 16}
    chunks = {"y": 4, "x": 4}
    dims = ["y", "x"]

    def pixels(poison: bool):
        df = (
            spark.range(16 * 16)
            .select(
                (F.col("id") / 16).cast("long").alias("y"),
                (F.col("id") % 16).alias("x"),
            )
            .withColumn("v", (F.col("y") * 100 + F.col("x")).cast("double"))
        )
        if poison:
            from pyspark.sql.types import DoubleType

            @F.udf(DoubleType())
            def boom(v):
                if v >= 1515.0:  # only row (y=15, x=15) -> one task dies
                    raise RuntimeError("poison row")
                return v

            df = df.withColumn("v", boom((F.col("y") * 100 + F.col("x")).cast("double")))
        return df

    clean = os.path.join(tmpdirs, "clean.zarr")
    write_image(pixels(False), clean, "scale0/image", shape, dims, chunks)
    ref = _tree(clean)

    target = os.path.join(tmpdirs, "target.zarr")
    with pytest.raises(Exception):
        write_image(pixels(True), target, "scale0/image", shape, dims, chunks)
    st = ZarrStore(target)
    assert not st.exists("scale0/image/.zarray")

    write_image(pixels(False), target, "scale0/image", shape, dims, chunks)
    assert _tree(target) == ref


def test_sharded_writer_rejects_reflushed_shard(tmpdirs):
    """Packed batches in the order shard A, shard B, shard A (chunks 0,
    1, 3 with 2x1 chunks per shard): writing shard A a second time
    would drop the chunk of its first write, so the task must raise."""
    w = _writer(os.path.join(tmpdirs, "reflush"), cps=(2, 1), zarr_format=3)
    batches = iter([_packed_batch({0}), _packed_batch({1}), _packed_batch({3})])
    with pytest.raises(RuntimeError, match="flushed twice"):
        w.write(batches)
