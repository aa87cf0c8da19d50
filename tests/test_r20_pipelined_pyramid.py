"""to_ngff_zarr writes every level in order, one at a time, on the
calling thread. These tests pin that a run with progress reporting and
one without, and a run with a JVM handle and one without (Spark
Connect), give byte-identical stores, for recipe pyramids and for
copy-through pyramids; that computed callbacks fire in level order; and
that the session-pinning helper used by the batch writers leaves a
fresh thread as it found it."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ngff_zarr_spark.model import NgffImage
from ngff_zarr_spark.ome_zarr_api import NgffProgress, to_multiscales, to_ngff_zarr


def _tree_digest(root: str) -> str:
    h = hashlib.md5()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _ms(spark, dtype=None):
    z, y, x = 8, 32, 33
    df = (
        spark.range(z * y * x)
        .select(
            F.lit(0).alias("t"),
            F.lit(0).alias("c"),
            (F.col("id") / (y * x)).cast("long").alias("z"),
            ((F.col("id") / x) % y).cast("long").alias("y"),
            (F.col("id") % x).alias("x"),
            ((F.col("id") * 37 + 11) % 251).cast("double").alias("v"),
        )
    )
    img = NgffImage(
        data=df,
        dims=["z", "y", "x"],
        shape={"z": z, "y": y, "x": x},
        scale={d: 1.0 for d in "zyx"},
        translation={d: 0.0 for d in "zyx"},
        name="image",
        dtype=dtype,
    )
    return to_multiscales(
        img,
        scale_factors=[{"z": 2, "y": 2, "x": 2}],
        method="ITKWASM_BIN_SHRINK",
        chunks={"z": 4, "y": 16, "x": 16},
    )


class _Prog:
    """Minimal progress stub: a run with progress reporting."""

    def update(self, *a):
        pass

    def done(self, *a):
        pass


def test_pipelined_write_matches_sequential_bytes(spark, tmp_path):
    a = str(tmp_path / "pipelined.ome.zarr")
    b = str(tmp_path / "sequential.ome.zarr")
    to_ngff_zarr(a, _ms(spark), version="0.4", compressor="gzip")
    to_ngff_zarr(
        b, _ms(spark), version="0.4", compressor="gzip", progress=_Prog()
    )
    assert _tree_digest(a) == _tree_digest(b)


def test_non_identity_dtype_falls_back_and_roundtrips(spark, tmp_path):
    # uint16 is NOT an identity roundtrip (writer casts to uint16);
    # the store must not depend on progress reporting
    a = str(tmp_path / "u16a.ome.zarr")
    b = str(tmp_path / "u16b.ome.zarr")
    to_ngff_zarr(a, _ms(spark), version="0.4", compressor="gzip", dtype="uint16")
    to_ngff_zarr(
        b, _ms(spark), version="0.4", compressor="gzip", dtype="uint16",
        progress=_Prog(),
    )
    assert _tree_digest(a) == _tree_digest(b)


def test_parallel_copy_through_matches_sequential_bytes(spark, tmp_path):
    # recompute=False path (read-back/explicit pyramids): every level
    # has its own frame and is copied through — bytes must not depend
    # on progress reporting, including the v3 sharded layout
    from ngff_zarr_spark.ome_zarr_api import from_ngff_zarr, to_ngff_zarr

    src = str(tmp_path / "src.ome.zarr")
    to_ngff_zarr(src, _ms(spark), version="0.4", compressor="gzip")
    ms2 = from_ngff_zarr(spark, src)  # no build recipe -> copy-through
    assert not ms2.scale_factors
    a = str(tmp_path / "copyA.ome.zarr")
    b = str(tmp_path / "copyB.ome.zarr")
    ms2.metadata.version = "0.5"
    to_ngff_zarr(
        a, ms2, version="0.5", compressor="zstd", chunks_per_shard=2
    )
    ms2b = from_ngff_zarr(spark, src)
    ms2b.metadata.version = "0.5"
    to_ngff_zarr(
        b, ms2b, version="0.5", compressor="zstd", chunks_per_shard=2,
        progress=_Prog(),
    )
    assert _tree_digest(a) == _tree_digest(b)


def test_callbacks_still_fire_in_level_order(spark, tmp_path):
    ms = _ms(spark)
    fired = []
    for i, img in enumerate(ms.images):
        img.computed_callbacks.append(lambda i=i: fired.append(i))
    to_ngff_zarr(
        str(tmp_path / "cb.ome.zarr"), ms, version="0.4", compressor="gzip"
    )
    assert fired == [0, 1]


def test_pinned_session_cleared_on_exit_in_fresh_thread(spark):
    # a pool worker's JVM thread starts with no active session; the
    # helper pins the write session for the block and must leave the
    # thread as it found it (cleared), not pinned to a stale session
    import threading

    from ngff_zarr_spark.ome_zarr_api import _pinned_active_session

    jcls = spark._jvm.org.apache.spark.sql.classic.SparkSession
    seen = {}

    def worker():
        seen["before"] = jcls.getActiveSession().isDefined()
        with _pinned_active_session(spark):
            active = jcls.getActiveSession()
            seen["inside"] = active.isDefined() and active.get().equals(
                spark._jsparkSession
            )
        seen["after"] = jcls.getActiveSession().isDefined()

    t = threading.Thread(target=worker)
    t.start()
    t.join(120)
    assert not t.is_alive()
    assert seen == {"before": False, "inside": True, "after": False}


def test_write_pool_runs_inline_without_jvm(spark, tmp_path, monkeypatch):
    # Spark Connect has no JVM handle to pin: the level writes run on
    # the calling thread, and the store must match the run with a JVM
    # handle and progress reporting byte-for-byte
    import threading

    import ngff_zarr_spark.ome_zarr_api as api

    threads = []
    real_write = api.write_image

    def recording_write(*a, **k):
        threads.append(threading.current_thread())
        return real_write(*a, **k)

    monkeypatch.setattr(api, "_has_jvm", lambda s: False)
    monkeypatch.setattr(api, "write_image", recording_write)
    a = str(tmp_path / "inline.ome.zarr")
    b = str(tmp_path / "sequential.ome.zarr")
    to_ngff_zarr(a, _ms(spark), version="0.4", compressor="gzip")
    assert threads == [threading.current_thread()] * 2
    monkeypatch.undo()
    to_ngff_zarr(
        b, _ms(spark), version="0.4", compressor="gzip", progress=_Prog()
    )
    assert _tree_digest(a) == _tree_digest(b)


def test_level_writes_run_on_the_calling_thread(spark, tmp_path, monkeypatch):
    # one level loop: every level write, recipe or copy-through, runs
    # on the caller's thread and in level order, with the JVM present
    import threading

    import ngff_zarr_spark.ome_zarr_api as api

    calls = []
    real_write = api.write_image

    def recording_write(df, store_path, path, *a, **k):
        calls.append((threading.current_thread(), path))
        return real_write(df, store_path, path, *a, **k)

    monkeypatch.setattr(api, "write_image", recording_write)
    me = threading.current_thread()
    src = str(tmp_path / "recipe.ome.zarr")
    to_ngff_zarr(src, _ms(spark), version="0.4", compressor="gzip")
    assert calls == [(me, "scale0/image"), (me, "scale1/image")]

    calls.clear()
    ms2 = api.from_ngff_zarr(spark, src)  # no build recipe -> copy-through
    assert not ms2.scale_factors
    to_ngff_zarr(str(tmp_path / "copy.ome.zarr"), ms2, version="0.4", compressor="gzip")
    assert calls == [(me, "scale0/image"), (me, "scale1/image")]
