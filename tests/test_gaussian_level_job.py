"""Gaussian pyramid levels >= 1 are written by one map-only job per
level (ome_zarr_api.write_gaussian_level) that reads its halo from the
stored previous level. Differential check: every stored key of each
such level equals, byte for byte, what the pixel-table path writes from
the same stored input (read_image -> METHODS[m] -> write_image)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from ngff_zarr_spark.model import NgffImage
from ngff_zarr_spark.ome_zarr_api import (
    METHODS,
    NgffProgress,
    read_image,
    to_multiscales,
    to_ngff_zarr,
    write_image,
)
from ngff_zarr_spark.sources.ome_zarr import PIXEL_DIMS
from ngff_zarr_spark.sources.zarr_store import open_store

# z=2 is smaller than the kernel radius (3 for the sampled kernel at
# factor 2); y/x are ragged against their chunks
ZYX = (
    {"z": 2, "y": 37, "x": 29},
    {"z": 2, "y": 8, "x": 8},
    [{"z": 2, "y": 2, "x": 2}, {"z": 2, "y": 4, "x": 4}],
)
TCZYX = (
    {"t": 2, "c": 2, "z": 9, "y": 13, "x": 11},
    {"t": 1, "c": 2, "z": 4, "y": 4, "x": 8},
    [{"z": 2, "y": 2, "x": 2}, {"z": 4, "y": 4, "x": 4}],
)
YX = (
    {"y": 45, "x": 50},
    {"y": 16, "x": 16},
    [{"y": 2, "x": 2}, {"y": 4, "x": 4}],
)

METHODS_G = ("ITKWASM_GAUSSIAN", "ITK_GAUSSIAN", "DASK_IMAGE_GAUSSIAN")
LAYOUTS = (("0.4", None), ("0.5", None), ("0.5", 2))
DTYPES = ("uint8", "uint16", "float32", "float64")
GEOMETRIES = (ZYX, TCZYX, YX)
CASES = [
    (m, version, cps, DTYPES[(i + j) % 4], GEOMETRIES[(i + 2 * j) % 3])
    for i, m in enumerate(METHODS_G)
    for j, (version, cps) in enumerate(LAYOUTS)
]


def _image(spark, shape: dict[str, int], dtype: str) -> NgffImage:
    dims = list(shape)
    cols = []
    stride = 1
    coords = {}
    for d in reversed(dims):
        coords[d] = ((F.col("id") / stride).cast("long") % shape[d]).alias(d)
        stride *= shape[d]
    for d in PIXEL_DIMS:
        cols.append(coords.get(d, F.lit(0).cast("long").alias(d)))
    wave = (F.col("id") * 7919 + 13) % 65521
    if dtype == "uint8":
        v = wave % 256
    elif dtype == "uint16":
        v = wave
    else:
        v = wave * 0.37 - 9000.0
    df = spark.range(math.prod(shape.values())).select(*cols, v.cast("double").alias("v"))
    return NgffImage(
        data=df,
        dims=dims,
        shape=dict(shape),
        scale={d: 1.0 for d in dims},
        translation={d: 0.0 for d in dims},
        name="image",
        dtype=dtype,
    )


def _files(root: str, prefix: str) -> dict[str, bytes]:
    base = os.path.join(root, prefix)
    out = {}
    for dirpath, _, filenames in os.walk(base):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


@pytest.mark.parametrize("method,version,cps,dtype,geometry", CASES)
def test_level_job_matches_pixel_table_path(spark, tmp_path, method, version, cps, dtype, geometry):
    shape, chunks, factors = geometry
    zarr_format = 3 if version == "0.5" else 2
    new = str(tmp_path / "new.ome.zarr")
    old = str(tmp_path / "old.ome.zarr")
    img = _image(spark, shape, dtype)
    ms = to_multiscales(img, scale_factors=factors, method=method, chunks=chunks)
    to_ngff_zarr(new, ms, version=version, compressor="zstd", chunks_per_shard=cps)

    store = open_store(new)
    paths = [ds.path for ds in ms.metadata.datasets]
    assert len(paths) == 3
    previous = {d: 1 for d in factors[0]}
    for i in (1, 2):
        rel = {d: factors[i - 1][d] // previous[d] for d in factors[i - 1]}
        previous = factors[i - 1]
        src_meta = store.read_array_meta(paths[i - 1], zarr_format)
        dst_meta = store.read_array_meta(paths[i], zarr_format)
        dims = img.dims
        src = read_image(spark, new, paths[i - 1], zarr_format)
        write_image(
            METHODS[method](src, dict(zip(dims, src_meta.shape)), rel),
            old,
            paths[i],
            dict(zip(dims, dst_meta.shape)),
            dims,
            dict(zip(dims, dst_meta.chunks)),
            dtype=dtype,
            compressor="zstd",
            zarr_format=zarr_format,
            chunks_per_shard=(
                dict(zip(dims, dst_meta.chunks_per_shard))
                if dst_meta.chunks_per_shard
                else None
            ),
        )
        got, want = _files(new, paths[i]), _files(old, paths[i])
        assert want and sorted(got) == sorted(want)
        for key in want:
            assert got[key] == want[key], f"{paths[i]}/{key} differs"


def test_gaussian_levels_report_in_level_order(spark, tmp_path):
    shape, chunks, factors = ZYX
    ms = to_multiscales(_image(spark, shape, "uint16"), scale_factors=factors, chunks=chunks)
    fired = []
    for i, img in enumerate(ms.images):
        img.computed_callbacks.append(lambda i=i: fired.append(i))
    progress = NgffProgress()
    to_ngff_zarr(str(tmp_path / "p.ome.zarr"), ms, progress=progress)
    assert fired == [0, 1, 2]
    assert progress.events == [
        ("update", "scale0", 0, 3),
        ("update", "scale1", 1, 3),
        ("update", "scale2", 2, 3),
        ("done", 3),
    ]


def test_level_job_restores_the_callers_job_description(spark, tmp_path):
    shape, chunks, factors = ZYX
    ms = to_multiscales(_image(spark, shape, "uint16"), scale_factors=factors, chunks=chunks)
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        to_ngff_zarr(str(tmp_path / "j.ome.zarr"), ms)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
