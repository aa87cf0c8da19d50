"""Chunk-local Arrow kernels with halo exchange (SURVEY.md O6/J1).

The reference executes its Gaussian with per-chunk ``map_overlap``
kernels — each chunk is processed with ``depth=kernel_radius`` borrowed
from its neighbors (/root/reference py/ngff_zarr/methods/_itkwasm.py:202-216,
_itk.py:299-331). This module is the Spark equivalent: pixels within the
kernel radius of a chunk boundary are replicated to the neighboring
chunk groups (a per-axis ``explode`` over the 1-3 chunk ids whose halo
box contains the pixel), then ONE ``applyInPandas`` pass runs the whole
separable convolution chunk-locally in vectorized numpy and emits the
already-downsampled output.

Why this beats the window-function form at scale: the window plan is one
full exchange+sort of the ENTIRE pixel table per axis (3 shuffles, sort
keys = every grid line); this plan is a single shuffle of ~1.3x the
input (the halo duplication factor at radius 3 / chunk 64) into
chunk-count groups, with all arithmetic inside one Arrow batch per
chunk. The window form (operators/gaussian.py) remains the
SQL-checkable oracle semantics; with ``fixed_point_bits`` both paths do
identical integer arithmetic, so their outputs are bit-equal — which is
exactly what the a1_gaussian gate entry checks.

``gaussian_block`` is the one numpy Gaussian: this kernel calls it per
chunk group, and the pyramid level job (ome_zarr_api.
write_gaussian_level) calls it per output chunk or shard, with the halo
read from the stored previous level instead of shuffled.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


SPATIAL = ("z", "y", "x")
ALL_DIMS = ("t", "c", "z", "y", "x")

DEFAULT_KERNEL_CHUNK = 64


def _conv1d_valid(a: np.ndarray, w: list, axis: int) -> np.ndarray:
    """'valid' separable 1-D convolution along ``axis`` with a symmetric
    kernel given as half weights [w0, w1..wr]; output extent shrinks by
    2r along that axis. Pure slicing sums — vectorized, no Python loop
    over pixels."""
    r = len(w) - 1
    n = a.shape[axis] - 2 * r

    def sl(s):
        return tuple(s if i == axis else slice(None) for i in range(a.ndim))

    out = w[0] * a[sl(slice(r, r + n))]
    for k in range(1, r + 1):
        out = out + w[k] * (a[sl(slice(r - k, r - k + n))] + a[sl(slice(r + k, r + k + n))])
    return out


def gaussian_weights(
    factors: dict[str, int],
    kind: str = "sampled",
    truncate: float = 4.0,
    fixed_point_bits: Optional[int] = None,
) -> dict[str, list]:
    """Half kernel per spatial dim that shrinks (factor > 1), at the
    sigma the shrink factor implies; dims that keep their size are not
    blurred and get no entry."""
    from ..plans.planner import compute_sigma
    from .gaussian import kernel_weights

    spatial = [d for d in SPATIAL if factors.get(d, 1) > 1]
    sigmas = compute_sigma([factors[d] for d in spatial])
    return {
        d: kernel_weights(s, kind, truncate, fixed_point_bits)
        for d, s in zip(spatial, sigmas)
    }


def gaussian_block(
    block: np.ndarray,
    pad: tuple,
    passes: list[tuple[int, list]],
    sample: tuple,
) -> np.ndarray:
    """The numpy Gaussian downsample of one block: edge-replicate
    ``pad`` ((before, after) per axis — the part of the kernel support
    that lies outside the image, 'nearest' boundary), run the 'valid'
    1-D convolution for each ``(axis, half weights)`` of ``passes`` in
    the given order (z→y→x, the window form's order, so the float
    operations are the same sequence), then take ``sample`` (one slice
    per axis). Keeps the dtype of ``block``: float64 for the production
    path, int64 for fixed-point weights."""
    if any(p != (0, 0) for p in pad):
        block = np.pad(block, pad, mode="edge")
    for axis, w in passes:
        block = _conv1d_valid(block, w, axis)
    return block[sample]


def gaussian_downsample_chunked(
    df: DataFrame,
    shape: dict[str, int],
    factors: dict[str, int],
    chunks: Optional[dict[str, int]] = None,
    fixed_point_bits: Optional[int] = None,
    truncate: float = 4.0,
    kernel_weights_kind: str = "sampled",
) -> DataFrame:
    """A1/A4/A6 production path: chunk-local separable Gaussian blur +
    stride subsample via ``applyInPandas`` with halo replication.

    Semantics are identical to operators.gaussian.gaussian_downsample
    (same sigma/radius/weights, 'nearest' edge replication, floor-crop,
    z→y→x pass order); with ``fixed_point_bits`` the integer arithmetic
    is bit-identical, which the a1_gaussian oracle verifies.
    """
    weights = gaussian_weights(factors, kernel_weights_kind, truncate, fixed_point_bits)
    radii = {d: len(w) - 1 for d, w in weights.items()}
    out_type = "long" if fixed_point_bits is not None else "double"

    chunks = dict(chunks or {})
    for d in SPATIAL:
        chunks.setdefault(d, min(DEFAULT_KERNEL_CHUNK, max(1, shape.get(d, 1))))
    grid = {d: -(-shape.get(d, 1) // chunks[d]) for d in SPATIAL}

    # halo replication: pixel x joins every chunk whose halo box
    # [ck*C - r, (ck+1)*C + r) contains it → ck in
    # [max(0, (x-r) div C), min(grid-1, (x+r) div C)]
    out = df
    for d in SPATIAL:
        c, g = chunks[d], grid[d]
        r = radii.get(d, 0)
        if r > 0:
            seq = F.sequence(
                F.greatest(F.lit(0), F.expr(f"({d} - {r}) div {c}")),
                F.least(F.lit(g - 1), F.expr(f"({d} + {r}) div {c}")),
            )
            out = out.withColumn(f"_ck_{d}", F.explode(seq))
        else:
            out = out.withColumn(f"_ck_{d}", F.expr(f"{d} div {c}"))

    shp = {d: int(shape.get(d, 1)) for d in ALL_DIMS}
    fac = {d: int(factors.get(d, 1)) for d in SPATIAL}
    ck = {d: int(chunks[d]) for d in SPATIAL}
    rad = {d: int(radii.get(d, 0)) for d in SPATIAL}
    passes = [(axis, weights[d]) for axis, d in enumerate(SPATIAL) if d in weights]
    np_dtype = np.int64 if fixed_point_bits is not None else np.float64

    # pack the shuffle rows: group key g = flat (t, c, chunk idx), pixel
    # key p = flat global (z, y, x). 3 long columns instead of 9 — the
    # exchange + Arrow transfer is the dominant cost of this plan, so a
    # 3x narrower row is a direct wall-clock win.
    grz, gry, grx = grid["z"], grid["y"], grid["x"]
    nc = shp["c"]
    ny, nx = shp["y"], shp["x"]
    gcol = (
        (((F.col("t") * nc + F.col("c")) * grz + F.col("_ck_z")) * gry + F.col("_ck_y")) * grx
        + F.col("_ck_x")
    )
    pcol = (F.col("z") * ny + F.col("y")) * nx + F.col("x")
    out = out.select(gcol.alias("g"), pcol.alias("p"), "v")

    import pyarrow as pa

    def kernel(tbl: pa.Table) -> pa.Table:
        gval = int(tbl["g"][0].as_py())
        gv, cx0 = divmod(gval, grx)
        gv, cy0 = divmod(gv, gry)
        gv, cz0 = divmod(gv, grz)
        t0, c0 = divmod(gv, nc)
        cidx = {"z": cz0, "y": cy0, "x": cx0}
        core = {d: (cidx[d] * ck[d], min(shp[d], (cidx[d] + 1) * ck[d])) for d in SPATIAL}
        lo = {d: max(0, core[d][0] - rad[d]) for d in SPATIAL}
        hi = {d: min(shp[d], core[d][1] + rad[d]) for d in SPATIAL}
        dims_ext = tuple(hi[d] - lo[d] for d in SPATIAL)
        arr = np.zeros(dims_ext, dtype=np_dtype)
        p = tbl["p"].to_numpy()
        pz, prem = np.divmod(p, ny * nx)
        py, px = np.divmod(prem, nx)
        arr[pz - lo["z"], py - lo["y"], px - lo["x"]] = tbl["v"].to_numpy().astype(np_dtype)
        # 'nearest' edge replication where the halo would extend past the
        # image bounds (everywhere else the halo is real neighbor data);
        # after the valid convolution the block spans exactly the chunk
        # core, which is stride-subsampled with floor-crop (trailing
        # partial blocks dropped)
        pad = tuple(
            (rad[d] - (core[d][0] - lo[d]), rad[d] - (hi[d] - core[d][1])) for d in SPATIAL
        )
        sample = []
        out_coords = []
        for d in SPATIAL:
            f = fac[d]
            start, stop = core[d]
            g0 = -(-start // f) * f  # first multiple of f >= start
            g1 = min(stop, f * (shp[d] // f))
            sample.append(slice(g0 - start, max(g0, g1) - start, f))
            out_coords.append(np.arange(g0, g1, f) // f)
        sub = gaussian_block(arr, pad, passes, tuple(sample))
        gz, gy, gx = np.meshgrid(*out_coords, indexing="ij")
        n = sub.size
        return pa.table(
            {
                "t": np.full(n, t0, dtype=np.int64),
                "c": np.full(n, c0, dtype=np.int64),
                "z": gz.ravel().astype(np.int64),
                "y": gy.ravel().astype(np.int64),
                "x": gx.ravel().astype(np.int64),
                "v": sub.ravel(),
            }
        )

    schema = f"t long, c long, z long, y long, x long, v {out_type}"
    # applyInArrow (not applyInPandas): pyarrow→numpy is near-zero-copy,
    # skipping the pandas block manager halves the Python-side overhead
    return out.groupBy("g").applyInArrow(kernel, schema)
