"""Seeded inputs and the numpy truths the benchmark checks outputs against.

Everything here is pure numpy: the same seed gives the same volumes and
the same ROI sequence, and no function touches Spark. The Gaussian
pyramid reference is written from the published definitions (ITK's
discrete Gaussian, nearest-edge replication, stride subsampling,
truncation to the stored integer type) without importing the engine's
operator code, so a wrong operator cannot agree with it by sharing code.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

MAX_12BIT = 4095


def smooth_volume(rng: np.random.Generator, shape: tuple[int, ...]) -> np.ndarray:
    """Smooth 12-bit content with sensor-like noise, as uint16.

    A background plus a few separable Gaussian blobs (cells, nuclei)
    and normal noise: realistic compression ratios, unlike uniform
    noise, which no codec can shrink."""
    axes = [np.arange(n, dtype=np.float64) for n in shape]
    field = np.full(shape, 300.0)
    for _ in range(6):
        amp = rng.uniform(600.0, 1400.0)
        blob = None
        for a, n in zip(axes, shape):
            centre = rng.uniform(0.0, n)
            sigma = rng.uniform(0.15, 0.4) * n
            prof = np.exp(-((a - centre) ** 2) / (2.0 * sigma * sigma))
            blob = prof if blob is None else np.multiply.outer(blob, prof)
        field += amp * blob
    field += rng.normal(0.0, 25.0, size=shape)
    return np.clip(np.rint(field), 0, MAX_12BIT).astype(np.uint16)


# -- Gaussian pyramid reference (ITKWASM_GAUSSIAN semantics) -------------


def _bessel_i(order: int, t: float, terms: int = 60) -> float:
    """Modified Bessel function of the first kind, I_order(t), by its
    power series sum_m (t/2)^(2m+order) / (m! (m+order)!)."""
    half = t / 2.0
    return sum(
        half ** (2 * m + order) / (math.factorial(m) * math.factorial(m + order))
        for m in range(terms)
    )


def itk_half_kernel(factor: int, max_error: float = 0.01, max_width: int = 32) -> list[float]:
    """ITK DiscreteGaussian half-kernel [w0, w1, ...] for one shrink
    factor: sigma^2 = (f^2 - 1) / (8 ln 2), coefficients exp(-t) I_k(t)
    with t = sigma^2, widened until their mass reaches 1 - max_error
    (at most max_width taps), then renormalised."""
    t = (factor * factor - 1.0) / (8.0 * math.log(2.0))
    coeffs = [math.exp(-t) * _bessel_i(0, t)]
    mass = coeffs[0]
    k = 1
    while mass < 1.0 - max_error and 2 * k + 1 <= max_width:
        c = math.exp(-t) * _bessel_i(k, t)
        coeffs.append(c)
        mass += 2.0 * c
        k += 1
    return [c / mass for c in coeffs]


def gaussian_level(src: np.ndarray, factor: int = 2) -> np.ndarray:
    """One pyramid step: separable blur along each axis in order with
    nearest-edge replication, then keep every ``factor``-th sample of
    the whole blocks and truncate to the source dtype (what the store
    writer's cast does)."""
    v = src.astype(np.float64)
    w = itk_half_kernel(factor)
    r = len(w) - 1
    for axis in range(v.ndim):
        pad = [(0, 0)] * v.ndim
        pad[axis] = (r, r)
        padded = np.pad(v, pad, mode="edge")
        n = v.shape[axis]

        def shifted(k: int) -> np.ndarray:
            return np.take(padded, np.arange(r + k, r + k + n), axis=axis)

        acc = w[0] * v
        for k in range(1, r + 1):
            acc = acc + w[k] * (shifted(-k) + shifted(k))
        v = acc
    keep = tuple(slice(0, factor * (n // factor), factor) for n in v.shape)
    return v[keep].astype(src.dtype)


def mean_pyramid(level0: np.ndarray, levels: int) -> list[np.ndarray]:
    """2x block-mean pyramid, rounded to the source dtype: the truth
    levels the ROI store is built from."""
    out = [level0]
    for _ in range(levels - 1):
        src = out[-1]
        z, y, x = (n // 2 for n in src.shape)
        blocks = src[: 2 * z, : 2 * y, : 2 * x].astype(np.float64)
        blocks = blocks.reshape(z, 2, y, 2, x, 2).mean(axis=(1, 3, 5))
        out.append(np.rint(blocks).astype(src.dtype))
    return out


# -- ROI sequence --------------------------------------------------------


@dataclass(frozen=True)
class Roi:
    level: int
    lo: tuple[int, int, int]
    hi: tuple[int, int, int]
    revisit: bool

    @property
    def shape(self) -> tuple[int, ...]:
        return tuple(h - l for l, h in zip(self.lo, self.hi))

    @property
    def voxels(self) -> int:
        return math.prod(self.shape)


def roi_size_classes(chunk: int) -> list[tuple[int, int, int]]:
    """Sub-chunk, about one chunk (unaligned, so it straddles up to
    eight), and multi-chunk ROI extents."""
    return [
        (chunk // 2, chunk // 2, chunk // 2),
        (chunk, chunk, chunk),
        (2 * chunk, 3 * chunk, 3 * chunk),
    ]


def roi_sequence(
    rng: np.random.Generator,
    level_shapes: list[tuple[int, int, int]],
    chunk: int,
    cycles: int,
) -> list[Roi]:
    """``cycles`` cycles of ROIs; each cycle visits every (level, size
    class) pair once, in a seeded order, as a fresh ROI at a uniform
    position followed by a viewer pan of it: same level and size,
    shifted by a quarter of its extent in y and x, so it revisits chunks
    the previous read touched. Every cycle holds the same mix."""
    pairs = [(lv, s) for lv in range(len(level_shapes)) for s in roi_size_classes(chunk)]
    out: list[Roi] = []
    for _ in range(cycles):
        for i in rng.permutation(len(pairs)):
            level, size = pairs[i]
            shape = level_shapes[level]
            ext = tuple(min(s, d) for s, d in zip(size, shape))
            lo = tuple(int(rng.integers(0, d - e + 1)) for d, e in zip(shape, ext))
            fresh = Roi(level, lo, tuple(l + e for l, e in zip(lo, ext)), False)
            step = [0, max(1, ext[1] // 4), max(1, ext[2] // 4)]
            pan_lo = []
            for axis, (l, e, d) in enumerate(zip(lo, ext, shape)):
                moved = l + int(rng.choice([-1, 1])) * step[axis]
                pan_lo.append(min(max(moved, 0), d - e))
            pan = Roi(level, tuple(pan_lo), tuple(l + e for l, e in zip(pan_lo, ext)), True)
            out.extend([fresh, pan])
    return out


def chunks_touched(roi: Roi, chunk_shape: tuple[int, ...]) -> int:
    """Chunks of the level's grid the ROI box intersects."""
    return math.prod(
        (h - 1) // c - l // c + 1 for l, h, c in zip(roi.lo, roi.hi, chunk_shape)
    )
