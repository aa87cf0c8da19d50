"""Downsampling operators over the pixel table (SURVEY.md §2.3).

Each operator consumes/produces a pixel DataFrame ``(t, c, z, y, x, v)``
and is a pure declarative Catalyst plan:

- ``bin_shrink``       (A2/A5) — local mean over f-blocks: one hash
  aggregate; map-side partial aggregation makes this a single shuffle of
  ~1/f^3 the input volume. Parity: itkwasm/itk BinShrink
  (/root/reference py/ngff_zarr/methods/_itkwasm.py:63-81, _itk.py:129-211).
- ``nearest``          (A7) — stride subsample: a pure filter, fully
  pushed down to the scan when the source supports it (no shuffle at all).
  Parity: order-0 affine (methods/_dask_image.py:167-168).
- ``mode_downsample``  (A8) — per-block mode with smallest-value
  tie-break (np.unique argmax semantics, methods/_dask_image.py:153-166):
  two hash aggregates (block+value count, then max_by) — still only
  shuffle-bounded, no sort of the whole table.
- ``label_downsample`` (A3) — label-aware mode where each pixel's vote is
  weighted by its distance from the block center (approximation of
  itkwasm downsample_label_image's linear weighting,
  methods/_itkwasm.py:50-55); same two-aggregate shape as A8.

Floor-crop semantics: the reference floors the output shape
(methods/_support.py:215-230) so trailing partial blocks are DROPPED.
``crop_to_factor`` applies that crop; every operator calls it first.

Scale posture: all of these are single exchange-on-block-key plans. At
100 TB the aggregate keys (t, c, z/f, y/f, x/f) are near-uniform (dense
grid), so there is no skew; AQE coalesces the post-shuffle partitions.
When the input is chunk-aligned (plans/planner.aligned_chunks) a
chunk-grid repartition makes the aggregate shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIMS = ("t", "c", "z", "y", "x")
SPATIAL = ("z", "y", "x")


def _factors(factors: dict[str, int]) -> dict[str, int]:
    return {d: int(factors.get(d, 1)) for d in SPATIAL}


def crop_to_factor(df: DataFrame, shape: dict[str, int], factors: dict[str, int]) -> DataFrame:
    """Drop trailing partial blocks: keep coord < f * floor(n/f)."""
    f = _factors(factors)
    cond = None
    for d in SPATIAL:
        if f[d] > 1:
            limit = f[d] * (shape[d] // f[d])
            c = F.col(d) < limit
            cond = c if cond is None else (cond & c)
    return df.filter(cond) if cond is not None else df


def _block_cols(factors: dict[str, int]):
    f = _factors(factors)
    cols = [F.col("t"), F.col("c")]
    for d in SPATIAL:
        cols.append((F.col(d) / f[d]).cast("long").alias(d) if f[d] > 1 else F.col(d))
    return cols


def bin_shrink(df: DataFrame, shape: dict[str, int], factors: dict[str, int]) -> DataFrame:
    """Mean over each f-block → one groupBy aggregate. Output ``v`` is
    DOUBLE (the reference casts back to the input dtype at store-write
    time, which the sink handles)."""
    df = crop_to_factor(df, shape, factors)
    return (
        df.groupBy(*_block_cols(factors))
        .agg(F.avg("v").alias("v"))
    )


def nearest(df: DataFrame, shape: dict[str, int], factors: dict[str, int]) -> DataFrame:
    """Order-0 subsample: keep pixels at stride f, renumber coordinates.
    Catalyst pushes the modulo filter into the scan; zero shuffle."""
    f = _factors(factors)
    df = crop_to_factor(df, shape, factors)
    cond = None
    for d in SPATIAL:
        if f[d] > 1:
            c = (F.col(d) % f[d]) == 0
            cond = c if cond is None else (cond & c)
    if cond is not None:
        df = df.filter(cond)
    return df.select(
        "t", "c",
        *[(F.col(d) / f[d]).cast("long").alias(d) if f[d] > 1 else F.col(d) for d in SPATIAL],
        "v",
    )


def _mode_over_blocks(grouped_counts: DataFrame, weight_col: str) -> DataFrame:
    """Pick per-block argmax of (count, then smallest value wins ties).

    Implemented with ``max_by`` over a struct whose ordering encodes the
    tie-break: higher count first, then smaller v (negated for max
    ordering). Single aggregate, no window sort."""
    return grouped_counts.groupBy("t", "c", "z", "y", "x").agg(
        F.max_by("v", F.struct(F.col(weight_col), (-F.col("v")).alias("nv"))).alias("v")
    )


def mode_downsample(df: DataFrame, shape: dict[str, int], factors: dict[str, int]) -> DataFrame:
    """Per-block mode, ties → smallest value (np.unique argmax returns the
    first, i.e. smallest, of equally-frequent values).

    DELIBERATE DEVIATION from the reference's DASK_IMAGE_MODE window
    *placement*: the reference computes the mode over a centered sliding
    window at each strided sample point (generic_filter(size=f,
    mode='nearest') then order-0 affine at stride f — window
    [f*k - f//2, f*k + (f-1) - f//2] with edge replication,
    /root/reference py/ngff_zarr/methods/_dask_image.py:153-166), while
    this operator uses disjoint f-blocks [f*k, f*k + f). The tie-break
    (smallest value) matches; the window placement does not. The
    centered formulation is available as ``mode_downsample_centered``;
    this block form is kept as the default because disjoint blocks are a
    single hash aggregate (no window overlap duplication) and are the
    standard pyramid semantics of the other downsamplers."""
    df = crop_to_factor(df, shape, factors)
    counts = (
        df.groupBy(*_block_cols(factors), F.col("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _mode_over_blocks(counts, "cnt")


def _window_map(spark, n: int, f: int) -> DataFrame:
    """Per-dim centered-window source map: (src, out, mult) rows where
    output cell ``out`` samples input coordinate ``src`` with
    multiplicity ``mult`` (edge clamping can hit the same source more
    than once). Exactly generic_filter(size=f, mode='nearest') at
    stride f: offsets d in [-(f//2), f-1-f//2], src = clamp(out*f+d).
    Tiny table (n//f * f rows) — always broadcast."""
    n_out = n // f
    half = f // 2
    m = (
        spark.range(n_out * f)
        .select(
            F.expr(f"id div {f}").alias("out"),
            (F.col("id") % f - half).alias("d"),
        )
        .select(
            "out",
            F.greatest(F.lit(0), F.least(F.lit(n - 1), F.col("out") * f + F.col("d"))).alias("src"),
        )
        .groupBy("src", "out")
        .agg(F.count(F.lit(1)).alias("mult"))
    )
    return m


def mode_downsample_centered(
    df: DataFrame, shape: dict[str, int], factors: dict[str, int]
) -> DataFrame:
    """A8 with the reference's exact window placement: mode over a
    centered sliding window at each strided sample point
    (generic_filter(size=f, mode='nearest') then order-0 affine at
    stride f, /root/reference py/ngff_zarr/methods/_dask_image.py:153-166).
    Ties → smallest value (np.unique argmax).

    Plan shape: one broadcast join per downsampled spatial dim against a
    tiny per-dim (src → out, mult) window map — the window is separable
    as a cross product of per-dim source sets — then a weighted mode
    aggregate. No all-pairs, no window sort; the only shuffle is the
    final block aggregate."""
    f = _factors(factors)
    spark = df.sparkSession
    out = df
    weight = F.lit(1)
    for d in SPATIAL:
        if f[d] <= 1:
            continue
        wm = _window_map(spark, shape[d], f[d]).select(
            F.col("src").alias(d), F.col("out").alias(f"_out_{d}"), F.col("mult").alias(f"_m_{d}")
        )
        out = out.join(F.broadcast(wm), d)
        weight = weight * F.col(f"_m_{d}")
    sel = [F.col("t"), F.col("c")]
    for d in SPATIAL:
        sel.append(F.col(f"_out_{d}").alias(d) if f[d] > 1 else F.col(d))
    counts = (
        out.select(*sel, "v", weight.alias("w"))
        .groupBy("t", "c", "z", "y", "x", "v")
        .agg(F.sum("w").alias("wsum"))
    )
    return _mode_over_blocks(counts, "wsum")


def label_downsample(
    df: DataFrame, shape: dict[str, int], factors: dict[str, int]
) -> DataFrame:
    """A3 — port of the algorithm behind the reference's itkwasm
    ``downsample_label_image`` call (/root/reference
    py/ngff_zarr/methods/_itkwasm.py:50-55): ITK's generic label
    interpolator with LINEAR weighting (Schaerer/Tustison et al., "A
    generic interpolator for multi-label images", the published
    algorithm the wasm module wraps). Per label L, linearly interpolate
    the indicator image 1{v==L} at the output sample position and take
    the argmax label; ties → smallest label.

    The resample geometry places output voxel k's sample point at input
    index ``f*k + (f-1)/2`` (the same pixel-center law the metadata
    translation propagation C2 encodes). The linear kernel at that
    point collapses to the per-dim floor/ceil center voxels:

    - f odd  → one voxel at offset (f-1)/2, weight 1;
    - f even → two voxels at offsets f/2-1 and f/2, weight 0.5 each.

    All per-dim weights within the sample support are EQUAL, so the
    argmax over products of 0.5s equals an integer vote count over the
    2^(even dims) center voxels — exact cross-engine arithmetic. Every
    contributing voxel lies inside the output block, so the plan is a
    center-voxel filter (pushed to the scan) + ONE block hash
    aggregate: no halo exchange, single shuffle, and the filter drops
    all but 2/f of the rows per downsampled dim before the exchange."""
    f = _factors(factors)
    df = crop_to_factor(df, shape, factors)
    cond = None
    for d in SPATIAL:
        if f[d] > 1:
            off = F.col(d) % f[d]
            c = off.isin([(f[d] - 1) // 2, f[d] // 2])
            cond = c if cond is None else (cond & c)
    if cond is not None:
        df = df.filter(cond)
    counts = (
        df.groupBy(*_block_cols(factors), F.col("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    return _mode_over_blocks(counts, "votes")
